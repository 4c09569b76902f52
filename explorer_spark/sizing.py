"""Catalyst's size estimate: the one input the size-gated kernels read."""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException

# Catalyst reports unknown statistics (RDD-backed plans and checkpoints of
# them, joins whose estimate overflows) as the defaultSizeInBytes sentinel
# near Long.MaxValue; an estimate this large is never a real frame's size
_UNKNOWN_BYTES = 1 << 50


def estimate_bytes(sdf) -> int | None:
    """Catalyst's column-pruned size estimate of ``sdf`` in bytes, or None
    when its statistics are unknown. Plans the frame; runs no job."""
    try:
        est = int(sdf._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except (CapturedException, Py4JError):
        return None
    return est if 0 < est < _UNKNOWN_BYTES else None
