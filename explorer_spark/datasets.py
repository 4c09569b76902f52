"""Built-in demo datasets (reference lib/explorer/datasets.ex): the
fossil_fuels / wine / iris CSVs the reference ships for its doctests.

The CSV files themselves are NOT vendored into this repo — they are
public UCI/CDIAC data distributed with the reference; set
``SPARK_GRAFT_DATASETS_DIR`` (default ``/root/reference/datasets``) to a
directory containing ``fossil_fuels.csv`` / ``wine.csv`` / ``iris.csv``.
Raises :class:`DatasetNotFound` (a FileNotFoundError) with a pointer
when the CSV is absent, so callers (and the doctest replay suite) can
skip cleanly.

Frames are cached per (name, session) like the reference's
:persistent_term cache (datasets.ex:60-75) — these are driver-side demo
tables, not scale-path inputs.
"""

from __future__ import annotations

import os

from .sources import read_csv

_DIR_ENV = "SPARK_GRAFT_DATASETS_DIR"
_DEFAULT_DIR = "/root/reference/datasets"

_CACHE: dict = {}


class DatasetNotFound(FileNotFoundError):
    """A demo dataset's CSV is not in the datasets directory."""


def _read(name: str, spark=None):
    base = os.environ.get(_DIR_ENV, _DEFAULT_DIR)
    path = os.path.join(base, f"{name}.csv")
    if not os.path.exists(path):
        raise DatasetNotFound(
            f"dataset csv not found: {path} — set ${_DIR_ENV} to a directory "
            "with the reference's datasets/*.csv"
        )
    key = (name, id(spark))
    if key not in _CACHE:
        _CACHE[key] = read_csv(path, spark=spark)
    return _CACHE[key]


def fossil_fuels(spark=None):
    """CO2 emissions from fossil fuels since 2010, by country
    (reference datasets.ex:27)."""
    return _read("fossil_fuels", spark=spark)


def wine(spark=None):
    """Wine chemical-analysis dataset (reference datasets.ex:43)."""
    return _read("wine", spark=spark)


def iris(spark=None):
    """Anderson/Fisher iris dataset (reference datasets.ex:58)."""
    return _read("iris", spark=spark)
