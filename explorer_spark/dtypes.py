"""Explorer-style dtype system mapped onto Spark SQL types.

The reference fixes a schema per frame and tracks a dtype per column
(reference: lib/explorer/shared.ex:7-47, lib/explorer/series.ex:15-56).
Dtypes here use the same notation: strings for atoms (``"string"``,
``"boolean"``, ...) and tuples for parameterized types (``("s", 64)``,
``("f", 32)``, ``("decimal", 38, 10)``, ``("list", inner)``,
``("struct", [(name, dtype), ...])``, ``("naive_datetime", "us")``,
``("datetime", "us", "Etc/UTC")``, ``("duration", "us")``).

Spark has no unsigned ints, no time-of-day, and µs-only timestamps, so
unsigned types promote to the next wider signed type (u64 →
decimal(20,0)), ``"time"`` is carried as nanoseconds-since-midnight in a
LongType column, and ns timestamps/durations carry their precision in the
wrapper while storing µs/int64 physically — the same logical-over-physical
trick the reference plays for categories (dictionary codes over strings).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# dtype values
# ---------------------------------------------------------------------------

ATOMS = {
    "boolean",
    "string",
    "binary",
    "category",
    "date",
    "time",
    "null",
}

_ALIASES = {
    "integer": ("s", 64),
    "float": ("f", 64),
    "naive_datetime": ("naive_datetime", "us"),
    "duration": ("duration", "us"),
}


def normalize(dtype):
    """Normalize aliases the way the reference does (shared.ex:52-114),
    including the short atoms ``:s32/:u16/:f64`` etc."""
    if isinstance(dtype, str):
        if dtype in _ALIASES:
            return _ALIASES[dtype]
        m = re.fullmatch(r"([suf])(8|16|32|64)", dtype)
        if m:
            return (m.group(1), int(m.group(2)))
    return dtype


def is_numeric(dtype) -> bool:
    if isinstance(dtype, tuple) and dtype[0] in ("s", "u", "f", "decimal"):
        return True
    return False


def is_integer(dtype) -> bool:
    return isinstance(dtype, tuple) and dtype[0] in ("s", "u")


def is_float(dtype) -> bool:
    return isinstance(dtype, tuple) and dtype[0] == "f"


_UNIT_SHORT = {"second": "s", "millisecond": "ms", "microsecond": "us", "nanosecond": "ns"}

# µs per unit of a temporal precision: storage is physically µs (ns is
# logical only, a thousandth of the physical unit)
US_PER_UNIT = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 0.001}


def unit_of(d) -> str:
    """Short precision unit ("s"/"ms"/"us"/"ns") of a unit name or of a
    naive_datetime/datetime/duration dtype (µs when it names none)."""
    if isinstance(d, tuple):
        d = d[1] if len(d) > 1 else "us"
    return _UNIT_SHORT.get(d, d)


def list_leaf(d):
    """Innermost element dtype of a (possibly nested) list dtype."""
    d = normalize(d)
    while isinstance(d, tuple) and d[0] == "list":
        d = normalize(d[1])
    return d


def check_tz(tz: str) -> None:
    """Eager zone validation (the reference raises ArgumentError for an
    unknown zone at cast time, not lazily at execution)."""
    from zoneinfo import ZoneInfo

    try:
        ZoneInfo(tz)
    except (KeyError, ValueError, OSError, TypeError):
        raise ValueError(f"unknown time zone {tz!r}") from None


def time_to_ns(t) -> int:
    """datetime.time -> the engine's physical :time rendering
    (nanoseconds since midnight). The single definition every literal
    boundary uses (lit/_c/isin/index_of/from_list/member)."""
    return ((t.hour * 3600 + t.minute * 60 + t.second) * 1_000_000 + t.microsecond) * 1_000


# ---------------------------------------------------------------------------
# Explorer dtype -> Spark DataType
# ---------------------------------------------------------------------------


def to_spark(dtype) -> T.DataType:
    dtype = normalize(dtype)
    if isinstance(dtype, str):
        return {
            "boolean": T.BooleanType(),
            "string": T.StringType(),
            "binary": T.BinaryType(),
            "category": T.StringType(),
            "date": T.DateType(),
            "time": T.LongType(),  # nanos since midnight
            "null": T.NullType(),
        }[dtype]
    kind = dtype[0]
    if kind == "s":
        return {8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()}[dtype[1]]
    if kind == "u":
        # promote: Spark has no unsigned — next wider signed, u64 -> decimal(20,0)
        return {8: T.ShortType(), 16: T.IntegerType(), 32: T.LongType(), 64: T.DecimalType(20, 0)}[dtype[1]]
    if kind == "f":
        return T.FloatType() if dtype[1] == 32 else T.DoubleType()
    if kind == "decimal":
        return T.DecimalType(dtype[1], dtype[2])
    if kind == "naive_datetime":
        return T.TimestampNTZType()  # us precision; ms/ns tracked logically
    if kind == "datetime":
        return T.TimestampType()
    if kind == "duration":
        return T.LongType()  # count of `precision` units
    if kind == "list":
        return T.ArrayType(to_spark(dtype[1]))
    if kind == "struct":
        return T.StructType([T.StructField(name, to_spark(inner)) for name, inner in dtype[1]])
    if kind == "map":
        # Spark-extra: the reference has no map dtype (SURVEY §1.2); we
        # pass MapType columns through rather than reject them
        return T.MapType(to_spark(dtype[1]), to_spark(dtype[2]))
    raise ValueError(f"unknown dtype: {dtype!r}")


# ---------------------------------------------------------------------------
# Spark DataType -> Explorer dtype (used at scan time for df.dtypes)
# ---------------------------------------------------------------------------


def from_spark(st: T.DataType):
    if isinstance(st, T.BooleanType):
        return "boolean"
    if isinstance(st, T.StringType):
        return "string"
    if isinstance(st, T.BinaryType):
        return "binary"
    if isinstance(st, T.DateType):
        return "date"
    if isinstance(st, T.ByteType):
        return ("s", 8)
    if isinstance(st, T.ShortType):
        return ("s", 16)
    if isinstance(st, T.IntegerType):
        return ("s", 32)
    if isinstance(st, T.LongType):
        return ("s", 64)
    if isinstance(st, T.FloatType):
        return ("f", 32)
    if isinstance(st, T.DoubleType):
        return ("f", 64)
    if isinstance(st, T.DecimalType):
        return ("decimal", st.precision, st.scale)
    if isinstance(st, T.TimestampNTZType):
        return ("naive_datetime", "us")
    if isinstance(st, T.TimestampType):
        return ("datetime", "us", "Etc/UTC")
    if isinstance(st, T.DayTimeIntervalType):
        return ("duration", "us")
    if hasattr(T, "TimeType") and isinstance(st, T.TimeType):
        # Spark 4.1+ native time-of-day; the engine's own time columns are
        # ns-longs (see to_spark), but a scanned TimeType column should
        # still introspect as :time rather than raise
        return "time"
    if isinstance(st, T.ArrayType):
        return ("list", from_spark(st.elementType))
    if isinstance(st, T.StructType):
        return ("struct", [(f.name, from_spark(f.dataType)) for f in st.fields])
    if isinstance(st, T.MapType):
        return ("map", from_spark(st.keyType), from_spark(st.valueType))
    if isinstance(st, T.NullType):
        return "null"
    raise ValueError(f"unmapped Spark type: {st!r}")


# ---------------------------------------------------------------------------
# numeric promotion (reference: series.ex:96-113)
# ---------------------------------------------------------------------------


def merge_numeric(a, b):
    """Result dtype of arithmetic between two numeric dtypes.

    Same family -> wider wins; unsigned+signed -> signed at 2x width
    (capped 64); int+float -> the float dtype.
    """
    a, b = normalize(a), normalize(b)
    if a == b:
        return a
    fa, fb = a[0], b[0]
    if "f" in (fa, fb):
        if fa == "f" and fb == "f":
            return ("f", max(a[1], b[1]))
        return a if fa == "f" else b
    if "decimal" in (fa, fb):
        return a if fa == "decimal" else b
    if fa == fb:
        return (fa, max(a[1], b[1]))
    # unsigned + signed
    u = a if fa == "u" else b
    s = a if fa == "s" else b
    return ("s", min(64, max(s[1], u[1] * 2)))


def merge_dtype(a, b):
    """Dtype unification for concat_rows (reference data_frame.ex:5762-5806)."""
    a, b = normalize(a), normalize(b)
    if a == b:
        return a
    if a == "null":
        return b
    if b == "null":
        return a
    if is_numeric(a) and is_numeric(b):
        return merge_numeric(a, b)
    if isinstance(a, tuple) and isinstance(b, tuple) and a[0] == b[0] == "list":
        return ("list", merge_dtype(a[1], b[1]))
    if "category" in (a, b) and "string" in (a, b):
        return "string"
    raise ValueError(f"cannot merge dtypes {a!r} and {b!r}")
