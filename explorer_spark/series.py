"""Series: the 1-D column abstraction (reference lib/explorer/series.ex).

A Series is a named single-column DataFrame plus the expression
vocabulary as methods. Construction from Python lists materializes
through Arrow; all operations stay lazy/distributed — unlike the
reference's eager ``Series.transform`` (which round-trips the BEAM,
polars_backend/series.ex:676-681), ``transform`` here is an Arrow-batched
pandas UDF.
"""

from __future__ import annotations

import math
from typing import Callable

import pandas as pd
from pyspark.sql import functions as F

from . import dtypes as dt
from .expr import Expr, LowerCtx, col, lit
from .frame import ORDER_COL, DataFrame


def _timedelta_count(v, d) -> int:
    """A python timedelta as the count of duration dtype ``d``'s unit."""
    us = v.days * 86_400_000_000 + v.seconds * 1_000_000 + v.microseconds
    return int(us / dt.US_PER_UNIT[dt.unit_of(d)])


def _list_leaf_kind(d) -> str | None:
    leaf = dt.list_leaf(d)
    if leaf == "time":
        return "time"
    if isinstance(leaf, tuple) and leaf[0] == "duration":
        return "duration"
    return None


def _list_counts_shape(d):
    """The same list shape with time/duration leaves as count longs."""
    if isinstance(d, tuple) and d[0] == "list":
        return ("list", _list_counts_shape(d[1]))
    if d == "time" or (isinstance(d, tuple) and d[0] == "duration"):
        return ("s", 64)
    return d


def _stamp_col_meta(s: "Series", meta: dict) -> "Series":
    """Record logical dtype parameters as column metadata (read by
    frame.dtypes): ``dur_p`` = duration precision, ``dt_p`` =
    naive_datetime/datetime logical precision (physical storage is µs,
    SURVEY §1.2), ``tz`` = datetime time zone. BEST-EFFORT: metadata
    survives only direct casts — any derived expression (arithmetic,
    fill, shift) reverts the column to the physical µs/UTC reading, and
    dtype introspection + later integer casts consistently follow THAT
    (both report/count µs), so degradation is visible, never silently
    mismatched."""
    sdf = s._frame._sdf.withMetadata(s.name, meta)
    return Series(s._frame._replace(sdf, has_order=s._frame._has_order), s.name)


def _nested_special_float(values) -> bool:
    """True when a NaN/Inf hides inside a nested (dict/list) value —
    the regime where Spark's pandas ingestion would launder it to nil."""
    import math

    def walk(v, depth):
        if isinstance(v, float):
            return depth > 0 and (math.isnan(v) or math.isinf(v))
        if isinstance(v, dict):
            return any(walk(x, depth + 1) for x in v.values())
        if isinstance(v, (list, tuple)):
            return any(walk(x, depth + 1) for x in v)
        return False

    return any(walk(v, 0) for v in values)


def _infer_nested_dtype(values):
    """Python values -> dtype, the reference's dtype_from_list! rules
    (shared.ex) for nested data: struct fields infer field-wise over all
    rows, lists over the flattened elements, int+float promotes to f64,
    NaN/Inf are f64 VALUES. Used only on the special-float path — the
    broad nested path keeps Spark's sampling inference."""
    import datetime as _dtm
    from decimal import Decimal as _D

    flat = [v for v in values if v is not None]
    if not flat:
        return "null"
    v0 = flat[0]
    if isinstance(v0, dict):
        fields = []
        for k in v0.keys():
            fields.append((k, _infer_nested_dtype([d.get(k) for d in flat])))
        return ("struct", fields)
    if isinstance(v0, (list, tuple)):
        return ("list", _infer_nested_dtype([x for lst in flat for x in lst]))
    if isinstance(v0, bool):
        return "boolean"
    if all(isinstance(v, int) and not isinstance(v, bool) for v in flat):
        return ("s", 64)
    if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in flat):
        return ("f", 64)
    if isinstance(v0, _D):
        scales = [max(-v.as_tuple().exponent, 0) for v in flat if isinstance(v, _D)]
        return ("decimal", 38, max(scales, default=0))
    if isinstance(v0, str):
        return "string"
    if isinstance(v0, (bytes, bytearray)):
        return "binary"
    if isinstance(v0, _dtm.datetime):
        return ("naive_datetime", "us") if v0.tzinfo is None else ("datetime", "us", "Etc/UTC")
    if isinstance(v0, _dtm.date):
        return "date"
    raise ValueError(f"cannot infer nested dtype from {v0!r}")


def _coerce_nested(v, dtype):
    """Promote python ints to floats where the inferred nested dtype
    says f64 (the typed row converter doesn't coerce)."""
    if v is None:
        return None
    if isinstance(dtype, tuple) and dtype[0] == "f":
        return float(v)
    if isinstance(dtype, tuple) and dtype[0] == "struct":
        fields = dict(dtype[1])
        return {k: _coerce_nested(x, fields.get(k)) for k, x in v.items()}
    if isinstance(dtype, tuple) and dtype[0] == "list":
        return [_coerce_nested(x, dtype[1]) for x in v]
    return v


def _validate_struct_values(values: list) -> None:
    """Reference from_list semantics for struct values (struct_test.exs
    'errors when structs have mismatched types'): the dtype is inferred
    from the FIRST value — later dicts with a different field set, or
    fields mixing scalar kinds (int + string), raise instead of silently
    coercing (Spark's sampling inference would otherwise produce a
    map<string,string> or a union-of-fields struct). Numeric int/float
    mixing stays legal (promotes to f64, like the reference)."""
    import datetime as _dtm
    from decimal import Decimal as _D

    dicts = [v for v in values if isinstance(v, dict)]
    if not dicts:
        elems = [x for v in values if isinstance(v, list) for x in v]
        if any(isinstance(x, dict) for x in elems):
            _validate_struct_values(elems)
        return
    fields = list(dicts[0].keys())
    fset = set(fields)
    for v in dicts[1:]:
        if set(v.keys()) != fset:
            raise ValueError(
                f"the value {v!r} does not match the inferred struct dtype with "
                f"fields {fields!r} (the reference infers the dtype from the "
                "first value and rejects the rest)"
            )

    def kind(x):
        if isinstance(x, bool):
            return "bool"
        if isinstance(x, (int, float, _D)):
            return "num"
        if isinstance(x, str):
            return "str"
        if isinstance(x, (bytes, bytearray)):
            return "bin"
        if isinstance(x, _dtm.datetime):
            return "dt"
        if isinstance(x, _dtm.date):
            return "date"
        if isinstance(x, _dtm.time):
            return "time"
        if isinstance(x, _dtm.timedelta):
            return "dur"
        if isinstance(x, dict):
            return "struct"
        if isinstance(x, list):
            return "list"
        return "other"

    for f in fields:
        col = [v[f] for v in dicts if v.get(f) is not None]
        if not col:
            continue
        k0 = kind(col[0])
        for x in col[1:]:
            if kind(x) != k0:
                raise ValueError(
                    f"the value {x!r} does not match the inferred dtype of "
                    f"struct field {f!r} (first value implies {k0})"
                )
        if k0 == "struct":
            _validate_struct_values(col)
        elif k0 == "list":
            inner = [x for lst in col for x in lst]
            if any(isinstance(x, dict) for x in inner):
                _validate_struct_values(inner)


def _value_kind_checks():
    """Scalar/dtype compatibility per the reference's
    cast_to_comparable_series (shared by fill_missing and index_of)."""
    import datetime as _dt

    return {
        "boolean": lambda v: isinstance(v, bool),
        "s": lambda v: isinstance(v, int) and not isinstance(v, bool),
        "u": lambda v: isinstance(v, int) and not isinstance(v, bool),
        "f": lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
        "string": lambda v: isinstance(v, (str, bytes)),
        "binary": lambda v: isinstance(v, (bytes, str)),
        "date": lambda v: isinstance(v, _dt.date) and not isinstance(v, _dt.datetime),
        "datetime": lambda v: isinstance(v, _dt.datetime),
        "naive_datetime": lambda v: isinstance(v, _dt.datetime),
        "time": lambda v: isinstance(v, _dt.time),
        "duration": lambda v: isinstance(v, (_dt.timedelta, int)),
        "decimal": lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
        "category": lambda v: isinstance(v, str),
    }


_VALUE_KIND_CHECKS = _value_kind_checks()


def _tz_key(tzinfo) -> str:
    """Zone key of a python tzinfo (ZoneInfo .key preferred), with
    datetime.timezone.utc normalized to the reference's 'Etc/UTC'."""
    k = getattr(tzinfo, "key", None) or str(tzinfo)
    return {"UTC": "Etc/UTC"}.get(k, k)


# Wall-clock temporal reads on tz-stamped datetimes (year/hour/strftime/
# to_date/...) shift into the column's zone at the EXPRESSION layer
# (expr._wall reads the `tz` column metadata via LowerCtx.sdf) — the same
# mechanism serves Series methods and mutate/filter/summarise expressions,
# so the two levels can never disagree. Arithmetic, comparisons and
# aggregation keep raw instant semantics.


class Series:
    def __init__(self, frame: DataFrame, name: str = "values"):
        self._frame = frame
        self.name = name

    # -- construction -------------------------------------------------------
    @staticmethod
    def from_list(values: list, dtype=None, name: str = "values", spark=None) -> "Series":
        import pandas as pd

        from .session import get_spark
        from .sources import from_pandas

        spark = spark or get_spark()
        if dtype is None and not values:
            # reference from_list([]) -> empty series of :null dtype
            # (series.ex 'Trying to create an empty series ... will, by
            # default, result in a series of :null type')
            dtype = "null"
        if dtype is not None and dt.normalize(dtype) == "null" and values:
            # an explicit :null dtype DISCARDS the values — every row is
            # nil (series_test.exs 'with non nils and dtype :null')
            values = [None] * len(values)
        if dtype is None and any(
            isinstance(v, dict) or (isinstance(v, list) and any(isinstance(x, dict) for x in v))
            for v in values
        ):
            _validate_struct_values(values)
        if dtype is None:
            # inferred-dtype validation: mixed value KINDS raise like the
            # reference (series.ex:513 from_list([1, "a"]) — int/float
            # promote, bools are not ints)
            from .sources import _validate_column_kinds

            _validate_column_kinds({name: values})
        # a nil STRUCT row INGESTS as a struct of nil fields (reference
        # struct_test.exs 'allow nils' — polars struct ingestion); this
        # is a write-side conversion only: function-PRODUCED null
        # structs (re_named_captures on nil input,
        # data_frame_test.exs:2201-2236) stay nil on read
        struct_fields = None
        if dtype is not None:
            nd0 = dt.normalize(dtype)
            if isinstance(nd0, tuple) and nd0[0] == "struct":
                struct_fields = [n for n, _ in nd0[1]]
        elif any(isinstance(v, dict) for v in values):
            struct_fields = list(next(v for v in values if isinstance(v, dict)).keys())
        if struct_fields is not None and any(v is None for v in values):
            tuple_rows = any(isinstance(v, tuple) for v in values)
            blank = (
                tuple((None,) * len(struct_fields))
                if tuple_rows
                else dict.fromkeys(struct_fields)
            )
            values = [blank if v is None else v for v in values]
        if values:
            # eager decimal-precision bound (reference 'decimal precision
            # boundary': polars raises at from_list for >38 digits; Spark
            # would otherwise fail LAZILY at materialization)
            from decimal import Decimal as _DecB

            for v in values:
                if isinstance(v, _DecB) and v.is_finite():
                    tup = v.as_tuple()
                    e = tup.exponent
                    prec = len(tup.digits) + e if e > 0 else max(len(tup.digits), -e)
                    if prec > 38:
                        raise ValueError(
                            f"decimal precision 38 can't fit values with {prec} digits"
                        )
        if dtype is None and values:
            # numeric inference must NOT go through pandas: a pandas
            # column of [1, None] silently becomes float64 (reference
            # keeps s64 + nil) and NaN launders into nil (reference keeps
            # NaN distinct from nil, series_test.exs 'mixing integers and
            # nan'). Routing through the typed Arrow path preserves both.
            import datetime as _dtm
            from decimal import Decimal as _DecI

            flat = [v for v in values if v is not None]
            if flat and all(isinstance(v, int) and not isinstance(v, bool) for v in flat):
                dtype = ("s", 64)
            elif (
                flat
                and all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in flat)
                and any(isinstance(v, float) for v in flat)
            ):
                dtype = ("f", 64)
            elif (
                flat
                and any(isinstance(v, _DecI) for v in flat)
                and all(
                    isinstance(v, (_DecI, float, int)) and not isinstance(v, bool)
                    for v in flat
                )
            ):
                # decimals infer {:decimal, 38, max scale}; mixed floats
                # take FACE value, mixed ints are UNSCALED coefficients —
                # both handled by the explicit-dtype branch below
                # (series_test.exs 'with decimals without dtype given' /
                # '... mixing with floats' / '... mixing with integers')
                scales = [
                    max(-v.as_tuple().exponent, 0)
                    for v in flat
                    if isinstance(v, _DecI) and isinstance(v.as_tuple().exponent, int)
                ]
                dtype = ("decimal", 38, max(scales, default=0))
            elif flat and all(isinstance(v, _dtm.time) for v in flat):
                dtype = "time"
            elif flat and all(
                isinstance(v, _dtm.datetime) and v.tzinfo is not None for v in flat
            ):
                # tz-aware datetimes infer {:datetime, :microsecond, tz}
                # (reference shared.ex:336); mixing zones raises like the
                # reference's dtype-mismatch ArgumentError
                zones = {_tz_key(v.tzinfo) for v in flat}
                if len(zones) > 1:
                    raise ValueError(
                        "datetime values do not share a single time zone: "
                        f"{sorted(zones)} (the reference infers the dtype "
                        "from the first value and rejects the rest)"
                    )
                dtype = ("datetime", "us", zones.pop())
        if dt.normalize(dtype) == "time" if dtype is not None else False:
            # time-of-day is carried as nanoseconds since midnight in a
            # LongType column (dtypes.py) — accept datetime.time values
            # and convert at the boundary
            import datetime as _dtm

            values = [
                dt.time_to_ns(v) if isinstance(v, _dtm.time) else v for v in values
            ]
        _dur_target = None
        _tm_stamp = False
        if dtype is not None:
            nd_ = dt.normalize(dtype)
            if isinstance(nd_, tuple) and nd_[0] == "decimal":
                # floats land at FACE VALUE (str keeps the shortest repr,
                # Arrow applies the dtype's scale — series_test.exs 'with
                # floats as decimals'); INTEGERS are the UNSCALED
                # coefficient: value = int * 10^-scale (series_test.exs
                # 'with integers as decimals passing scale': 4237 with
                # {:decimal, 38, 2} is Decimal("42.37"))
                from decimal import Decimal as _Dec

                _sc = nd_[2] if len(nd_) > 2 else 0
                values = [
                    _Dec(str(v))
                    if isinstance(v, float)
                    else (
                        _Dec(v).scaleb(-_sc)
                        if isinstance(v, int) and not isinstance(v, bool)
                        else v
                    )
                    for v in values
                ]
            if isinstance(nd_, tuple) and nd_[0] == "duration":
                # durations materialize as real DayTimeIntervals (see
                # cast): ingest the counts as longs first, accepting
                # timedelta values as µs counts at the boundary
                import datetime as _dtm

                values = [
                    _timedelta_count(v, nd_) if isinstance(v, _dtm.timedelta) else v
                    for v in values
                ]
                _dur_target, dtype = nd_, ("s", 64)
            elif isinstance(nd_, tuple) and nd_[0] == "list" and _list_leaf_kind(nd_) in (
                "time",
                "duration",
            ):
                # list-of-time / list-of-duration: convert the python
                # values to counts element-wise (the same boundary rules
                # as the scalar paths), ingest the count arrays, then
                # stamp/cast to the logical element dtype below
                import datetime as _dtm

                if isinstance(nd_[1], tuple) and nd_[1][0] == "list":
                    # dtype introspection + collect decode only handle one
                    # nesting level of time/duration elements — reject
                    # rather than round-trip raw counts with a wrong dtype
                    raise ValueError(
                        f"nested {nd_!r} is not supported: time/duration list "
                        "elements decode one nesting level deep"
                    )

                def _conv(v, d):
                    if v is None:
                        return None
                    if isinstance(d, tuple) and d[0] == "list":
                        return [_conv(x, d[1]) for x in v]
                    if d == "time" and isinstance(v, _dtm.time):
                        return dt.time_to_ns(v)
                    if isinstance(d, tuple) and d[0] == "duration" and isinstance(v, _dtm.timedelta):
                        return _timedelta_count(v, d)
                    return v

                values = [_conv(v, nd_) for v in values]
                if _list_leaf_kind(nd_) == "duration":
                    _dur_target = nd_  # cast() owns intervals + dur_p stamp
                else:
                    _tm_stamp = True
                dtype = _list_counts_shape(nd_)
            elif isinstance(nd_, tuple) and nd_[0] in ("naive_datetime", "datetime"):
                unit = dt.unit_of(nd_)
                tz = nd_[2] if nd_[0] == "datetime" and len(nd_) > 2 else None
                if unit in ("ms", "ns") or (tz and tz != "Etc/UTC"):
                    # ingest at physical µs (ints are COUNTS in the target
                    # unit, datetimes are wall/instant values) and route
                    # through cast(), which owns truncation, zone
                    # relabeling and the metadata stamps
                    _dur_target = nd_
                    if all(v is None or isinstance(v, int) for v in values):
                        dtype = ("s", 64)
                    else:
                        dtype = (
                            ("naive_datetime", "us")
                            if nd_[0] == "naive_datetime"
                            else ("datetime", "us", "Etc/UTC")
                        )
        if dtype is None and values and _nested_special_float(values):
            # Spark's pandas ingestion (the nested-inference fallback
            # below) normalizes NaN/Inf to None via pdf.where(notna) —
            # the reference keeps NaN/Inf as VALUES inside structs and
            # lists (struct_test.exs 'allows structs with special float
            # values'), so infer the nested dtype python-side and take
            # the typed row-converter path instead
            dtype = _infer_nested_dtype(values)
            # the typed row converter rejects python ints in double
            # slots — promote in place (int+float mixes are f64)
            values = [_coerce_nested(v, dtype) for v in values]
        if dtype is not None:
            from pyspark.sql import types as T

            schema = T.StructType([T.StructField(name, dt.to_spark(dtype))])
            # prefer the Arrow ingestion path for FLAT types: faster than
            # per-row JVM conversion. Nested (list/struct) types stay on
            # the row converter — the Arrow batch hand-off segfaults this
            # pyarrow/pyspark pairing under rapid tiny nested frames
            # (reproduced 2/3 runs vs ~1/5 for the row path).
            nested = isinstance(schema[name].dataType, (T.ArrayType, T.StructType, T.MapType))
            if not nested:
                try:
                    import pyarrow as pa
                    from pyspark.sql.pandas.types import to_arrow_type

                    if isinstance(schema[name].dataType, T.TimestampType):
                        # pyarrow DROPS a ZoneInfo tzinfo when coercing to
                        # timestamp[us, tz=UTC] (wall time read as UTC) —
                        # normalize aware values to UTC python-side so the
                        # INSTANT survives ingestion
                        import datetime as _dtm

                        values = [
                            v.astimezone(_dtm.timezone.utc)
                            if isinstance(v, _dtm.datetime) and v.tzinfo is not None
                            else v
                            for v in values
                        ]
                    arr = pa.array(values, type=to_arrow_type(schema[name].dataType))
                    sdf = spark.createDataFrame(pa.table({name: arr}))
                    # arrow inference can widen/narrow vs the requested
                    # Spark type (e.g. date/decimal corners) — enforce it
                    if sdf.schema[name].dataType != schema[name].dataType:
                        sdf = sdf.withColumn(name, F.col(name).cast(schema[name].dataType))
                except Exception:
                    sdf = spark.createDataFrame([(v,) for v in values], schema)
            else:
                sdf = spark.createDataFrame([(v,) for v in values], schema)
            frame = DataFrame(sdf.withColumn(ORDER_COL, F.monotonically_increasing_id()), has_order=True)
        else:
            frame = from_pandas(pd.DataFrame({name: values}), spark=spark)
        out = Series(frame, name)
        if _dur_target is not None:
            out = out.cast(_dur_target)
        if dtype is not None and dt.normalize(dtype) == "category":
            out = _stamp_col_meta(out, {"cat": True})
        if _tm_stamp or (dtype is not None and dt.normalize(dtype) == "time"):
            # ns-since-midnight longs + the "tm" marker = :time
            out = _stamp_col_meta(out, {"tm": True})
        if dtype is not None:
            nd = dt.normalize(dtype)
            if isinstance(nd, tuple) and nd[0] == "u":
                # unsigned: physically the next wider signed type, the
                # "uw" marker keeps the logical dtype (reference u8..u64)
                out = _stamp_col_meta(out, {"uw": nd[1]})
        return out

    # -- materialization ----------------------------------------------------
    def to_list(self) -> list:
        return self._frame.to_columns()[self.name]

    def to_frame(self) -> DataFrame:
        return self._frame.select([self.name])

    @property
    def dtype(self):
        return self._frame.dtypes[self.name]

    def size(self) -> int:
        return self._frame.n_rows()

    def __len__(self):
        return self.size()

    @staticmethod
    def format(parts) -> "Series":
        """Row-wise string concatenation of series and literals
        (reference Series.format/1): series parts align positionally,
        plain strings interleave, nil literals are dropped."""
        parts = [p for p in parts if p is not None]
        sers = [p for p in parts if isinstance(p, Series)]
        if not sers:
            joined = "".join(str(p) for p in parts)
            return Series.from_list([joined], dtype="string")
        parts = _broadcast_args(parts)
        sers = [p for p in parts if isinstance(p, Series)]
        sdf, names = _series_zip(*sers)
        from pyspark.sql import types as T

        types = {f.name: f.dataType for f in sdf.schema.fields}

        def render(c, t):
            # polars-style float rendering: inf/-inf, not Java's Infinity
            if isinstance(t, (T.FloatType, T.DoubleType)):
                c = (
                    F.when(F.isnan(c), F.lit("NaN"))
                    .when(c == F.lit(float("inf")), F.lit("inf"))
                    .when(c == F.lit(float("-inf")), F.lit("-inf"))
                    .otherwise(c.cast("string"))
                )
            else:
                c = c.cast("string")
            # a nil VALUE renders as the empty string, keeping the row
            # (reference format 'with series that have nil value')
            return F.coalesce(c, F.lit(""))

        it = iter(names)
        cols = []
        for p in parts:
            if isinstance(p, Series):
                n = next(it)
                cols.append(render(F.col(n), types[n]))
            else:
                cols.append(F.coalesce(F.lit(p).cast("string"), F.lit("")))
        return _series_result(sdf, F.concat(*cols), "values")

    # -- expression application ---------------------------------------------
    def _apply(self, expr: Expr, name: str | None = None) -> "Series":
        out_name = name or self.name
        nf = self._frame.mutate(**{out_name: expr})
        return Series(nf.select([out_name]), out_name)

    def _agg(self, expr: Expr):
        return self._frame.summarise(__out__=expr).to_columns()["__out__"][0]

    def _c(self) -> Expr:
        return col(self.name)

    def _require_kind(self, fname: str, kinds: tuple, valid: str) -> None:
        """Eager dtype validation for dtype-restricted functions — the
        reference raises ArgumentError at call time (series.ex:2441
        min/1 on :string, :2772 std on :string, :2855 quantile on
        :boolean, :5679 abs on :string)."""
        d = dt.normalize(self.dtype)
        base = d[0] if isinstance(d, tuple) else d
        if base not in kinds:
            raise ValueError(
                f"Explorer.Series.{fname} not implemented for dtype "
                f"{self.dtype!r}. Valid dtypes are {valid}"
            )

    _ORD_KINDS = ("s", "u", "f", "date", "time", "naive_datetime", "datetime", "duration", "decimal", "null")
    _NUM_KINDS = ("s", "u", "f", "decimal", "null")

    # -- aggregations (reference series.ex:2400-3102) -----------------------
    def sum(self):
        return self._agg(Expr("sum", self._c()))

    def min(self):
        self._require_kind("min/1", self._ORD_KINDS, "numeric and temporal dtypes")
        return self._agg(Expr("min", self._c()))

    def max(self):
        self._require_kind("max/1", self._ORD_KINDS, "numeric and temporal dtypes")
        return self._agg(Expr("max", self._c()))

    def mean(self):
        return self._agg(Expr("mean", self._c()))

    def median(self):
        return self._agg(Expr("median", self._c()))

    def mode(self) -> "Series":
        """ALL tied modes as a Series (reference Series.mode/1,
        series_test.exs:5094-5161 — multi-value when counts tie; nulls
        don't count). Value-count groupBy + a broadcast max join; the
        frame-level ``f.mode`` aggregate stays single-valued (Spark's
        F.mode) for summarise pipelines."""
        counts = (
            self._frame._sdf.filter(F.col(self.name).isNotNull())
            .groupBy(self.name)
            .agg(F.count(F.lit(1)).alias("__c__"))
        )
        mx = counts.agg(F.max("__c__").alias("__m__"))
        out = (
            counts.join(F.broadcast(mx), F.col("__c__") == F.col("__m__"))
            .select(self.name)
            # tie order must not depend on the groupBy's physical layout:
            # sort ties ascending, matching the frame-level list-mode
            # kernel (sort_array(collect_list)) before the mono-id stamp
            .orderBy(F.col(self.name).asc())
            .withColumn(ORDER_COL, F.monotonically_increasing_id())
        )
        return Series(DataFrame(out, has_order=True), self.name)

    def product(self):
        # Spark's PRODUCT agg always yields double and null on empty —
        # the reference keeps the integer dtype (doctest: product of
        # [1, 2, 3] === 6) and returns the multiplicative identity for
        # empty/all-nil input (series.ex:2805: product of [] = 1.0)
        out = self._agg(Expr("product", self._c()))
        d = self.dtype
        integral = isinstance(d, tuple) and d[0] in ("s", "u")
        if out is None:
            return 1 if integral else 1.0
        # Spark PRODUCT computes in double: round (not truncate) back
        # to int — exactness past 2^53 is bounded by the double
        # intermediate either way (documented trade). If the double
        # intermediate overflowed, int(round(inf)) would raise a bare
        # OverflowError — surface the documented limit instead.
        if integral:
            if math.isinf(out) or math.isnan(out):
                raise ValueError(
                    "Series.product overflowed the float64 intermediate; "
                    "cast to float first to get an inf/nan result"
                )
            return int(round(out))
        return out

    def count(self):
        return self._agg(Expr("count", self._c()))

    def nil_count(self):
        return self._agg(Expr("nil_count", self._c()))

    def n_distinct(self):
        return self._agg(Expr("n_distinct", self._c()))

    def variance(self, ddof: int = 1):
        self._require_kind("variance/1", self._NUM_KINDS, "numeric dtypes")
        return self._agg(Expr("variance", self._c(), ddof))

    def standard_deviation(self, ddof: int = 1):
        self._require_kind("standard_deviation/1", self._NUM_KINDS, "numeric dtypes")
        return self._agg(Expr("standard_deviation", self._c(), ddof))

    def quantile(self, q: float):
        self._require_kind(
            "quantile/2", self._ORD_KINDS, "any subtype of [:u, :s, :f, :date, :time, :naive_datetime, :datetime]"
        )
        return self._agg(Expr("quantile", self._c(), q))

    def skew(self, bias: bool = True):
        self._require_kind("skew/2", self._NUM_KINDS, "numeric dtypes")
        return self._agg(Expr("skew", self._c(), bias))

    def abs(self) -> "Series":
        self._require_kind("abs/1", self._NUM_KINDS, "numeric dtypes")
        return self._apply(Expr("abs", self._c()))

    def all(self):
        return self._agg(Expr("all", self._c()))

    def any(self):
        return self._agg(Expr("any", self._c()))

    def first(self):
        vals = self._frame.head(1).to_columns()[self.name]
        return vals[0] if vals else None

    def last(self):
        vals = self._frame.tail(1).to_columns()[self.name]
        return vals[0] if vals else None

    def at(self, i: int):
        vals = self._frame.slice(i, 1).to_columns()[self.name]
        if not vals:
            # reference series.ex:2196 raises; fetch/2 is the nil-on-
            # out-of-bounds accessor
            raise ValueError(f"index {i} out of bounds for series of size {self.size()}")
        return vals[0]

    def fetch(self, key):
        """Access-style fetch (reference series.ex:286-288): an int
        gives the element, a list/range gives a sliced Series; None when
        an int index is out of bounds (``s[key]`` raises instead)."""
        if isinstance(key, int):
            n = len(self)
            if key < 0:
                key += n
            return self.at(key) if 0 <= key < n else None
        if isinstance(key, range):
            key = list(key)
        return self.slice(key)

    def __getitem__(self, key):
        if isinstance(key, int):
            # bounds-check separately: an in-bounds element may itself be
            # null, which fetch() cannot distinguish from out-of-bounds
            n = len(self)
            idx = key + n if key < 0 else key
            if not 0 <= idx < n:
                raise IndexError(key)
            return self.at(idx)
        if isinstance(key, slice):
            # the python analogue of the reference's range access
            # (series.ex fetch/2 with a Range: s[0..1])
            return self.fetch(list(range(*key.indices(len(self)))))
        return self.fetch(key)

    def pop(self, key):
        """Access-style pop (reference series.ex:291-305): returns
        (fetched value/slice, series with those positions removed)."""
        n = len(self)
        if isinstance(key, int):
            idx = key + n if key < 0 else key
            keep = [i for i in range(n) if i != idx]
            return self.fetch(key), self.slice(keep)
        drop = set(list(key) if isinstance(key, range) else key)
        drop = {i + n if i < 0 else i for i in drop}
        keep = [i for i in range(n) if i not in drop]
        return self.fetch(key), self.slice(keep)

    def argmin(self) -> int:
        # nil rows never win, and an all-nil/empty series yields nil
        # (reference argmin doctests, series.ex:2585-2596)
        self._require_kind("argmin/1", self._ORD_KINDS, "numeric and temporal dtypes")
        f = self._frame._with_row_index("__idx__")
        row = (
            f._sdf.where(F.col(self.name).isNotNull())
            .orderBy(F.col(self.name).asc(), F.col("__idx__"))
            .limit(1)
            .collect()
        )
        return row[0]["__idx__"] if row else None

    def argmax(self) -> int:
        self._require_kind("argmax/1", self._ORD_KINDS, "numeric and temporal dtypes")
        f = self._frame._with_row_index("__idx__")
        row = (
            f._sdf.where(F.col(self.name).isNotNull())
            .orderBy(F.col(self.name).desc(), F.col("__idx__"))
            .limit(1)
            .collect()
        )
        return row[0]["__idx__"] if row else None

    # -- element-wise (any Expr op by name) ----------------------------------
    def map(self, fn: Callable[[Expr], Expr]) -> "Series":
        """Apply an expression builder to the series (the ``_`` variable
        of the reference's single-series query DSL, series.ex:1752-1998)."""
        return self._apply(fn(self._c()))

    map_with = map  # reference map_with/2: same callback contract here

    def not_(self) -> "Series":
        """Boolean negation (reference Series.not/1; `not` is a Python
        keyword, hence the trailing underscore; `~s` also works)."""
        return self._apply(Expr("unary_not", self._c()))

    __invert__ = not_

    def iotype(self):
        """The underlying io-vector type as (letter, bits) — e.g.
        ("f", 64), ("s", 32), ("u", 8) for booleans (reference
        series.ex:1294-1300 + shared.ex dtype_to_iotype)."""
        d = dt.normalize(self.dtype)
        if d == "boolean":
            return ("u", 8)
        if d == "category":
            return ("u", 32)
        if isinstance(d, tuple):
            kind, sz = d[0], d[1]
            if kind in ("s", "u", "f"):
                return (kind, sz)
            if kind == "decimal":
                return ("s", 128)
            if kind in ("datetime", "duration", "naive_datetime"):
                return ("s", 64)
        if d == "date":
            return ("s", 32)
        if d == "time":
            return ("s", 64)
        # variable-width dtypes have no fixed iovec shape — the
        # reference returns :none (series.ex:1280 iotype of :string)
        return "none"

    def cast(self, dtype) -> "Series":
        """Cast to ``dtype`` — the query-level ``cast`` node applied to
        this series: ``expr._cast`` holds the value rules and
        ``expr._node_meta`` the dtype labels, so ``Series.cast`` and
        ``mutate(x=cast(col, dtype))`` agree."""
        try:
            target = dt.normalize(dtype)
            dt.to_spark(target)
        except (KeyError, ValueError):
            # reference series_test.exs 'error when casting with unknown
            # dtype'
            raise ValueError(
                f"Explorer.Series.cast/2 not implemented for dtype :{dtype}"
            ) from None
        if target == "null":
            # any series casts to :null — every value nil
            # (series_test.exs 'integer series to null')
            return self._apply(Expr("null_of", self._c()))
        if target == "time" and self.dtype == "time":
            return self
        return self._apply(Expr("cast", self._c(), dtype))

    def filter(self, fn: Callable[[Expr], Expr]) -> "Series":
        nf = self._frame.filter_with(fn(self._c()))
        return Series(nf, self.name)

    filter_with = filter  # reference filter_with/2: same callback contract

    def sort(self, descending: bool = False, nils_last: bool = True) -> "Series":
        return Series(self._frame.sort_by(self.name, descending=descending, nils_last=nils_last), self.name)

    def sort_with(self, fn, direction: str = "asc", nils_last: bool = True) -> "Series":
        """Sort by a derived key expression (reference series.ex:1976-1983):
        ``fn`` maps the series expression to the sort key."""
        key = fn(self._c())
        nf = self._frame.sort_by(key, descending=(direction == "desc"), nils_last=nils_last)
        return Series(nf, self.name)

    def argsort(self, descending: bool = False, nils_last: bool = True) -> "Series":
        """Indices that would sort the series, as a SERIES (reference
        series.ex:4779-4830 returns a u32 index series; s_argsort
        series.rs:150-186) — computed fully DISTRIBUTED: the contiguous
        0-based row index attaches via the per-partition-offset kernel
        (operators/ordered.with_global_index), a range-partitioned sort
        puts it in key order (ties keep original order — stable, like
        the old collect-based rendering), and the result stays a lazy
        frame. No whole-column driver collect (r7 verdict #3);
        ``to_list()`` is the explicit materialization step. Indices are
        s64 (physical twin of the reference's u32). ``nils_last``
        mirrors the reference's ``nils: :last | :first`` sort option."""
        f = self._frame.select([self.name])._with_row_index("__argsort_idx__")
        nf = f.sort_by(self.name, descending=descending, nils_last=nils_last, stable=True)
        out = nf._replace(nf._sdf.select("__argsort_idx__", ORDER_COL))
        return _stamp_col_meta(
            Series(out.rename({"__argsort_idx__": self.name}), self.name), {"uw": 32}
        )

    def reverse(self) -> "Series":
        base = self._frame._ordered()
        out = base._sdf.orderBy(F.col(ORDER_COL).desc()).drop(ORDER_COL).withColumn(
            ORDER_COL, F.monotonically_increasing_id()
        )
        return Series(DataFrame(out, has_order=True), self.name)

    def distinct(self) -> "Series":
        return Series(self._frame.distinct([self.name]), self.name)

    def unordered_distinct(self) -> "Series":
        return Series(self._frame.unordered_distinct([self.name]), self.name)

    def head(self, n: int = 10) -> "Series":
        # default 10, unlike DataFrame.head's 5 (reference series.ex:1433)
        return Series(self._frame.head(n), self.name)

    def tail(self, n: int = 10) -> "Series":
        return Series(self._frame.tail(n), self.name)

    def slice(self, offset, length=None) -> "Series":
        """Positional slice (reference Series.slice/2): offset+len, a
        list/range of indices, or a SERIES of indices — the series form
        is a distributed take (row-index equi-join ordered by the index
        series' own order; duplicates repeat), with the reference's
        dtype/positivity/bounds errors."""
        if isinstance(offset, Series):
            idx = offset
            base = idx.dtype
            kind = base[0] if isinstance(base, tuple) else base
            if kind not in ("s", "u"):
                raise ValueError(
                    f"Series.slice/2 not implemented for dtype {base}. "
                    "Valid dtypes are integer types"
                )
            lo = idx.min()
            if lo is not None and lo < 0:
                raise ValueError("slice/2 expects a series of positive integers")
            hi = idx.max()
            n = len(self)
            if hi is not None and hi >= n:
                raise ValueError("slice/2 cannot select from indices that are out-of-bounds")
            data = self._frame._with_row_index("__ti__")._sdf.select(
                "__ti__", F.col(self.name)
            )
            picks = idx._frame._with_row_index("__to__")._sdf.select(
                F.col("__to__"), F.col(idx.name).cast("long").alias("__ti__")
            )
            out = picks.join(data, "__ti__", "inner").select(
                F.col("__to__").alias(ORDER_COL), F.col(self.name)
            )
            return Series(DataFrame(out, has_order=True), self.name)
        return Series(self._frame.slice(offset, length), self.name)

    def at_every(self, n: int) -> "Series":
        return Series(self._frame.at_every(n), self.name)

    def sample(
        self, n_or_frac, replace: bool = False, seed: int | None = None, shuffle: bool = False
    ) -> "Series":
        return Series(
            self._frame.sample(n_or_frac, replace=replace, seed=seed, shuffle=shuffle), self.name
        )

    def shift(self, offset: int, default=None) -> "Series":
        return self._apply(Expr("shift", self._c(), offset, default))

    def rank(self, method: str = "average", descending: bool = False, seed: int | None = None) -> "Series":
        """Reference rank/2 defaults (series.ex:2063-2072): method
        :average; nils stay nil without consuming ranks."""
        return self._apply(Expr("rank", self._c(), method, descending, seed))

    def fill_missing(self, strategy_or_value) -> "Series":
        """Reference-exact fill (series.ex:5594-5628 and the
        series_test.exs fill_missing/2 grid):

        * ``:nan`` / ``:infinity`` / ``:neg_infinity`` require a float
          series and raise otherwise;
        * ``:mean`` keeps the series dtype — integer means truncate
          toward zero, date/datetime means average the epoch value
          (Polars FillNullStrategy::Mean casts back to the dtype) —
          and raises on boolean series;
        * literal fills must be dtype-compatible or raise.
        """
        import datetime as _dt
        import math as _math

        from . import functions as fns
        from .expr import Expr, lit

        dtype = self.dtype
        base = dtype[0] if isinstance(dtype, tuple) else dtype
        sv = strategy_or_value
        if isinstance(sv, str) and sv in ("nan", "infinity", "neg_infinity"):
            if base != "f":
                raise ValueError(
                    f"fill_missing with :{sv} values require a float series, got {dtype}"
                )
            val = {"nan": float("nan"), "infinity": float("inf"), "neg_infinity": float("-inf")}[sv]
            return self._apply(Expr("fill_missing_with_value", self._c(), lit(val)))
        if isinstance(sv, str) and sv == "mean":
            if base == "boolean":
                raise ValueError("`mean` operation not supported for dtype `Boolean`")
            if base in ("s", "u"):
                m = self.mean()
                fill = None if m is None or (isinstance(m, float) and _math.isnan(m)) else int(m)
                return self._apply(Expr("fill_missing_with_value", self._c(), lit(fill)))
            if base == "date":
                m = self._agg(Expr("mean", Expr("raw", F.unix_date(F.col(self.name)))))
                fill = None if m is None else _dt.date(1970, 1, 1) + _dt.timedelta(days=int(m))
                return self._apply(Expr("fill_missing_with_value", self._c(), lit(fill)))
            if base in ("datetime", "naive_datetime"):
                from pyspark.sql import types as T

                # explicit TimestampType: the session default timestampType
                # is NTZ, and unix_micros only accepts LTZ (UTC session ⇒
                # the cast is value-identity)
                m = self._agg(
                    Expr("mean", Expr("raw", F.unix_micros(F.col(self.name).cast(T.TimestampType()))))
                )
                if m is None:
                    return self
                fill = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(m))
                return self._apply(Expr("fill_missing_with_value", self._c(), lit(fill)))
            return self._apply(fns.fill_missing(self._c(), sv))
        if isinstance(sv, str) and sv in ("forward", "backward", "min", "max"):
            return self._apply(fns.fill_missing(self._c(), sv))
        # literal fill: dtype compatibility per reference cast_to_comparable_series
        ok = _VALUE_KIND_CHECKS.get(base)
        if ok is not None and sv is not None and not ok(sv):
            raise ValueError(
                f"cannot invoke Series.fill_missing/2 with mismatched dtypes: {dtype} and {sv!r}"
            )
        if base == "string" and isinstance(sv, bytes):
            try:
                sv = sv.decode("utf-8")
            except UnicodeDecodeError:
                raise ValueError("cannot cast to string") from None
        if base in ("s", "u") and isinstance(sv, int):
            # value must FIT the dtype (reference series_test.exs:869-874
            # 'out of range integral type conversion attempted')
            bits = dtype[1]
            lo, hi = (0, 2**bits - 1) if base == "u" else (-(2 ** (bits - 1)), 2 ** (bits - 1) - 1)
            if not (lo <= sv <= hi):
                raise ValueError("out of range integral type conversion attempted")
        return self._apply(fns.fill_missing(self._c(), sv))

    def frequencies(self) -> DataFrame:
        return self._frame.rename({self.name: "values"}).frequencies("values")

    # -- categorical emulation (reference series.ex:1327-1438) ---------------
    def replace(self, *args) -> "Series":
        """Both reference arities (series.ex):

        * ``replace(list)`` — replace/2 CONVERSION: swap the series'
          contents for the list, KEEPING the dtype; a :category series
          takes integer CODES decoded through its existing categories
          (series.ex:781-798).
        * ``replace(substring, replacement)`` — replace/3 literal
          string replacement (series.ex:5811)."""
        if len(args) == 1 and isinstance(args[0], list):
            values = args[0]
            d = self.dtype
            if d == "category":
                # integer CODES decode through the EXISTING categories
                # (series.ex:781-798); category-ness rides as the "cat"
                # column-metadata marker, so dtype genuinely reports it
                codes = Series.from_list(values, dtype=("s", 64), name=self.name)
                return codes.categorise(self.categories())
            return Series.from_list(values, dtype=d, name=self.name)
        if len(args) == 2:
            return self._apply(Expr("replace", self._c(), args[0], args[1]))
        raise TypeError("replace takes a list (contents conversion) or (substring, replacement)")

    def categorise(self, categories) -> "Series":
        """Map integer codes -> category strings (dictionary decode);
        out-of-bounds codes become nil. A STRING series validates each
        value against the categories instead (kept when present, nil
        otherwise — series_test.exs 'takes string series and categorise
        with categorical series'). ``categories`` may be a list or a
        string/category Series. The result is a :category series
        (reference series.ex:1327+)."""
        cats = list(categories.to_list() if isinstance(categories, Series) else categories)
        d = dt.normalize(self.dtype)
        if d in ("string", "category"):
            decoded = F.when(F.col(self.name).isin(cats), F.col(self.name))
        else:
            mapping = F.array(*[F.lit(c) for c in cats])
            decoded = F.when(
                F.col(self.name).isNotNull(), mapping[F.col(self.name).cast("int")]
            )
        return _stamp_col_meta(self._apply(Expr("raw", decoded)), {"cat": True})

    def categories(self) -> "Series":
        """Distinct values in first-appearance order (dictionary levels),
        as a :string SERIES (reference series.ex:1310 — categories/1
        returns a series, not a list)."""
        f = self._frame._ordered()
        rows = (
            f._sdf.groupBy(self.name)
            .agg(F.min(ORDER_COL).alias("__o__"))
            .orderBy("__o__")
            .select(self.name)
            .collect()
        )
        return Series.from_list(
            [r[0] for r in rows if r[0] is not None],
            dtype="string",
            name=self.name,
            spark=self._frame._sdf.sparkSession,
        )

    def cut(
        self,
        breaks: list,
        labels=None,
        left_close: bool = False,
        include_breaks: bool = False,
        break_point_label: str = "break_point",
        category_label: str = "category",
    ) -> DataFrame:
        """Bin into categories (reference cut/3): default output is
        values + category; ``include_breaks`` adds the break_point
        column; the label kwargs rename the generated columns."""
        out = self._frame.rename({self.name: "values"}).cut("values", breaks, labels, left_close)
        if not include_breaks:
            out = out.select(["values", "category"])
        out = out.rename({"break_point": break_point_label} if include_breaks else {})
        return out.rename({"category": category_label}) if category_label != "category" else out

    def qcut(
        self,
        quantiles: list,
        labels=None,
        left_close: bool = False,
        include_breaks: bool = False,
        break_point_label: str = "break_point",
        category_label: str = "category",
        allow_duplicates: bool = False,
    ) -> DataFrame:
        out = self._frame.rename({self.name: "values"}).qcut(
            "values", quantiles, labels, left_close, allow_duplicates
        )
        if not include_breaks:
            out = out.select(["values", "category"])
        out = out.rename({"break_point": break_point_label} if include_breaks else {})
        return out.rename({"category": category_label}) if category_label != "category" else out

    # -- scalar UDF (Arrow-batched, unlike the reference's eager loop) -------
    def transform(self, fn: Callable, dtype=None) -> "Series":
        from pyspark.sql import types as T

        if dtype is None:
            # the reference infers the output dtype from the produced
            # values (series.ex:6888: String.length over strings -> s64).
            # Probe the fn on a driver-side sample; fall back to the
            # input type when the sample is empty/None.
            import datetime as _dtm

            # probe every sampled non-null value until one produces a
            # non-None result (fn may map early values to None while
            # later ones carry the real type); a probe exception
            # SURFACES — the reference's eager element loop would raise
            # on that value anyway, and a silent fallback casts to the
            # wrong Spark type
            probe = None
            for v in self._frame.head(20).to_columns()[self.name]:
                if v is None:
                    continue
                r = fn(v)
                if r is not None:
                    probe = r
                    break
            _PY2DT = [
                (bool, "boolean"), (int, ("s", 64)), (float, ("f", 64)),
                (str, "string"), (bytes, "binary"),
                (_dtm.datetime, ("naive_datetime", "us")), (_dtm.date, "date"),
                (_dtm.timedelta, ("duration", "us")),
            ]
            if probe is not None:
                for py, d in _PY2DT:
                    if isinstance(probe, py):
                        dtype = d
                        break
        ret = dt.to_spark(dtype) if dtype is not None else self._frame._sdf.schema[self.name].dataType

        def kernel(s: pd.Series) -> pd.Series:
            return s.map(lambda v: fn(v) if v is not None else None)

        udf = F.pandas_udf(kernel, ret)
        base = self._frame._sdf.withColumn(self.name, udf(F.col(self.name)))
        return Series(DataFrame(base, has_order=self._frame._has_order), self.name)

    def all_equal(self, other: "Series") -> bool:
        """Whole-series equality (reference series.ex:4690-4717):
        mismatched dtypes are False without running a job; same dtypes
        compare positionally with null == null (polars series_equal
        null_equal semantics). Distributed: row-index equi-join + a
        limit-1 mismatch probe — no collect."""
        if dt.normalize(self.dtype) != dt.normalize(other.dtype):
            return False
        a = (
            self._frame.select([self.name])
            ._with_row_index("__i__")
            ._sdf.select(F.col("__i__"), F.col(self.name).alias("__a__"))
        )
        b = (
            other._frame.select([other.name])
            ._with_row_index("__i__")
            ._sdf.select(F.col("__i__"), F.col(other.name).alias("__b__"))
        )
        j = a.join(b, "__i__", "full")
        return j.filter(~F.col("__a__").eqNullSafe(F.col("__b__"))).limit(1).count() == 0

    def index_of(self, value) -> int | None:
        d = self.dtype
        base = d[0] if isinstance(d, tuple) else d
        ok = _VALUE_KIND_CHECKS.get(base)
        if ok is not None and value is not None and not ok(value):
            # reference raises on a non-comparable value instead of
            # silently returning nil (series_test.exs 'raises on type
            # mismatch')
            raise ValueError(
                f"unable to get index of value: {value!r} in series of type: {d}"
            )
        import datetime as _dtm

        if isinstance(value, _dtm.time):
            # time columns are ns-since-midnight longs (the "tm" marker)
            value = dt.time_to_ns(value)
        f = self._frame._with_row_index("__idx__")
        rows = f._sdf.filter(F.col(self.name) == F.lit(value)).orderBy("__idx__").limit(1).collect()
        return rows[0]["__idx__"] if rows else None

    # -- reference-parity conveniences (series.ex) ---------------------------
    def mask(self, predicate) -> "Series":
        """Filter by a boolean Series / list (reference Series.mask/2).

        Distributed: the predicate aligns to rows via a row-index
        equi-join — never a driver-collected ``IN (i1, i2, …)`` literal,
        whose plan would grow O(n) with the kept-row count."""
        idxed = self._frame._with_row_index("__mi__")
        if isinstance(predicate, Series):
            pf = predicate._frame._with_row_index("__mi__")
            pred = pf._sdf.select(F.col("__mi__"), F.col(predicate.name).cast("boolean").alias("__mv__"))
        else:
            from pyspark.sql import types as T

            rows = [(i, None if v is None else bool(v)) for i, v in enumerate(predicate)]
            pred = idxed._sdf.sparkSession.createDataFrame(
                rows,
                T.StructType(
                    [T.StructField("__mi__", T.LongType(), False), T.StructField("__mv__", T.BooleanType(), True)]
                ),
            )
        keep = pred.filter(F.col("__mv__")).drop("__mv__")
        out = idxed._sdf.join(keep, "__mi__", "inner").drop("__mi__")
        return Series(idxed._replace(out), self.name)

    def shuffle(self, seed: int | None = None) -> "Series":
        return Series(self._frame.shuffle(seed=seed), self.name)

    def collect(self) -> "Series":
        """Eager materialization pin (reference Series.collect/1)."""
        return Series(self._frame.collect(), self.name)

    def ewm_mean(self, alpha: float = 0.5, adjust: bool = True, ignore_nils: bool = True) -> "Series":
        return self._ewm("mean", alpha, adjust, ignore_nils)

    def ewm_variance(self, alpha: float = 0.5, adjust: bool = True, ignore_nils: bool = True) -> "Series":
        return self._ewm("variance", alpha, adjust, ignore_nils)

    def ewm_standard_deviation(
        self, alpha: float = 0.5, adjust: bool = True, ignore_nils: bool = True
    ) -> "Series":
        return self._ewm("standard_deviation", alpha, adjust, ignore_nils)

    def _ewm(self, kind: str, alpha: float, adjust: bool, ignore_nils: bool) -> "Series":
        nf = self._frame.ewm(**{self.name: (kind, self.name, alpha, adjust, ignore_nils)})
        return Series(nf.select([self.name]), self.name)

    def to_numpy(self):
        """Values as a numpy array (reference Series.to_tensor via Nx;
        numpy is the idiomatic bridge here)."""
        import numpy as np

        return np.asarray(self.to_list())

    def to_tensor(self):
        """Dtype-faithful tensor view (reference Series.to_tensor,
        series.ex:966-991; numpy stands in for Nx): numerics keep their
        width, boolean packs to u8 0/1, temporal dtypes pack to their
        iovec integer counts (date s32 days, datetime/time/duration s64
        at the series precision)."""
        import datetime as _dtm

        import numpy as np

        d = dt.normalize(self.dtype)
        vals = self.to_list()
        if any(v is None for v in vals):
            # the reference's iovec/tensor path "fails if the series has
            # nil values" (series.ex:870) — a float NaN stand-in would
            # launder nil into NaN, the exact conflation from_list avoids
            raise ValueError(
                f"cannot convert {self.dtype} series with nil values to a "
                "tensor; use fill_missing/1 to handle them first"
            )
        if d == "boolean":
            return np.array([int(v) for v in vals], dtype="uint8")
        if isinstance(d, tuple) and d[0] in ("s", "u", "f"):
            base = {"s": "int", "u": "uint", "f": "float"}[d[0]]
            return np.array(vals, dtype=f"{base}{d[1]}")
        if d == "date":
            epoch = _dtm.date(1970, 1, 1)
            return np.array([(v - epoch).days for v in vals], dtype="int32")
        if isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime"):
            # exact integer microsecond counts (total_seconds() is a
            # float64 whose ~0.25µs resolution at modern epochs corrupts
            # ns-scale counts); µs is the physical precision, so ms/ns
            # are exact integer re-scalings of it
            epoch = _dtm.datetime(1970, 1, 1)

            def _us(v):
                if v.tzinfo is not None:
                    # zoned datetimes count from the UTC INSTANT
                    v = v.astimezone(_dtm.timezone.utc).replace(tzinfo=None)
                td = v - epoch
                return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

            if d[1] == "ms":
                # trunc toward ZERO (the engine's us->ms cast rule,
                # expr.py: us - us %% div with sign fixup), not floor —
                # they differ on pre-epoch sub-ms values
                counts = [
                    (u // 1_000 if u >= 0 else -((-u) // 1_000))
                    for u in (_us(v) for v in vals)
                ]
            elif d[1] == "us":
                counts = [_us(v) for v in vals]
            else:  # ns
                counts = [_us(v) * 1_000 for v in vals]
            return np.array(counts, dtype="int64")
        if d == "time":
            return np.array(
                [
                    v.hour * 3_600_000_000 + v.minute * 60_000_000
                    + v.second * 1_000_000 + v.microsecond
                    for v in vals
                ],
                dtype="int64",
            )
        if isinstance(d, tuple) and d[0] == "duration":
            return np.array(vals, dtype="int64")
        raise ValueError(f"cannot convert {self.dtype} series to tensor")

    @staticmethod
    def from_numpy(arr, name: str = "values", spark=None) -> "Series":
        return Series.from_list([v.item() if hasattr(v, "item") else v for v in arr], name=name, spark=spark)

    _NP_TO_DTYPE = {
        "int8": ("s", 8), "int16": ("s", 16), "int32": ("s", 32), "int64": ("s", 64),
        "uint8": ("u", 8), "uint16": ("u", 16), "uint32": ("u", 32), "uint64": ("u", 64),
        "float32": ("f", 32), "float64": ("f", 64), "bool": "boolean",
    }

    @staticmethod
    def from_tensor(arr, dtype=None, name: str = "values", spark=None) -> "Series":
        """Build from a numpy array — the stand-in for the reference's
        Nx tensors (series.ex:658-753 from_tensor). The ARRAY dtype
        carries (int32 stays s32, uint8 stays u8 — unlike from_numpy's
        python-value inference); ``dtype`` REINTERPRETS the raw values
        the way the reference does: u8 -> :boolean, s64 ns-counts ->
        :time, s64 unit-counts -> naive_datetime/duration (from_list's
        int-count ingestion rules)."""
        import numpy as np

        a = np.asarray(arr)
        if a.ndim == 0:
            a = a.reshape(1)
        vals = [v.item() for v in a.ravel()]
        if dtype is not None:
            nd = dt.normalize(dtype)
            if nd == "boolean":
                return Series.from_list([bool(v) for v in vals], dtype="boolean", name=name, spark=spark)
            if nd == "time" or (
                isinstance(nd, tuple) and nd[0] in ("naive_datetime", "datetime", "duration")
            ):
                base = Series.from_list(vals, dtype=("s", 64), name=name, spark=spark)
                return base.cast(nd)
            return Series.from_list(vals, dtype=nd, name=name, spark=spark)
        own = Series._NP_TO_DTYPE.get(str(a.dtype))
        return Series.from_list(vals, dtype=own, name=name, spark=spark)

    def to_binary(self) -> bytes:
        """Raw little-endian buffer of the values (reference
        Series.to_binary — nulls are not representable, same as
        the reference's contract)."""
        return b"".join(self.to_iovec())

    def to_iovec(self) -> list[bytes]:
        """List of per-chunk binaries (reference Series.to_iovec,
        series.ex — one binary per underlying chunk; to_binary is their
        concatenation). Chunks here are Arrow record batches of the
        collected result; a single-batch series yields one element.
        Object-dtype chunks (the decimal-backed u64 emulation) coerce
        through the iotype — numpy ``tobytes`` on an object array would
        dump POINTERS, not values."""
        import numpy as np
        import pyarrow as pa

        d = dt.normalize(self.dtype)
        if isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime", "duration"):
            # epoch/count s64 at the LOGICAL precision via the engine's
            # own datetime->int cast — a pandas round-trip would force
            # ns and overflow for far dates (reference ~N[0001-01-01]
            # iovec doctest, series.ex:908)
            return self.cast(("s", 64)).to_iovec()
        if d == "category":
            # u32 dictionary CODES in first-appearance order
            # (series.ex:922)
            cats = {v: i for i, v in enumerate(self.categories().to_list())}
            return [
                np.array([cats[v] for v in self.to_list()], dtype="uint32").tobytes()
            ]
        if d in ("string", "binary") or (isinstance(d, tuple) and d[0] in ("list", "struct")):
            raise ValueError(f"cannot convert series of dtype {d!r} into iovec")

        tbl = pa.Table.from_pandas(self.to_frame().to_pandas())
        col_ = tbl.column(0)
        out = []
        for chunk in col_.chunks:
            arr = chunk.to_numpy(zero_copy_only=False)
            if self.dtype == "date":
                # reference iotype for :date is {:s, 32} epoch DAYS —
                # numpy's datetime64 rendering would dump 8-byte values
                import datetime as _dtm

                if arr.dtype == object:
                    arr = np.array(
                        [(v - _dtm.date(1970, 1, 1)).days for v in arr], dtype="int32"
                    )
                else:
                    arr = arr.astype("datetime64[D]").astype("int32")
                out.append(arr.tobytes())
                continue
            if arr.dtype == object:
                iot = self.iotype()
                if iot == "none":
                    raise ValueError(f"to_iovec not supported for dtype {self.dtype}")
                kind, bits = iot
                if kind in ("s", "u") and bits == 128:
                    # decimals (including the u64-as-decimal emulation)
                    # are i128 iovecs; numpy has no int128 — pack manually
                    out.append(
                        b"".join(
                            int(v).to_bytes(16, "little", signed=True) for v in arr
                        )
                    )
                    continue
                np_t = {"s": f"int{bits}", "u": f"uint{bits}", "f": f"float{bits}"}.get(kind)
                if np_t is None:
                    raise ValueError(f"to_iovec not supported for dtype {self.dtype}")
                cast = float if kind == "f" else int
                arr = np.array([cast(v) for v in arr], dtype=np_t)
            else:
                # physical storage can be WIDER than the logical iotype
                # (u8/u16/u32 live in the next wider signed type) — pack
                # at the logical width like the reference
                iot = self.iotype()
                kind, bits = iot if isinstance(iot, tuple) else (None, 0)
                if kind in ("s", "u", "f") and bits < 128:
                    np_t = {"s": f"int{bits}", "u": f"uint{bits}", "f": f"float{bits}"}[kind]
                    if arr.dtype != np.dtype(np_t) and arr.dtype.kind in "iuf":
                        arr = arr.astype(np_t)
            out.append(arr.tobytes())
        return out

    @staticmethod
    def from_binary(data: bytes, dtype, name: str = "values", spark=None) -> "Series":
        """Build from a raw buffer + dtype (reference Series.from_binary)."""
        import numpy as np

        np_map = {
            ("s", 8): "int8", ("s", 16): "int16", ("s", 32): "int32", ("s", 64): "int64",
            ("u", 8): "uint8", ("u", 16): "uint16", ("u", 32): "uint32",
            ("f", 32): "float32", ("f", 64): "float64",
        }
        d = dt.normalize(dtype)
        if d in np_map:
            np_dtype = np_map[d]
        else:
            # non-numeric dtypes parse at their IOTYPE (reference
            # from_binary: time = s64 ns counts, date = s32 days,
            # boolean = u8 — series_test.exs:6505-6660)
            iot = {
                "time": "int64",
                "date": "int32",
                "boolean": "uint8",
            }.get(d if isinstance(d, str) else None)
            if iot is None and isinstance(d, tuple) and d[0] in (
                "duration", "naive_datetime", "datetime",
            ):
                iot = "int64"
            np_dtype = iot or "float64"
        arr = np.frombuffer(data, dtype=np_dtype)
        vals = [v.item() for v in arr]
        if d == "boolean":
            vals = [bool(v) for v in vals]
        if d == "date":
            import datetime as _dtm

            vals = [_dtm.date(1970, 1, 1) + _dtm.timedelta(days=v) for v in vals]
        if isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime", "duration"):
            # s64 counts at the dtype's precision -> the int->temporal
            # cast applies the count rules (reference from_binary
            # datetime doctest, series.ex:595)
            base = Series.from_list(vals, dtype=("s", 64), name=name, spark=spark)
            return base.cast(d)
        return Series.from_list(vals, dtype=d, name=name, spark=spark)

    def __iter__(self):
        """Row streaming (reference's Enumerable impl / to_enum)."""
        for row in self.to_frame().to_rows_stream():
            yield row[self.name]

    def __repr__(self):
        """The reference's inspect shape (series.ex:7098; the backend
        banner prints OUR engine name): ``#Explorer.Series<`` with a
        5-value truncated preview."""
        from .render import series_repr

        try:
            return series_repr(self)
        except Exception as e:  # a repr must never raise mid-debug
            return f"#Explorer.Series<unrenderable: {type(e).__name__}>"


# ---------------------------------------------------------------------------
# cross-series element-wise ops (reference series.ex add/2 … select/3):
# independent Series align positionally via a row-index equi-join; size-1
# operands broadcast; other size mismatches raise (reference semantics).
# ---------------------------------------------------------------------------


def _series_zip(first: "Series", *rest: "Series"):
    """Join independent Series positionally. Returns (sdf, names): an
    aligned Spark frame carrying ``__zi__`` (the shared row index) plus
    one column per input series (``__z0__``, ``__z1__``, …)."""
    sers = (first,) + rest
    base = first._frame._with_row_index("__zi__")
    sdf = base._sdf.select("__zi__", F.col(first.name).alias("__z0__"))
    for i, o in enumerate(rest, start=1):
        osdf = (
            o._frame._with_row_index("__zi__")
            ._sdf.select("__zi__", F.col(o.name).alias(f"__z{i}__"))
        )
        sdf = sdf.join(osdf, "__zi__", "inner")
    return sdf, [f"__z{i}__" for i in range(len(sers))]


def _series_result(sdf, expr_col, name: str) -> "Series":
    out = sdf.select(F.col("__zi__").alias(ORDER_COL), expr_col.alias(name))
    return Series(DataFrame(out, has_order=True), name)


def _broadcast_args(args):
    """Apply the reference's size rules: every Series operand must share
    one size or be size 1 (→ scalar); plain values pass through."""
    sers = [a for a in args if isinstance(a, Series)]
    sizes = {s.size() for s in sers}
    big = max(sizes) if sizes else 1
    if not sizes <= {1, big}:
        raise ValueError(f"series must all be the same size or size 1, got sizes {sorted(sizes)}")
    out = []
    for a in args:
        if isinstance(a, Series) and a.size() == 1 and big > 1:
            out.append(a.to_list()[0])
        else:
            out.append(a)
    return out


_COMPARISON_OPS = frozenset(
    {"equal", "not_equal", "greater", "greater_equal", "less", "less_equal"}
)


def _series_binop(op: str, a, b, name: str) -> "Series":
    from .expr import Expr, lit

    a, b = _broadcast_args([a, b])
    if op in _COMPARISON_OPS:
        # mismatched dtype KINDS raise eagerly (reference series.ex:4244
        # equal of :string vs false) — same bucket rule as in/2
        sa = a if isinstance(a, Series) else b
        other = b if isinstance(a, Series) else a
        if isinstance(other, Series):
            ka, kb = _isin_kind(sa.dtype), _isin_kind(other.dtype)
            if ka != kb and "null" not in (ka, kb):
                raise ValueError(
                    f"cannot invoke Explorer.Series.{op}/2 with mismatched "
                    f"dtypes: {sa.dtype} and {other.dtype}"
                )
        elif other is not None:
            d = dt.normalize(sa.dtype)
            base = d[0] if isinstance(d, tuple) else d
            if base in ("s", "u", "f", "decimal"):
                # any NUMERIC scalar compares with a numeric series —
                # the reference casts int-vs-float to {:f, 64}
                # (cast_to_ordered_series); only non-numeric kinds raise.
                # Decimal and numpy scalars count: from_list ingests
                # decimal.Decimal values, so they must compare back
                import decimal as _decimal
                import numbers as _numbers

                import numpy as _np

                ok = isinstance(
                    other, (int, float, _decimal.Decimal, _numbers.Real, _np.number)
                ) and not isinstance(other, (bool, _np.bool_))
            else:
                check = _VALUE_KIND_CHECKS.get(base)
                ok = check(other) if check is not None else True
            if not ok:
                raise ValueError(
                    f"cannot invoke Explorer.Series.{op}/2 with mismatched "
                    f"dtypes: {sa.dtype} and {other!r}"
                )
    if isinstance(a, Series) and isinstance(b, Series):
        sdf, (ca, cb) = _series_zip(a, b)
        # pass the zipped frame: dtype-aware lowerings (pow's integer
        # rule, date ± duration staying :date) analyze against it
        return _series_result(sdf, Expr(op, col(ca), col(cb)).lower(LowerCtx(sdf=sdf)), name)
    if isinstance(a, Series):
        return a._apply(Expr(op, a._c(), lit(b)), name=name)
    if isinstance(b, Series):
        return b._apply(Expr(op, lit(a), b._c()), name=name)
    raise TypeError("at least one operand must be a Series")


def _install_series_binops():
    table = {
        "add": "add",
        "subtract": "subtract",
        "multiply": "multiply",
        "divide": "divide",
        "pow": "pow",
        "quotient": "quotient",
        "remainder": "remainder",
        "equal": "equal",
        "not_equal": "not_equal",
        "greater": "greater",
        "greater_equal": "greater_equal",
        "less": "less",
        "less_equal": "less_equal",
        # boolean masks (reference Series.and/or — Elixir keywords, so
        # they surface here as binary_and/binary_or)
        "binary_and": "binary_and",
        "binary_or": "binary_or",
    }
    for meth, op in table.items():
        def make(op=op, meth=meth):
            def fn(self, other):
                return _series_binop(op, self, other, self.name)
            fn.__name__ = meth
            fn.__doc__ = f"Element-wise {meth} vs a Series or scalar (reference Series.{meth}/2)."
            return fn
        setattr(Series, meth, make())
    dunders = {
        "__add__": "add", "__sub__": "subtract", "__mul__": "multiply",
        "__truediv__": "divide", "__pow__": "pow", "__mod__": "remainder",
        "__gt__": "greater", "__ge__": "greater_equal",
        "__lt__": "less", "__le__": "less_equal",
        "__eq__": "equal", "__ne__": "not_equal",
    }
    for dunder, op in dunders.items():
        def make(op=op):
            def fn(self, other):
                return _series_binop(op, self, other, self.name)
            return fn
        setattr(Series, dunder, make())
    # reflected forms: scalar OP series (reference puts the scalar on
    # either side — Series.pow(2, s), series_test.exs pow-on-the-left
    # grid; _series_binop already lifts a scalar left operand)
    reflected = {
        "__radd__": "add", "__rsub__": "subtract", "__rmul__": "multiply",
        "__rtruediv__": "divide", "__rpow__": "pow", "__rmod__": "remainder",
    }
    for dunder, op in reflected.items():
        def make_r(op=op):
            def fn(self, other):
                return _series_binop(op, other, self, self.name)
            return fn
        setattr(Series, dunder, make_r())
    # __eq__ returns an element-wise Series (like the rest of the operator
    # surface), so identity hashing must be explicit, and truth-testing a
    # Series is ambiguous (mirrors pandas/numpy)
    Series.__hash__ = lambda self: id(self)
    def _no_bool(self):
        raise ValueError(
            "the truth value of a Series is ambiguous — use .all()/.any() "
            "or compare with .equal()/.not_equal() and aggregate"
        )
    Series.__bool__ = _no_bool


_install_series_binops()


def _series_select(predicate: "Series", on_true, on_false, name: str = "values") -> "Series":
    """Reference Series.select/3: element-wise conditional between two
    series/scalars under a boolean mask; size-1 operands broadcast,
    other size mismatches raise."""
    from .expr import Expr, lit

    if predicate.dtype != "boolean":
        raise ValueError(f"select/3 expects a boolean mask, got {predicate.dtype}")
    if isinstance(on_true, Series) and isinstance(on_false, Series):
        # branches of mismatched KINDS raise (reference series_test.exs
        # 'select errors mixing incompatible types'; int/float promote)
        ka, kb = _isin_kind(on_true.dtype), _isin_kind(on_false.dtype)
        if ka != kb and "null" not in (ka, kb):
            raise ValueError(
                f"cannot invoke Explorer.Series.select/3 with mismatched "
                f"branch dtypes: {on_true.dtype} and {on_false.dtype}"
            )
    pred, on_true, on_false = _broadcast_args([predicate, on_true, on_false])
    if not isinstance(pred, Series):
        # single-row predicate over longer branches: pure broadcast
        chosen = on_true if pred else on_false
        if isinstance(chosen, Series):
            return Series(chosen._frame.select([chosen.name]), chosen.name)
        raise ValueError("select/3 with scalar predicate requires a series branch")
    sers = [s for s in (on_true, on_false) if isinstance(s, Series)]
    parts = [pred] + sers
    sdf, names = _series_zip(*parts)
    it = iter(names[1:])
    t = col(next(it)) if isinstance(on_true, Series) else lit(on_true)
    f_ = col(next(it)) if isinstance(on_false, Series) else lit(on_false)
    expr = Expr("select", col(names[0]), t, f_)
    return _series_result(sdf, expr.lower(LowerCtx()), name)


Series.select = lambda self, on_true, on_false: _series_select(self, on_true, on_false)


def _series_concat(series_list, other=None) -> "Series":
    """Reference Series.concat/1 and concat/2: vertical concatenation
    with the frame layer's dtype-merge rules (null promotes, ints widen,
    int+float → float; dtypes.merge via DataFrame.concat_rows). Accepts
    a list (Series.concat([a, b])), the two-series form
    (Series.concat(a, b)), or the instance form (a.concat(b))."""
    if isinstance(series_list, Series):
        if other is None:
            rest = []
        elif isinstance(other, (list, tuple)):
            rest = list(other)  # a.concat([b, c])
        else:
            rest = [other]
        series_list = [series_list] + rest
    first = series_list[0]
    out = first.to_frame()
    for s in series_list[1:]:
        nf = s.to_frame()
        if s.name != first.name:
            nf = nf.rename({s.name: first.name})
        out = out.concat_rows(nf)
    return Series(out, first.name)


Series.concat = _series_concat


def _install_scalar_methods():
    """Attach every single-series function from the ``functions`` module
    (first parameter ``a`` = the series) as a direct Series method, the
    reference's call style (``Series.substring/3``, ``Series.log/1``, …).
    Methods already defined on Series (aggregations, fill_missing, rank,
    sample, …) keep their hand-written implementations."""
    import inspect

    from . import functions as fns

    # multi-series / frame-level functions that don't make sense applied
    # to one series' own column (cross-series variants defined below)
    skip = {"correlation", "covariance", "select", "coalesce", "format", "concat", "row_index", "col", "lit"}
    for name in dir(fns):
        if name.startswith("_") or name in skip:
            continue
        fn = getattr(fns, name)
        if not callable(fn) or isinstance(fn, type):
            continue
        try:
            sig = inspect.signature(fn)
        except (TypeError, ValueError):
            continue
        params = list(sig.parameters.values())
        first_is_series = params and (
            params[0].name == "a" or params[0].kind is inspect.Parameter.VAR_POSITIONAL
        )
        if not first_is_series or hasattr(Series, name):
            continue

        def make(fn=fn, name=name):
            def method(self, *args, **kwargs):
                # tz wall-clock reads are handled at the expression layer
                # (expr._wall reads the column's tz metadata) so Series-
                # and mutate-level answers can never diverge
                return self._apply(fn(self._c(), *args, **kwargs))

            method.__name__ = name
            method.__doc__ = f"Element-wise {name} (functions.{name} applied to this series)."
            return method

        setattr(Series, name, make())


_install_scalar_methods()


def _isin_kind(dtype) -> str:
    """Comparable-kind bucket for Series.in/2 validation (reference
    in/2 grid: numeric widths/flavors inter-compare, everything else
    only with itself — string vs binary, date vs datetime raise)."""
    base = dtype[0] if isinstance(dtype, tuple) else dtype
    if base in ("s", "u", "f", "decimal"):
        return "numeric"
    if base in ("datetime", "naive_datetime"):
        return "datetime"
    if base == "category":
        return "string"
    return base


def _series_isin(self, values) -> "Series":
    """Reference Series.in/2. A Series right side runs DISTRIBUTED —
    distinct non-null values left-joined back on equality (Spark
    treats NaN = NaN, matching polars) — never a driver-collected
    literal list. Nils on the right are ignored (non-members stay
    false, series_test.exs:1525-1537); nil left values stay nil;
    incompatible dtype kinds raise."""
    from .expr import Expr

    if isinstance(values, Series):
        ka, kb = _isin_kind(self.dtype), _isin_kind(values.dtype)
        if ka != kb and "null" not in (ka, kb):
            raise ValueError(
                f"cannot invoke Series.in/2 with mismatched dtypes: {self.dtype} and {values.dtype}"
            )
        vals = (
            values._frame.lazy_sdf()
            .select(F.col(values.name).alias("__inval__"))
            .where(F.col("__inval__").isNotNull())
            .distinct()
        )
        base = self._frame._ordered()
        joined = base._sdf.join(vals, F.col(self.name) == F.col("__inval__"), "left")
        res = F.when(F.col(self.name).isNull(), F.lit(None).cast("boolean")).otherwise(
            F.col("__inval__").isNotNull()
        )
        out = joined.select(F.col(ORDER_COL), res.alias(self.name))
        return Series(DataFrame(out, has_order=True), self.name)
    # list rhs: the same kind validation as the Series path — Spark's
    # implicit coercion would otherwise compare int-vs-string silently
    import datetime as _dtm

    def _value_kind(v):
        if isinstance(v, bool):
            return "boolean"
        if isinstance(v, (int, float)):
            return "numeric"
        if isinstance(v, str):
            return "string"
        if isinstance(v, bytes):
            return "binary"
        if isinstance(v, _dtm.datetime):
            return "datetime"
        if isinstance(v, _dtm.date):
            return "date"
        if isinstance(v, _dtm.time):
            return "time"
        if isinstance(v, _dtm.timedelta):
            return "duration"
        return None

    ka = _isin_kind(self.dtype)
    for v in values:
        kb = None if v is None else _value_kind(v)
        if kb is not None and ka != kb and ka != "null":
            raise ValueError(
                f"cannot invoke Series.in/2 with mismatched dtypes: {self.dtype} and {v!r}"
            )
    return self._apply(Expr("binary_in", self._c(), list(values)))


Series.isin = _series_isin
Series.is_in = _series_isin


def _series_pair_agg(op: str, a: "Series", b: "Series", *extra):
    from .expr import Expr

    a2, b2 = _broadcast_args([a, b])
    sdf, (ca, cb) = _series_zip(a2, b2)
    one = sdf.agg(Expr(op, col(ca), col(cb), *extra).lower(LowerCtx(summarise=True)).alias("__out__"))
    return one.collect()[0]["__out__"]


def _series_correlation(self, other: "Series", ddof: int = 1, method: str = "pearson"):
    """Pearson/Spearman correlation of two series (reference
    Series.correlation/3), positionally aligned."""
    if method == "spearman":
        return _series_pair_agg("correlation", self.rank("average"), other.rank("average"))
    return _series_pair_agg("correlation", self, other)


def _series_covariance(self, other: "Series", ddof: int = 1):
    return _series_pair_agg("covariance", self, other, ddof)


Series.correlation = _series_correlation
Series.covariance = _series_covariance


def _series_coalesce(self, *others) -> "Series":
    """Element-wise first non-nil (reference Series.coalesce/2 +
    the coalesce([s1, s2, s3]) list form, series.ex:2328): mismatched
    dtype kinds raise eagerly (series.ex:2357)."""
    out = self
    for other in others:
        if isinstance(other, Series):
            ka, kb = _isin_kind(out.dtype), _isin_kind(other.dtype)
            if ka != kb and "null" not in (ka, kb):
                raise ValueError(
                    "cannot invoke Explorer.Series.coalesce/2 with mismatched "
                    f"dtypes: {out.dtype} and {other.dtype}"
                )
        out = _series_binop("coalesce", out, other, self.name)
    return out


def _series_row_index(self) -> "Series":
    """0-based row index of the series (reference Series.row_index/1,
    series.ex:3073)."""
    from . import functions as fns

    return self._apply(fns.row_index())


Series.coalesce = _series_coalesce
Series.row_index = _series_row_index
