"""Expression IR ("LazySeries") lowered to ``pyspark.sql.Column``.

The reference builds an op/args tree per expression and translates it to
engine expressions (reference: lib/explorer/backend/lazy_series.ex:12-21,
op table :23-174; translation lib/explorer/polars_backend/expression.ex).
Here the tree lowers to Spark Columns and Catalyst does the rest.

Grouped semantics (the key trick, reference lazy_frame.ex:503-521): inside
``mutate``/``filter`` on a grouped frame, aggregation nodes lower to
``agg().over(Window.partitionBy(*groups))`` so they broadcast per group;
inside ``summarise`` they lower to plain aggregate columns. Order-dependent
ops (shift/cumulative/rank/row_index) lower over a window ordered by the
frame's hidden row-order column.
"""

from __future__ import annotations

import re

from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import Column
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datetime import time as _time_type

from . import dtypes as dt

# ---------------------------------------------------------------------------
# lowering context
# ---------------------------------------------------------------------------


@dataclass
class LowerCtx:
    groups: list = field(default_factory=list)  # group column names
    order: str | None = None  # hidden row-order column name
    summarise: bool = False  # True inside summarise(): aggs stay plain
    # the frame being lowered against, when the call site knows it:
    # dtype-DEPENDENT lowerings (pow's integer result rule) resolve
    # input types by analyzing a select against it (analysis only,
    # no job); None degrades to Spark's default typing
    sdf: object = None


def _probe_fields(ctx: LowerCtx, *cols: Column) -> list | None:
    """Analysis-only schema fields of ``cols`` against ``ctx.sdf`` — one
    select per call, no job. None without a frame, or when the select
    does not resolve against it (a column lowered for another context);
    the caller then keeps Spark's own typing."""
    if ctx.sdf is None:
        return None
    try:
        return ctx.sdf.select(*(c.alias(f"__p{i}__") for i, c in enumerate(cols))).schema.fields
    except AnalysisException:
        return None


def _group_window(ctx: LowerCtx):
    return W.partitionBy(*ctx.groups) if ctx.groups else W.partitionBy()


def _w(ctx: LowerCtx, agg: Column) -> Column:
    """Window-wrap ONE primitive aggregate for the current context.
    COMPOUND aggregate lowerings (skew correction, custom-ddof variance,
    struct-based first/argmin, size(collect_set)) must wrap each inner
    aggregate themselves — Column.over on the compound top is illegal
    (MISSING_GROUP_BY) — and register in _SELF_WINDOWED so the generic
    wrap in Expr.lower stays off."""
    return agg if ctx.summarise else agg.over(_group_window(ctx))


def _ordered_window(ctx: LowerCtx, descending: bool = False):
    if ctx.order is None:
        raise ValueError("order-dependent expression requires frame row order")
    key = F.col(ctx.order).desc() if descending else F.col(ctx.order).asc()
    w = W.partitionBy(*ctx.groups) if ctx.groups else W.partitionBy()
    return w.orderBy(key)


# ---------------------------------------------------------------------------
# Expr node
# ---------------------------------------------------------------------------


class Expr:
    """One IR node: op name + args (child Exprs or plain Python values)."""

    __slots__ = ("op", "args")

    def __init__(self, op: str, *args):
        self.op = op
        self.args = args

    def __repr__(self):
        return f"Expr({self.op}, {', '.join(map(repr, self.args))})"

    # -- lowering ----------------------------------------------------------
    def lower(self, ctx: LowerCtx | None = None) -> Column:
        ctx = ctx or LowerCtx()
        fn = _LOWER.get(self.op)
        if fn is None:
            raise NotImplementedError(f"expression op {self.op!r} not implemented")
        out = fn(ctx, *self.args)
        if self.op in AGG_OPS and not ctx.summarise and self.op not in _SELF_WINDOWED:
            # grouped mutate/filter: aggregation broadcasts over its group
            out = out.over(_group_window(ctx))
        if self.op in _AGG_NULL_DEFAULTS:
            # all-null/empty input: the reference yields the identity
            # element (vacuous truth — all?=true, any?=false; summarise
            # grid data_frame_test.exs:4483-4502); Spark's bool_and/bool_or
            # yield null. Applied AFTER the window wrap so the coalesce
            # stays outside the over().
            out = F.coalesce(out, F.lit(_AGG_NULL_DEFAULTS[self.op]))
        return out

    def is_agg(self) -> bool:
        """True if this tree's root produces an aggregate."""
        return self.op in AGG_OPS

    def references_agg(self) -> bool:
        if self.op in AGG_OPS:
            return True
        return any(a.references_agg() for a in self.args if isinstance(a, Expr))

    # -- operator overloads --------------------------------------------------
    def __add__(self, o):
        return Expr("add", self, _wrap(o))

    def __radd__(self, o):
        return Expr("add", _wrap(o), self)

    def __sub__(self, o):
        return Expr("subtract", self, _wrap(o))

    def __rsub__(self, o):
        return Expr("subtract", _wrap(o), self)

    def __mul__(self, o):
        return Expr("multiply", self, _wrap(o))

    def __rmul__(self, o):
        return Expr("multiply", _wrap(o), self)

    def __truediv__(self, o):
        return Expr("divide", self, _wrap(o))

    def __rtruediv__(self, o):
        return Expr("divide", _wrap(o), self)

    def __mod__(self, o):
        return Expr("remainder", self, _wrap(o))

    def __rmod__(self, o):
        return Expr("remainder", _wrap(o), self)

    def __pow__(self, o):
        return Expr("pow", self, _wrap(o))

    def __rpow__(self, o):
        return Expr("pow", _wrap(o), self)

    def __neg__(self):
        return Expr("subtract", lit(0), self)

    def __eq__(self, o):  # noqa: D105
        return Expr("equal", self, _wrap(o))

    def __ne__(self, o):
        return Expr("not_equal", self, _wrap(o))

    def __gt__(self, o):
        return Expr("greater", self, _wrap(o))

    def __ge__(self, o):
        return Expr("greater_equal", self, _wrap(o))

    def __lt__(self, o):
        return Expr("less", self, _wrap(o))

    def __le__(self, o):
        return Expr("less_equal", self, _wrap(o))

    def __and__(self, o):
        return Expr("binary_and", self, _wrap(o))

    def __rand__(self, o):
        return Expr("binary_and", _wrap(o), self)

    def __or__(self, o):
        return Expr("binary_or", self, _wrap(o))

    def __ror__(self, o):
        return Expr("binary_or", _wrap(o), self)

    def __invert__(self):
        return Expr("unary_not", self)

    def __hash__(self):
        return id(self)

    # -- fluent helpers (the most-used Series ops) ---------------------------
    def alias(self, name: str):
        return Expr("alias", self, name)

    def cast(self, dtype):
        return Expr("cast", self, dtype)

    def is_nil(self):
        return Expr("is_nil", self)

    def is_not_nil(self):
        return Expr("is_not_nil", self)

    def isin(self, values):
        return Expr("binary_in", self, list(values))

    def abs(self):
        return Expr("abs", self)

    def field(self, name: str):
        return Expr("field", self, name)


def _wrap(v):
    return v if isinstance(v, Expr) else Expr("literal", v)


def col(name: str) -> Expr:
    return Expr("column", name)


def lit(value) -> Expr:
    return Expr("literal", value)


def _c(x, ctx) -> Column:
    """Lower a child (Expr or literal) to a Column."""
    if isinstance(x, Expr):
        return x.lower(ctx)
    if isinstance(x, _time_type):
        # same rendering as the literal op: ns-since-midnight long
        return F.lit(dt.time_to_ns(x)).cast("long")
    return F.lit(x)


# ---------------------------------------------------------------------------
# the op table
# ---------------------------------------------------------------------------

AGG_OPS = {
    "sum",
    "min",
    "max",
    "mean",
    "median",
    "mode",
    "count",
    "size",
    "nil_count",
    "first",
    "last",
    "n_distinct",
    "product",
    "variance",
    "standard_deviation",
    "quantile",
    "skew",
    "argmin",
    "argmax",
    "correlation",
    "covariance",
    "all",
    "any",
    "all_equal",
}

# order-dependent ops (consume ctx.order); documented for frame verbs
ORDERED_OPS = {
    "shift",
    "row_index",
    "rank",
    "cumulative_sum",
    "cumulative_min",
    "cumulative_max",
    "cumulative_product",
    "cumulative_count",
    "peaks",
    "fill_missing_forward",
    "fill_missing_backward",
}


def _ieee_divide(a: Column, b: Column) -> Column:
    """Float division with IEEE zero-denominator semantics (Spark's
    Divide yields NULL): x/0 -> sign(x)*Inf (flipped for -0.0 via
    signbit), 0/0 and NaN/0 -> NaN."""
    ad, bd = a.cast("double"), b.cast("double")
    pos_inf, neg_inf, nan = F.lit(float("inf")), F.lit(float("-inf")), F.lit(float("nan"))
    mag = (
        F.when(F.isnan(ad) | (ad == 0.0), nan)
        .when(ad > 0, pos_inf)
        .when(ad < 0, neg_inf)
    )
    # negative-zero detection without signbit() (absent in this
    # pyspark): == can't see -0.0, but Spark RENDERS it signed — within
    # the bd == 0.0 branch a leading '-' means exactly -0.0
    at_zero = F.when(bd.cast("string").startswith("-"), -mag).otherwise(mag)
    return F.when(bd == 0.0, at_zero).otherwise(ad / b)


def _binop(fn):
    return lambda ctx, a, b: fn(_c(a, ctx), _c(b, ctx))


def _add_sub(ctx: "LowerCtx", a, b, sub: bool) -> Column:
    """add/subtract with the reference's DATE arithmetic rule: date ±
    duration stays :date — the sub-day part truncates (duration_test.exs
    :172-239; Spark's date + interval promotes to timestamp). Type
    confirmation is analysis-only against ctx.sdf; without a frame the
    plain operator stands (the documented degradation every dtype-aware
    lowering shares). date - date already yields an interval natively."""
    ca, cb = _c(a, ctx), _c(b, ctx)
    out = (ca - cb) if sub else (ca + cb)
    fields = _probe_fields(ctx, ca, cb)
    if fields is None:
        return out
    ta, tb = fields[0].dataType, fields[1].dataType
    pair = (
        (isinstance(ta, T.DateType) and isinstance(tb, T.DayTimeIntervalType))
        or (isinstance(tb, T.DateType) and isinstance(ta, T.DayTimeIntervalType))
    )
    return out.cast("date") if pair else out


def _pow(ctx: "LowerCtx", a, b) -> Column:
    """Reference pow dtype rules (series_test.exs:2611-2700): int ^ int
    stays INTEGER ({:s, 64} after our unsigned promotion), float width
    is preserved (f32 ^ int = f32; only an f64 operand widens to f64).
    Spark's POWER always returns double, so the result casts back when
    the call site supplied a frame to resolve input types against
    (LowerCtx.sdf — analysis only, no job); without one, Spark's double
    stands. A negative exponent with integer inputs truncates here
    where the reference raises (documented divergence — detecting it
    eagerly would cost a data scan)."""
    ca, cb = _c(a, ctx), _c(b, ctx)
    out = F.pow(ca, cb)
    fields = _probe_fields(ctx, ca, cb)
    if fields is None:
        return out
    ta, tb = fields[0].dataType, fields[1].dataType
    if isinstance(ta, T.IntegralType) and isinstance(tb, T.IntegralType):
        return out.cast("long")
    f32_or_int = (T.FloatType, T.IntegralType)
    if isinstance(ta, f32_or_int) and isinstance(tb, f32_or_int):
        return out.cast("float")  # no f64 operand: stay f32
    return out


def _unop(fn):
    return lambda ctx, a: fn(_c(a, ctx))


def _us_to_interval(us: Column) -> Column:
    """Microsecond count (long Column) -> DayTimeIntervalType. Exact up
    to 2^53 µs (~285 years); days split keeps make_dt_interval's double
    seconds small enough to be exact."""
    days = F.floor(us / F.lit(86_400_000_000)).cast("long")
    rem = us - days * F.lit(86_400_000_000)
    return F.make_dt_interval(
        days.cast("int"), F.lit(0), F.lit(0), rem.cast("double") / F.lit(1_000_000.0)
    )


def _div_trunc_exact(v: Column, divisor: int) -> Column:
    """Exact integral division truncating toward zero. Long/int in Spark
    is DOUBLE division, which rounds past 2^53 — ns epoch counts exceed
    that ~104 days from epoch — so subtract the sign-preserving remainder
    and divide on a decimal view, exact for the full i64 range (same
    pattern as ``_duration_total``)."""
    d = F.lit(divisor)
    return ((v - v % d).cast("decimal(38,0)") / d).cast("long")


def _count_to_us(v: Column, unit: str) -> Column:
    """A long COUNT of ``unit`` -> µs, the physical storage unit (ns
    counts truncate toward zero)."""
    if unit == "ns":
        return _div_trunc_exact(v, 1_000)
    return v * F.lit(dt.US_PER_UNIT[unit])


def _cast(ctx: "LowerCtx", a, dtype) -> Column:
    """Dtype-aware cast lowering, the one cast of the library —
    ``Series.cast`` and ``mutate(x=cast(col, dtype))`` both lower here
    (reference polars cast semantics, series_test.exs:4353-4446), and
    ``_node_meta`` decides the metadata the result carries. The rules
    that read the source's logical metadata live here:

    - datetime -> integer: epoch count in the column's LOGICAL
      precision (``dt_p`` metadata, default µs)
    - duration -> integer: count in the column's ``dur_p`` unit
    - duration -> duration: truncation toward zero to the target unit
    - {:naive_datetime|datetime, ms} target: sub-ms truncates toward 0
    - time -> date/datetime/duration: ``ValueError``, eagerly (a time
      is ns since midnight, not an epoch count)

    The metadata-free count rules (integer -> date/datetime/duration,
    per element of lists and per field of structs) are ``_elem_cast``'s.

    Source types resolve via the analysis-only ``LowerCtx.sdf`` (the
    ``_wall``/``_pow`` mechanism); without a frame Spark's plain cast
    stands — same documented degradation as computed-children tz."""
    d = dt.normalize(dtype)
    c = _c(a, ctx)
    src_t, src_meta = None, {}
    fields = _probe_fields(ctx, c)
    if fields is not None:
        src_t, src_meta = fields[0].dataType, dict(fields[0].metadata or {})
    if isinstance(a, Expr):
        # computed children carry no Spark metadata — the Expr-tree
        # inference supplies tz/dt_p/dur_p so e.g. a shifted tz column
        # still casts to the epoch count of its LOGICAL precision
        src_meta = {**_node_meta(a, ctx), **src_meta}
    kind = d[0] if isinstance(d, tuple) else d
    if src_meta.get("tm") and kind in ("date", "naive_datetime", "datetime", "duration"):
        # a :time value is ns since midnight, not an epoch or duration
        # count: reading it as one gives a silently wrong instant
        raise ValueError(f"cannot cast :time to {dtype!r}")
    if isinstance(src_t, (T.TimestampType, T.TimestampNTZType)) and dt.is_integer(d):
        unit = src_meta.get("dt_p", "us")
        us = F.unix_micros(c.cast(T.TimestampType()))
        if unit == "ns":
            v = us * F.lit(1_000)
        elif unit in ("ms", "s"):
            div = F.lit(dt.US_PER_UNIT[unit])
            v = ((us - us % div) / div).cast("long")  # % keeps sign: trunc to 0
        else:
            v = us
        return v.cast(dt.to_spark(d))
    if isinstance(src_t, T.DayTimeIntervalType) and dt.is_integer(d):
        return _duration_total(ctx, a, src_meta.get("dur_p", "us")).cast(dt.to_spark(d))
    if isinstance(src_t, T.DayTimeIntervalType) and kind == "duration":
        # precision re-cast truncates the physical time toward zero to
        # the target unit (the reference converts the COUNT)
        us = _duration_total(ctx, a, "us")
        unit_us = dt.US_PER_UNIT[dt.unit_of(d)]
        if unit_us > 1:
            us = us - us % F.lit(unit_us)  # % keeps sign: trunc toward 0
        return _us_to_interval(us)
    if (
        kind in ("naive_datetime", "datetime")
        and dt.unit_of(d) == "ms"
        and src_t is not None
        and not isinstance(src_t, T.IntegralType)
    ):
        us = F.unix_micros(c.cast(T.TimestampType()))
        ts = F.timestamp_micros(us - us % F.lit(1_000))
        return ts.cast(T.TimestampNTZType()) if kind == "naive_datetime" else ts
    if _elem_needs_rule(src_t, d):
        return _elem_cast(c, src_t, d)
    return c.cast(dt.to_spark(d))


def _elem_needs_rule(src_et, d) -> bool:
    if isinstance(src_et, T.IntegralType) and (
        d == "date" or (isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime", "duration"))
    ):
        return True
    if isinstance(src_et, (T.TimestampType, T.TimestampNTZType)) and dt.is_integer(d):
        return True
    if isinstance(src_et, T.ArrayType) and isinstance(d, tuple) and d[0] == "list":
        return _elem_needs_rule(src_et.elementType, dt.normalize(d[1]))
    if isinstance(src_et, T.StructType) and isinstance(d, tuple) and d[0] == "struct":
        # field-wise: Spark refuses struct<bigint> -> struct<timestamp>
        # but the reference casts each field with the count rules
        # (struct_test.exs 'structs with integers to ... naive datetimes')
        by_name = {f.name: f.dataType for f in src_et.fields}
        return any(
            name in by_name and _elem_needs_rule(by_name[name], dt.normalize(fd))
            for name, fd in d[1]
        )
    return False


def _elem_cast(x: Column, src_et, d) -> Column:
    """The temporal COUNT cast rules that need no metadata: an integer
    is an EPOCH / unit COUNT in the target precision (Spark's plain cast
    reads SECONDS — a silent 10^6 divergence), a datetime reads as its
    µs epoch count. Lists apply them per element (reference
    list_test.exs 'list of integer series to list of naive datetime'),
    structs per field; Spark's array/struct casts refuse these."""
    if isinstance(src_et, T.IntegralType):
        if d == "date":
            return F.date_from_unix_date(x.cast("int"))
        if isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime"):
            ts = F.timestamp_micros(_count_to_us(x.cast("long"), dt.unit_of(d)))
            return ts.cast(T.TimestampNTZType()) if d[0] == "naive_datetime" else ts
        if isinstance(d, tuple) and d[0] == "duration":
            return _us_to_interval(_count_to_us(x.cast("long"), dt.unit_of(d)))
    if isinstance(src_et, (T.TimestampType, T.TimestampNTZType)) and dt.is_integer(d):
        return F.unix_micros(x.cast(T.TimestampType())).cast(dt.to_spark(d))
    if isinstance(src_et, T.ArrayType) and isinstance(d, tuple) and d[0] == "list":
        inner = dt.normalize(d[1])
        return F.transform(x, lambda y: _elem_cast(y, src_et.elementType, inner))
    if isinstance(src_et, T.StructType) and isinstance(d, tuple) and d[0] == "struct":
        # rebuild field-wise; the when-guard keeps a NULL outer struct
        # null (F.struct of a null struct's fields would fabricate a
        # struct of nulls)
        by_name = {f.name: f.dataType for f in src_et.fields}
        parts = []
        for name, fd in d[1]:
            fd_n = dt.normalize(fd)
            child = x.getField(name)
            if name in by_name and _elem_needs_rule(by_name[name], fd_n):
                parts.append(_elem_cast(child, by_name[name], fd_n).alias(name))
            else:
                parts.append(child.cast(dt.to_spark(fd_n)).alias(name))
        return F.when(x.isNotNull(), F.struct(*parts))
    return x.cast(dt.to_spark(d))


def _log(ctx, a, base=None):
    """Natural log, or log to a positive base — validated EAGERLY
    (reference Series.log/2 raises ArgumentError 'base must be a
    positive number' for base <= 0; Spark's log would silently yield
    nulls)."""
    if base is None:
        return F.log(_c(a, ctx))
    if not float(base) > 0:
        raise ValueError("base must be a positive number")
    return F.log(float(base), _c(a, ctx))


# ops whose result VALUE is (one of) its temporal children — metadata
# (tz / logical precision) rides through them; everything else drops to
# the physical µs/UTC reading. Spark itself drops column metadata
# through every function, so this is the repo's OWN dtype carriage, the
# way the reference's LazySeries carries a dtype per node
# (lazy_series.ex:216-236).
_META_TRANSPARENT = frozenset(
    {
        "alias",
        "add",
        "subtract",
        "coalesce",
        "select",  # conditional select(cond, on_true, on_false)
        "fill_missing_with_value",
        "fill_missing_forward",
        "fill_missing_backward",
        "min",
        "max",
        "first",
        "last",
        "mode",
        "shift",
        "clip",
        "cumulative_min",
        "cumulative_max",
        # order statistics return a value OF the input dtype (reference
        # quantile doctest on :time, series.ex:2852)
        "quantile",
        "median",
    }
)


def _node_meta(x, ctx: "LowerCtx") -> dict:
    """Temporal metadata (``tz`` / ``dt_p`` / ``dur_p``) of an
    expression's RESULT, inferred structurally over the Expr tree.
    Column nodes read the frame's stamped metadata; cast nodes SET it;
    value-preserving ops propagate it when their temporal children
    agree (datetime ± duration keeps the datetime side's zone — the
    reference passes the dtype's zone through arithmetic,
    shared.ex:78-79). ``tz`` is only ever APPLIED where the lowered
    Spark type is a TimestampType (``_wall`` / ``_cast`` check), so
    inferring through datetime−datetime (a duration) is harmless."""
    if not isinstance(x, Expr):
        return {}
    op = x.op
    if op == "column":
        sdf = ctx.sdf
        if sdf is None:
            return {}
        try:
            md = dict(sdf.schema[x.args[0]].metadata or {})
        except KeyError:
            return {}
        return {k: md[k] for k in ("tz", "dt_p", "dur_p", "tm", "uw") if k in md}
    if op == "to_time":
        # time-of-day extraction emits the ns-since-midnight long whose
        # logical dtype IS :time (the "tm" marker)
        return {"tm": True}
    if op in _UW32_OPS:
        # count-shaped ops are :u32 in the reference (polars idx/count
        # outputs: row_index, rank, cumulative_count, count_matches,
        # n_distinct, list lengths — series.ex doctests render u32);
        # physically the next wider signed int, "uw" carries the logical
        # unsignedness like "tm" carries :time
        if op == "rank":
            # only :ordinal is u32; :min/:max/:dense render s64,
            # :average f64, :random s64 (series.ex:2025-2054 doctests)
            method = x.args[1] if len(x.args) > 1 else "average"
            return {"uw": 32} if method == "ordinal" else {}
        return {"uw": 32}
    if op == "cast":
        # the one place that decides the labels a cast stamps (Series.cast
        # and mutate both read it): "UTC" aliases "Etc/UTC" and is not
        # stamped; an unknown zone raises here, eagerly; a list cast
        # labels its time / duration leaf like the scalar cast
        d = dt.normalize(x.args[1])
        leaf = dt.list_leaf(d)
        meta = {}
        if isinstance(d, tuple) and d[0] in ("naive_datetime", "datetime"):
            unit = dt.unit_of(d)
            if unit in ("ms", "ns"):
                meta["dt_p"] = unit
            if d[0] == "datetime" and len(d) > 2 and d[2] not in ("Etc/UTC", "UTC"):
                dt.check_tz(d[2])
                meta["tz"] = d[2]
        if isinstance(leaf, tuple) and leaf[0] == "duration" and dt.unit_of(leaf) != "us":
            meta["dur_p"] = dt.unit_of(leaf)
        if leaf == "time":
            meta["tm"] = True
        if d == "category":
            meta["cat"] = True
        if isinstance(d, tuple) and d[0] == "u":
            meta["uw"] = d[1]
        return meta
    if op in _META_TRANSPARENT:
        metas = [_node_meta(a, ctx) for a in x.args if isinstance(a, Expr)]
        dt_metas = [
            {k: m[k] for k in ("tz", "dt_p") if k in m} for m in metas
        ]
        dt_metas = [m for m in dt_metas if m]
        if dt_metas and all(m == dt_metas[0] for m in dt_metas):
            return dict(dt_metas[0])
        dur_metas = [{"dur_p": m["dur_p"]} for m in metas if "dur_p" in m]
        if not dt_metas and dur_metas and all(m == dur_metas[0] for m in dur_metas):
            return dict(dur_metas[0])
        tm_metas = [m for m in metas if m.get("tm")]
        if not dt_metas and not dur_metas and tm_metas and len(tm_metas) == len(
            [m for m in metas if m]
        ):
            return {"tm": True}
        # uw: EVERY column-bearing child must carry the same width —
        # coalesce/select mixing a u32 column with a plain s64 column
        # supertypes to s64 (a meta-less COLUMN arg is signed; meta-less
        # literals don't vote, so shift(u32, 2) still propagates)
        col_children = [
            a for a in x.args if isinstance(a, Expr) and _expr_has_column(a)
        ]
        col_metas = [_node_meta(a, ctx) for a in col_children]
        uw_widths = [m.get("uw") for m in col_metas]
        if (
            op not in ("add", "subtract")
            and not dt_metas and not dur_metas and not tm_metas
            and uw_widths
            and all(w is not None and w == uw_widths[0] for w in uw_widths)
        ):
            # unsignedness survives VALUE-PRESERVING ops (min/max/shift/
            # fill/...); arithmetic promotes away from it — row_index(a)
            # + 1000 is s64 in the reference (series.ex:3091, the i64
            # literal wins the supertype)
            return {"uw": uw_widths[0]}
    return {}


def _expr_has_column(e) -> bool:
    if not isinstance(e, Expr):
        return False
    if e.op == "column" or e.op in _UW32_OPS:
        return True
    return any(_expr_has_column(a) for a in e.args if isinstance(a, Expr))


_UW32_OPS = frozenset(
    {
        "row_index", "rank", "cumulative_count", "count_matches",
        "re_count_matches", "list_lengths", "n_distinct", "count",
        "nil_count", "size",
    }
)


def _wall(ctx: "LowerCtx", a) -> Column:
    """Lower ``a`` for a WALL-CLOCK temporal read: when it carries a
    non-UTC ``tz`` (a stamped ``{:datetime, p, tz}`` column OR a
    computed child of one — ``_node_meta`` walks the Expr tree), shift
    the instant into its zone first so year/hour/strftime/... report
    LOCAL fields — the reference reads the column's own zone
    (shared.ex:78-79; series/datetime_test.exs wall-field tests).
    Instant semantics (arithmetic, comparison, aggregation) keep the
    plain ``_c``.

    Type confirmation is analysis-only against ``ctx.sdf`` (the
    pow-dtype mechanism): no job runs, and it happens only when a zone
    was actually inferred."""
    c = _c(a, ctx)
    tz = _node_meta(a, ctx).get("tz")
    if not tz or tz in ("Etc/UTC", "UTC"):
        return c
    fields = _probe_fields(ctx, c)
    if fields is not None and isinstance(fields[0].dataType, T.TimestampType):
        return F.from_utc_timestamp(c, tz)
    return c


def _struct_field(ctx: LowerCtx, a, name: str) -> Column:
    """Struct field access with the reference's missing-field error
    (data_frame_test.exs:707: 'field "m" not found in fields ["n"]') —
    Spark's FIELD_NOT_FOUND fires lazily at analysis with its own
    wording, so probe the struct schema eagerly when it's resolvable."""
    c = _c(a, ctx)
    sdf = getattr(ctx, "sdf", None)
    if sdf is not None:
        # resolve statically against the frame's cached schema when the
        # node is a col/field chain — the select-probe alternative runs
        # a full Catalyst analysis per lowering, and expressions lower
        # several times (boolean probes, retries, nested lowerings)
        struct_t = _static_struct_type(a, sdf)
        if struct_t is None:
            # computed struct, or a chain the schema walk could not
            # resolve (e.g. case-drifted column reference under
            # spark.sql.caseSensitive=false): one analysis-time probe —
            # rare, so the per-lowering cost the static path avoids
            # doesn't return
            probed = _probe_fields(ctx, c)
            struct_t = None if probed is None else probed[0].dataType
        if struct_t is not None and hasattr(struct_t, "fieldNames"):
            fields = list(struct_t.fieldNames())
            if name not in fields:
                raise ValueError(f"field \"{name}\" not found in fields {fields!r}")
    return c.getField(name)


def _static_struct_type(a, sdf):
    """Schema-walk dtype of a column/field chain (no Catalyst analysis);
    None when the node is computed or the walk falls off the schema."""
    chain = []
    node = a
    while isinstance(node, Expr) and node.op == "field":
        chain.append(node.args[1])
        node = node.args[0]
    if not (isinstance(node, Expr) and node.op == "column"):
        return None
    try:
        t = sdf.schema[node.args[0]].dataType
        for fname in reversed(chain):
            t = t[fname].dataType
    except (KeyError, TypeError):
        # a field step can land on a non-struct type
        return None
    return t


def _wunop(fn, cast: str | None = None):
    """Wall-clock field read; ``cast`` pins the reference's part dtype
    (polars: month/day/hour/… are i8, day_of_year i16 — series.ex
    doctests at 6458/6578 render s8/s16)."""
    if cast is None:
        return lambda ctx, a: fn(_wall(ctx, a))
    return lambda ctx, a: fn(_wall(ctx, a)).cast(cast)


def _sum_lower(ctx: "LowerCtx", a) -> Column:
    """sum with the reference's BOOLEAN rule: sum(booleans) counts the
    trues as an integer (series_test.exs 'sum of boolean values'; Spark
    rejects sum over booleans). Type check is analysis-only."""
    c = _c(a, ctx)
    fields = _probe_fields(ctx, c)
    if fields is not None and isinstance(fields[0].dataType, T.BooleanType):
        c = c.cast("long")
    return F.sum(c)


def _cum(aggfn, count=False):
    def low(ctx, a, reverse=False):
        w = _ordered_window(ctx, descending=bool(reverse)).rowsBetween(W.unboundedPreceding, 0)
        c = _c(a, ctx)
        if count:
            # cum_count skips nulls but EMITS at every row (series.ex
            # cumulative_count doctest: [1, 2, 2, 3])
            return F.count(c).over(w)
        out = aggfn(c).over(w)
        fields = _probe_fields(ctx, c) if aggfn is F.product else None
        if fields is not None and isinstance(fields[0].dataType, T.IntegralType):
            # Spark's PRODUCT always emits double; the reference keeps
            # the integer dtype (series.ex cumulative_product: s64)
            out = out.cast(fields[0].dataType)
        # nil positions STAY nil; accumulation skips them (series.ex
        # cumulative_* doctests: [1, 2, nil, 4] -> [1, 3, nil, 7])
        return F.when(c.isNotNull(), out)

    return low


def _rank(ctx, a, method="average", descending=False, seed=None):
    """Reference rank/2 (series.ex:2063-2072): default method :average,
    and NILS STAY NIL without consuming ranks (series_test.exs 'rank of
    a float series with a nan': 7 non-null values rank 1..7, the nil
    row yields nil). Rendered with nulls-LAST ordering (non-null rows
    take ranks 1..n_valid regardless) plus a null mask; NaN orders
    greatest among non-null (Spark = polars)."""
    c = _c(a, ctx)
    key = c.desc_nulls_last() if descending else c.asc_nulls_last()
    base = W.partitionBy(*ctx.groups) if ctx.groups else W.partitionBy()

    def masked(e):
        return F.when(c.isNotNull(), e)

    if method == "random":
        # ties broken by a seeded shuffle (reference rank :random + seed).
        # The draw is an md5 over (seed, value, row order) — F.rand(seed)
        # is PARTITION-dependent (same seed, different partitioning,
        # different ranks), which breaks run-to-run reproducibility at
        # scale; the hash draw is layout-independent like the sampling
        # kernels' draws.
        draw_parts = [F.lit(str(seed if seed is not None else "")), c.cast("string")]
        if ctx.order is not None:
            draw_parts.append(F.col(ctx.order).cast("string"))
        else:
            # no row-order column: a per-row component keeps tied values'
            # draws DISTINCT (md5(seed|value) alone would tie every equal
            # value and hand the break back to task order). This component
            # is partition-layout dependent, so SEEDED REPRODUCIBILITY of
            # tie ranks requires an order column — without one the seed
            # only pins the draw within a fixed physical layout.
            draw_parts.append(F.monotonically_increasing_id().cast("string"))
        draw = F.md5(F.concat_ws("|", *draw_parts))
        return masked(F.row_number().over(base.orderBy(key, draw)).cast("long"))
    w = base.orderBy(key, F.col(ctx.order).asc()) if ctx.order is not None else base.orderBy(key)
    wv = base.orderBy(key)
    if method == "ordinal":
        return masked(F.row_number().over(w).cast("long"))
    if method == "min":
        return masked(F.rank().over(wv).cast("long"))
    if method == "dense":
        return masked(F.dense_rank().over(wv).cast("long"))
    if method in ("max", "average"):
        min_rank = F.rank().over(wv)
        tie_w = W.partitionBy(*ctx.groups, c) if ctx.groups else W.partitionBy(c)
        ties = F.count(F.lit(1)).over(tie_w)
        if method == "max":
            return masked((min_rank + ties - 1).cast("long"))
        return masked((min_rank.cast("double") + (min_rank + ties - 1).cast("double")) / 2.0)
    raise NotImplementedError(f"rank method {method!r}")


def _quantile(ctx, a, q):
    """Reference quantile/2 = polars 'nearest' strategy (native
    parse_quantile_interpol_options defaults to Nearest, series.rs:1355):
    the ELEMENT at sorted position floor(q*(n-1) + 0.5) — never an
    interpolated value, so integer series yield integers and NaN (which
    sorts greatest) is returned verbatim for high q. Lowered as a sorted
    collect: the per-group buffer is the group's values, the same cost
    class as Spark's own exact F.percentile counts-map."""
    arr = F.array_sort(_w(ctx, F.collect_list(_c(a, ctx))))
    idx = F.floor(
        F.lit(float(q)) * (F.size(arr) - F.lit(1)).cast("double") + F.lit(0.5)
    ).cast("int")
    return F.when(F.size(arr) > F.lit(0), F.get(arr, idx))


def _variance(ctx, a, ddof=1):
    c = _c(a, ctx)
    if ddof == 1:
        return _w(ctx, F.var_samp(c))
    if ddof == 0:
        return _w(ctx, F.var_pop(c))
    n = _w(ctx, F.count(c))
    return _w(ctx, F.var_samp(c)) * (n - F.lit(1)) / (n - F.lit(ddof))


def _std(ctx, a, ddof=1):
    c = _c(a, ctx)
    if ddof == 1:
        return _w(ctx, F.stddev_samp(c))
    if ddof == 0:
        return _w(ctx, F.stddev_pop(c))
    return F.sqrt(_variance(ctx, a, ddof))


def _skew(ctx, a, bias=True):
    c = _c(a, ctx).cast("double")
    if bias:
        # population skewness g1 = m3 / m2^1.5 — matches Polars bias=true
        m = _w(ctx, F.avg(c))
        m2 = _w(ctx, F.avg(c * c)) - m * m
        m3 = _w(ctx, F.avg(c * c * c)) - 3 * m * _w(ctx, F.avg(c * c)) + 2 * m * m * m
        return m3 / F.pow(m2, 1.5)
    # bias=False: Fisher-Pearson sample correction g1*sqrt(n(n-1))/(n-2)
    # (F.skewness alone is the BIASED g1 — both branches were equal)
    n = _w(ctx, F.count(c))
    return _w(ctx, F.skewness(c)) * F.sqrt(n * (n - F.lit(1))) / (n - F.lit(2))


def _corr(ctx, a, b, method="pearson"):
    ca, cb = _c(a, ctx).cast("double"), _c(b, ctx).cast("double")
    if method != "pearson":
        raise NotImplementedError("spearman handled at frame level (rank first)")
    return F.corr(ca, cb)


def _cov(ctx, a, b, ddof=1):
    ca, cb = _c(a, ctx).cast("double"), _c(b, ctx).cast("double")
    return F.covar_samp(ca, cb) if ddof == 1 else F.covar_pop(ca, cb)


def _substring(ctx, s, offset, length=None):
    c = _c(s, ctx)
    # Explorer offset is 0-based, may be negative (from end); Spark 1-based.
    # Polars anchors the window at the VIRTUAL position: a negative offset
    # overshooting the string start clamps to position 0 but CONSUMES the
    # overshoot from the length ("earth"[-6, 2] -> "e", "mars"[-6, 2] -> "";
    # reference string_slicing grid, series_test.exs:6078-6106).
    if offset >= 0:
        start = F.lit(offset + 1)
        overshoot = F.lit(0)
    else:
        virtual = F.length(c) + F.lit(offset)  # 0-based, may be negative
        start = F.greatest(virtual + 1, F.lit(1))
        overshoot = F.greatest(-virtual, F.lit(0))
    if length is None:
        return c.substr(start, F.length(c))
    eff = F.greatest(F.lit(int(length)) - overshoot, F.lit(0))
    return c.substr(start, eff)


def _shift(ctx, a, offset, default=None):
    w = _ordered_window(ctx)
    c = _c(a, ctx)
    return F.lag(c, offset, default).over(w) if offset >= 0 else F.lead(c, -offset, default).over(w)


def _peaks(ctx, a, mode="max"):
    w = _ordered_window(ctx)
    c = _c(a, ctx)
    prev, nxt = F.lag(c, 1).over(w), F.lead(c, 1).over(w)
    if mode == "max":
        return (c > F.coalesce(prev, F.lit(float("-inf")))) & (c > F.coalesce(nxt, F.lit(float("-inf"))))
    return (c < F.coalesce(prev, F.lit(float("inf")))) & (c < F.coalesce(nxt, F.lit(float("inf"))))


def _fill_forward(ctx, a):
    w = _ordered_window(ctx).rowsBetween(W.unboundedPreceding, 0)
    return F.last(_c(a, ctx), ignorenulls=True).over(w)


def _fill_backward(ctx, a):
    w = _ordered_window(ctx, descending=True).rowsBetween(W.unboundedPreceding, 0)
    return F.last(_c(a, ctx), ignorenulls=True).over(w)


def _day_of_week(ctx, a):
    # Explorer: Monday=1..Sunday=7; Spark dayofweek: Sunday=1..Saturday=7
    c = F.dayofweek(_wall(ctx, a))
    return F.when(c == 1, F.lit(7)).otherwise(c - 1).cast("tinyint")


def _week_of_year(ctx, a):
    return F.weekofyear(_wall(ctx, a)).cast("tinyint")


def _strftime_to_java(fmt: str) -> str:
    """chrono strftime tokens -> JVM DateTimeFormatter pattern."""
    table = {
        "%Y": "yyyy",
        "%y": "yy",
        "%m": "MM",
        "%d": "dd",
        "%H": "HH",
        "%I": "hh",
        "%M": "mm",
        "%S": "ss",
        "%f": "SSSSSS",
        "%p": "a",
        "%A": "EEEE",
        "%a": "EEE",
        "%B": "MMMM",
        "%b": "MMM",
        "%j": "DDD",
        "%%": "%",
        # chrono composite/whitespace tokens (series_test.exs:6154-6165)
        "%D": "MM/dd/yy",
        "%F": "yyyy-MM-dd",
        "%X": "HH:mm:ss",
        "%T": "HH:mm:ss",
        "%R": "HH:mm",
        "%t": "\t",
        "%n": "\n",
        "%e": "d",
    }
    # %-X = chrono's no-pad modifier -> single-letter Java field
    nopad = {"%-d": "d", "%-m": "M", "%-H": "H", "%-I": "h", "%-M": "m", "%-S": "s", "%-j": "D"}
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            if fmt[i + 1] == "-" and fmt[i : i + 3] in nopad:
                out.append(nopad[fmt[i : i + 3]])
                i += 3
                continue
            if fmt[i + 1] == ".":
                # %.3f / %.6f / %.9f (and bare %.f) — fractional seconds
                # WITH the leading dot, chrono-style
                if i + 3 < len(fmt) and fmt[i + 2] in "369" and fmt[i + 3] == "f":
                    out.append("." + "S" * int(fmt[i + 2]))
                    i += 4
                    continue
                if i + 2 < len(fmt) and fmt[i + 2] == "f":
                    out.append(".SSSSSS")
                    i += 3
                    continue
            tok = fmt[i : i + 2]
            out.append(table.get(tok, tok))
            i += 2
        else:
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def _rx_quote(sep: str) -> str:
    """Quote a literal separator for Java-regex consumers (\\Q...\\E)."""
    return "\\Q" + sep + "\\E"


def _duration_total(ctx, a, precision: str = "us"):
    """INTERVAL DAY TO SECOND -> integer count of ``precision`` units,
    truncated toward zero — the reference's duration-to-integer cast
    (duration values ARE counts there, shared.ex:12-22). Field extraction
    is sign-consistent (all fields negative for negative intervals)."""
    c = _c(a, ctx)
    day = F.date_part(F.lit("DAY"), c).cast("long")
    hour = F.date_part(F.lit("HOUR"), c).cast("long")
    minute = F.date_part(F.lit("MINUTE"), c).cast("long")
    sec = F.date_part(F.lit("SECOND"), c)  # decimal(8,6), signed, with µs
    total_us = (
        (((day * 24 + hour) * 60 + minute) * F.lit(60_000_000)).cast("long")
        + (sec * F.lit(1_000_000)).cast("long")
    )
    unit = dt.unit_of(precision)
    if unit == "ns":
        return total_us * F.lit(1_000)
    div = dt.US_PER_UNIT[unit]
    if div == 1:
        return total_us
    # integer division truncating toward zero (Spark % keeps dividend
    # sign). The numerator is cast to DECIMAL before the divide: long/int
    # in Spark is DOUBLE division, which drops low-order units past 2^53
    # µs (~285 years); decimal division of an exactly-divisible numerator
    # is exact at any magnitude.
    return ((total_us - total_us % div).cast("decimal(38,0)") / F.lit(div)).cast("long")


def _json_decode(ctx: "LowerCtx", a, dtype) -> Column:
    """json_decode to any dtype (reference data_frame_test.exs:4810
    'decodes primitives, lists, structs'): Spark's from_json accepts
    only container schemas, so PRIMITIVE targets parse through a
    one-field object wrap — handles quoted strings, null, and invalid
    JSON (FAILFAST) uniformly with the container path."""
    c = _c(a, ctx)
    st = dt.to_spark(dtype)
    if isinstance(st, (T.StructType, T.ArrayType, T.MapType)):
        return F.from_json(c, st, {"mode": "FAILFAST"})
    wrapped = F.when(
        c.isNotNull(), F.concat(F.lit('{"v":'), c, F.lit("}"))
    )
    schema = T.StructType([T.StructField("v", st)])
    return F.from_json(wrapped, schema, {"mode": "FAILFAST"}).getField("v")


def _trim_side(c: Column, chars: str, leading: bool) -> Column:
    # escape every character-class metachar: '-' (range), '^' (negation),
    # '[' and ']' and '\\' — otherwise strip("a-c") means the RANGE a..c
    esc = "".join("\\" + ch if ch in "\\]^-[" else ch for ch in chars)
    pat = f"^[{esc}]+" if leading else f"[{esc}]+$"
    return F.regexp_replace(c, pat, "")


def _clip(ctx, a, lo, hi):
    """Reference clip/3 (series_test.exs:5498-5546): numeric bounds only,
    max > min, numeric series only; nils stay nil and NaN passes through
    unclipped (Spark's greatest/least would otherwise swallow the null
    and clamp NaN to the max bound — both observed divergences)."""
    for b in (lo, hi):
        if isinstance(b, bool) or not isinstance(b, (int, float)):
            raise ValueError(
                "Explorer.Series.clip/3 expects both the min and max bounds to be numbers"
            )
    if not hi > lo:
        raise ValueError(
            "Explorer.Series.clip/3 expects the max bound to be greater than the min bound"
        )
    c = _c(a, ctx)
    is_float = None
    fields = _probe_fields(ctx, c)
    if fields is not None:
        t = fields[0].dataType
        if not isinstance(t, T.NumericType):
            raise ValueError(f"Explorer.Series.clip/3 not implemented for dtype {t.simpleString()}")
        is_float = isinstance(t, (T.FloatType, T.DoubleType))
    clipped = F.least(F.greatest(c, F.lit(lo)), F.lit(hi))
    if is_float:
        # NaN pass-through only when the column is KNOWN float: casting a
        # non-numeric column to double here (probe skipped/failed) would
        # surface as a confusing Spark cast error instead of the clip
        # dtype ValueError above; ints can't hold NaN so need no guard
        clipped = F.when(F.isnan(c.cast("double")), c).otherwise(clipped)
    return F.when(c.isNull(), F.lit(None)).otherwise(clipped)


def _between(ctx, a, lo, hi):
    c = _c(a, ctx)
    return (c >= _c(lo, ctx)) & (c <= _c(hi, ctx))


def _binary_in(ctx, a, values):
    """Membership vs a literal list (reference Series.in/2): nils in the
    RIGHT side are ignored — SQL's IN would otherwise poison every
    non-member to null — while a nil left value stays nil."""
    c = _c(a, ctx)
    vals = [
        dt.time_to_ns(v) if isinstance(v, _time_type) else v
        for v in values
        if v is not None
    ]
    if not vals:
        return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(F.lit(False))
    return c.isin(vals)


_AGG_NULL_DEFAULTS = {"all": True, "any": False}

# ops whose lowerings window-wrap their inner aggregates themselves
_SELF_WINDOWED = {
    "n_distinct", "first", "last", "argmin", "argmax",
    "skew", "variance", "standard_deviation", "quantile",
}

_LOWER = {
    # leaves
    "column": lambda ctx, name: F.col(name),
    # python ints are s64 in the reference type system; PySpark's lit
    # would infer IntegerType — pin LongType (bools are not ints here)
    "literal": lambda ctx, v: (
        F.lit(v).cast("long")
        if isinstance(v, int) and not isinstance(v, bool)
        # time-of-day literals lower to the engine's physical rendering
        # (ns-since-midnight long) — Spark 4 would otherwise make a
        # TIME-typed literal that can't compare with the long columns
        else F.lit(dt.time_to_ns(v)).cast("long")
        if isinstance(v, _time_type)
        else F.lit(v)
    ),
    # a driver-computed scalar carrying its source column's exact Spark
    # type (the ungrouped-quantile kernel substitutes these so an s64
    # column's quantile stays s64, not lit()'s IntegerType inference)
    "typed_literal": lambda ctx, v, t: F.lit(v).cast(t),
    "alias": lambda ctx, a, name: _c(a, ctx).alias(name),
    "cast": _cast,
    # arithmetic
    "add": lambda ctx, a, b: _add_sub(ctx, a, b, sub=False),
    "subtract": lambda ctx, a, b: _add_sub(ctx, a, b, sub=True),
    "multiply": _binop(lambda a, b: a * b),
    # float division; Spark's Divide yields NULL at a zero denominator
    # where the reference (IEEE / polars) yields ±Inf and 0/0 -> NaN
    # (series.ex:3658 divide doctest; is_finite/is_infinite/is_nan
    # doctests build their inputs this way). IEEE corners: NaN/0 -> NaN,
    # x/-0.0 flips the sign (signbit sees negative zero; == cannot)
    "divide": _binop(lambda a, b: _ieee_divide(a, b)),
    "quotient": _binop(lambda a, b: F.floor(a / b).cast("long")),
    "remainder": _binop(lambda a, b: a % b),
    "pow": lambda ctx, a, b: _pow(ctx, a, b),
    "log": _log,
    "log_natural": _unop(F.log),
    "exp": _unop(F.exp),
    "abs": _unop(F.abs),
    "sqrt": _unop(F.sqrt),
    "clip": _clip,
    # trig
    "sin": _unop(F.sin),
    "cos": _unop(F.cos),
    "tan": _unop(F.tan),
    "asin": _unop(F.asin),
    "acos": _unop(F.acos),
    "atan": _unop(F.atan),
    "degrees": _unop(F.degrees),
    "radians": _unop(F.radians),
    # rounding
    "round": lambda ctx, a, d=0: F.round(_c(a, ctx), d),
    # floor/ceil KEEP the float dtype (reference series.ex:6325/6344 —
    # f64 in, f64 out; Spark's floor/ceil return bigint)
    "floor": _unop(lambda c: F.floor(c).cast("double")),
    "ceil": _unop(lambda c: F.ceil(c).cast("double")),
    # comparison / boolean
    "equal": _binop(lambda a, b: a == b),
    "not_equal": _binop(lambda a, b: a != b),
    "greater": _binop(lambda a, b: a > b),
    "greater_equal": _binop(lambda a, b: a >= b),
    "less": _binop(lambda a, b: a < b),
    "less_equal": _binop(lambda a, b: a <= b),
    "binary_and": _binop(lambda a, b: a & b),
    "binary_or": _binop(lambda a, b: a | b),
    "unary_not": _unop(lambda a: ~a),
    "binary_in": _binary_in,
    "is_nil": _unop(lambda a: a.isNull()),
    "is_not_nil": _unop(lambda a: a.isNotNull()),
    # nil stays nil (reference series.ex:6406 — Spark's isnan would
    # render NULL as false)
    "is_nan": _unop(lambda a: F.when(a.isNotNull(), F.isnan(a))),
    "is_finite": _unop(lambda a: ~F.isnan(a) & (F.abs(a) != F.lit(float("inf")))),
    "is_infinite": _unop(lambda a: F.abs(a) == F.lit(float("inf"))),
    "between": _between,
    "all_equal": lambda ctx, a, b: F.bool_and(_c(a, ctx).eqNullSafe(_c(b, ctx))),
    # conditional / null handling
    # two guarded branches, no otherwise: a NIL predicate matches
    # neither and yields nil (reference when/then/otherwise semantics;
    # plain when().otherwise() sends nil to the false branch)
    "select": lambda ctx, p, t, f: F.when(_c(p, ctx), _c(t, ctx)).when(~_c(p, ctx), _c(f, ctx)),
    "coalesce": lambda ctx, *xs: F.coalesce(*[_c(x, ctx) for x in xs]),
    "fill_missing_with_value": lambda ctx, a, v: F.coalesce(_c(a, ctx), _c(v, ctx)),
    "fill_missing_forward": _fill_forward,
    "fill_missing_backward": _fill_backward,
    # aggregations (wrapped .over(groups) automatically outside summarise)
    "sum": lambda ctx, a: _sum_lower(ctx, a),
    "min": _unop(F.min),
    "max": _unop(F.max),
    "mean": _unop(F.avg),
    "median": _unop(F.median),
    "mode": _unop(F.mode),
    "count": _unop(F.count),
    "size": lambda ctx, a: F.count(F.lit(1)),
    "nil_count": lambda ctx, a: F.count(F.when(_c(a, ctx).isNull(), 1)),
    # order-exact when the frame order is known: min/max over a
    # (order, value) struct — F.first/F.last without an ordering are
    # whatever partition order the shuffle produced. Null values ride
    # inside the struct, so a null first element is returned as null.
    "first": lambda ctx, a: (
        _w(ctx, F.min(F.struct(F.col(ctx.order).alias("i"), _c(a, ctx).alias("v"))))["v"]
        if ctx.order else _w(ctx, F.first(_c(a, ctx)))
    ),
    "last": lambda ctx, a: (
        _w(ctx, F.max(F.struct(F.col(ctx.order).alias("i"), _c(a, ctx).alias("v"))))["v"]
        if ctx.order else _w(ctx, F.last(_c(a, ctx)))
    ),
    # count_distinct is rejected as a window function — the grouped
    # mutate/filter path (AGG wrapped .over()) needs size(collect_set);
    # summarise keeps the native distinct aggregate (collect_set drops
    # nulls, matching count_distinct's null exclusion)
    "n_distinct": lambda ctx, a: (
        F.count_distinct(_c(a, ctx)) if ctx.summarise
        else F.size(_w(ctx, F.collect_set(_c(a, ctx)))).cast("long")
    ),
    "product": lambda ctx, a: F.product(_c(a, ctx)),
    "variance": _variance,
    "standard_deviation": _std,
    "quantile": _quantile,
    "skew": _skew,
    # struct extremum = lexicographic (value, index): exact FIRST-
    # occurrence tie-break (min_by ties are nondeterministic); argmax
    # negates the index so ties still take the smallest index; null
    # values are excluded by the when() guard
    "argmin": lambda ctx, a: (
        _w(ctx, F.min(F.when(_c(a, ctx).isNotNull(), F.struct(_c(a, ctx).alias("v"), F.col(ctx.order).alias("i")))))["i"]
        if ctx.order else _w(ctx, F.min_by(F.lit(0), _c(a, ctx)))
    ),
    "argmax": lambda ctx, a: (
        -_w(ctx, F.max(F.when(_c(a, ctx).isNotNull(), F.struct(_c(a, ctx).alias("v"), (-F.col(ctx.order)).alias("ni")))))["ni"]
        if ctx.order else _w(ctx, F.max_by(F.lit(0), _c(a, ctx)))
    ),
    "correlation": _corr,
    "covariance": _cov,
    "all": _unop(F.bool_and),
    "any": _unop(F.bool_or),
    # order-dependent
    "shift": _shift,
    "row_index": lambda ctx: F.row_number().over(_ordered_window(ctx)) - 1,
    "rank": _rank,
    "cumulative_sum": _cum(F.sum),
    "cumulative_min": _cum(F.min),
    "cumulative_max": _cum(F.max),
    "cumulative_product": _cum(F.product),
    "cumulative_count": _cum(F.count, count=True),
    "peaks": _peaks,
    # strings
    "contains": lambda ctx, a, pat: _c(a, ctx).contains(pat),
    "re_contains": lambda ctx, a, pat: _c(a, ctx).rlike(pat),
    "upcase": _unop(F.upper),
    "downcase": _unop(F.lower),
    "strip": lambda ctx, a, chars=None: F.trim(_c(a, ctx)) if chars is None else F.btrim(_c(a, ctx), F.lit(chars)),
    "lstrip": lambda ctx, a, chars=None: F.ltrim(_c(a, ctx)) if chars is None else _trim_side(_c(a, ctx), chars, True),
    "rstrip": lambda ctx, a, chars=None: F.rtrim(_c(a, ctx)) if chars is None else _trim_side(_c(a, ctx), chars, False),
    "substring": _substring,
    # reference split/count_matches take LITERAL separators (series.ex);
    # F.split interprets regex, so quote with \Q...\E
    "split": lambda ctx, a, sep: F.split(_c(a, ctx), _rx_quote(sep), -1),
    "replace": lambda ctx, a, pat, repl: F.replace(_c(a, ctx), F.lit(pat), F.lit(repl)),
    # Rust-regex replacement groups write ${1}/${name}; Java wants $1 —
    # translate so reference patterns (series.ex:5846) work verbatim
    "re_replace": lambda ctx, a, pat, repl: F.regexp_replace(
        # NUMERIC ${1} -> $1 only: Java supports ${name} for NAMED groups
        _c(a, ctx), pat, re.sub(r"\$\{(\d+)\}", r"$\1", repl)
    ),
    # null-guard: size(split(NULL)) is -1, which would read as -2 matches
    "count_matches": lambda ctx, a, pat: F.when(
        _c(a, ctx).isNotNull(), F.size(F.split(_c(a, ctx), _rx_quote(pat), -1)) - 1
    ),
    "re_count_matches": lambda ctx, a, pat: F.regexp_count(_c(a, ctx), F.lit(pat)),
    "re_scan": lambda ctx, a, pat: F.regexp_extract_all(_c(a, ctx), F.lit(pat), 0),
    "split_into": lambda ctx, a, sep, fields: F.struct(
        *[
            F.get(F.split(_c(a, ctx), _rx_quote(sep), len(fields)), i).alias(name)
            for i, name in enumerate(fields)
        ]
    ),
    # a NON-MATCHING (or nil) subject yields a nil STRUCT, not a struct
    # of empty strings (reference series.ex:6265; polars extract_groups)
    "re_named_captures": lambda ctx, a, pat, names: (
        lambda c: F.when(
            c.rlike(pat),
            F.struct(*[F.regexp_extract(c, pat, i + 1).alias(n) for i, n in enumerate(names)]),
        )
    )(_c(a, ctx)),
    "string_length": _unop(F.length),
    # the reference's string concat IS format (the <> operator lowers to
    # it): nil parts render as the empty string, the row survives
    # (series_test.exs 'with series that have nil value')
    "concat": lambda ctx, *xs: F.concat(
        *[F.coalesce(_c(x, ctx).cast("string"), F.lit("")) for x in xs]
    ),
    "format": lambda ctx, xs: F.concat(
        *[F.coalesce(_c(x, ctx).cast("string"), F.lit("")) for x in xs]
    ),
    # temporal — wall-clock field reads go through _wall (tz-stamped
    # datetime columns shift into their zone first)
    "year": _wunop(F.year),
    "month": _wunop(F.month, "tinyint"),
    "day_of_month": _wunop(F.dayofmonth, "tinyint"),
    "day_of_week": _day_of_week,
    "day_of_year": _wunop(F.dayofyear, "smallint"),
    "week_of_year": _week_of_year,
    # ISO-8601 year = calendar year of the Thursday in the date's ISO week
    # (exact by definition; weekday() is Mon=0, so Thursday = d + (3 - wd))
    "iso_year": lambda ctx, a: (
        lambda c: F.year(F.date_add(F.to_date(c), 3 - F.weekday(c)))
    )(_wall(ctx, a)),
    "quarter_of_year": _wunop(F.quarter, "tinyint"),
    "hour": _wunop(F.hour, "tinyint"),
    "minute": _wunop(F.minute, "tinyint"),
    "second": _wunop(F.second, "tinyint"),
    "is_leap_year": lambda ctx, a: (
        lambda y: (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))
    )(F.year(_wall(ctx, a))),
    "to_date": _wunop(F.to_date),
    # number of days in the value's month (reference lazy_series.ex
    # days_of_month; Polars days_in_month)
    "days_of_month": lambda ctx, a: F.dayofmonth(F.last_day(_wall(ctx, a))).cast("tinyint"),
    # nanosecond component of the second (reference series.ex nanosecond/1;
    # µs-precision storage means the last 3 digits are always 0; polars
    # renders the part as s32 — series.ex:6764)
    "nanosecond": lambda ctx, a: (
        F.pmod(F.unix_micros(_c(a, ctx).cast("timestamp_ltz")), F.lit(1_000_000)) * 1_000
    ).cast("int"),
    # time-of-day as ns since midnight — the engine's :time representation
    # (dtypes.py maps time -> long ns, reference shared.ex:12-16)
    "to_time": lambda ctx, a: (
        F.pmod(F.unix_micros(_wall(ctx, a).cast("timestamp_ltz")), F.lit(86_400_000_000)) * 1_000
    ).cast("long"),
    "strftime": lambda ctx, a, fmt: F.date_format(_wall(ctx, a), _strftime_to_java(fmt)),
    # try_: unparseable strings yield nil, not an error (reference
    # strptime doctest: ["2023-01-05 12:34:56", "XYZ", nil] -> [ts, nil, nil])
    "strptime": lambda ctx, a, fmt: F.try_to_timestamp(_c(a, ctx), F.lit(_strftime_to_java(fmt))),
    # lists
    "list_join": lambda ctx, a, sep: F.array_join(_c(a, ctx), sep),
    "list_lengths": _unop(F.size),
    # value may be a scalar (the reference surface) or an expression
    # (engine extension — e.g. filter(member(mode(v), v)))
    # value may be a scalar (the reference surface) or an expression;
    # scalar values route through _c so time-of-day converts to the
    # ns-long rendering (timedeltas hit real interval elements directly)
    "list_member": lambda ctx, a, v: F.array_contains(_c(a, ctx), _c(v, ctx)),
    # structs / json
    "field": lambda ctx, a, name: _struct_field(ctx, a, name),
    # cast to :null — a NullType column of the same length
    # (series_test.exs 'integer series to null')
    "null_of": lambda ctx, a: F.lit(None),
    # struct literal from alternating (name, child) args — mutate's map
    # form (reference "mutate with map": c: %{a: a, lit: 1} -> struct col)
    "make_struct": lambda ctx, *kv: F.struct(
        *[_c(kv[i + 1], ctx).alias(kv[i]) for i in range(0, len(kv), 2)]
    ),
    "duration_total": _duration_total,
    "json_path_match": lambda ctx, a, path: F.get_json_object(_c(a, ctx), path),
    # FAILFAST: invalid JSON raises at compute time (the reference's
    # json_decode raises a deserialization error, series_test.exs:6770);
    # Spark's default PERMISSIVE would silently yield a null struct
    "json_decode": _json_decode,
    # raw escape hatch: wrap an existing Column
    "raw": lambda ctx, column: column,
}


def raw(column: Column) -> Expr:
    """Wrap a prebuilt pyspark Column as an Expr leaf (escape hatch)."""
    return Expr("raw", column)
