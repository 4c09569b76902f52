"""Dtype system: mapping table, promotion/merge rules (SURVEY §1.2), and
the logical-over-physical emulations (u64, time, duration)."""

import pytest
from pyspark.sql import types as T

from explorer_spark import dtypes as dt


def test_atom_mappings():
    assert dt.to_spark("boolean") == T.BooleanType()
    assert dt.to_spark("string") == T.StringType()
    assert dt.to_spark("binary") == T.BinaryType()
    assert dt.to_spark("category") == T.StringType()
    assert dt.to_spark("date") == T.DateType()
    assert dt.to_spark("time") == T.LongType()  # nanos since midnight


def test_int_widths():
    assert dt.to_spark(("s", 8)) == T.ByteType()
    assert dt.to_spark(("s", 16)) == T.ShortType()
    assert dt.to_spark(("s", 32)) == T.IntegerType()
    assert dt.to_spark(("s", 64)) == T.LongType()
    # unsigned promote to next wider signed; u64 -> decimal(20,0)
    assert dt.to_spark(("u", 8)) == T.ShortType()
    assert dt.to_spark(("u", 32)) == T.LongType()
    assert dt.to_spark(("u", 64)) == T.DecimalType(20, 0)


def test_temporal_mappings():
    assert dt.to_spark(("naive_datetime", "us")) == T.TimestampNTZType()
    assert dt.to_spark(("naive_datetime", "ns")) == T.TimestampNTZType()  # ns truncates
    assert dt.to_spark(("datetime", "us", "Etc/UTC")) == T.TimestampType()
    assert dt.to_spark(("duration", "us")) == T.LongType()
    assert dt.to_spark(("decimal", 38, 10)) == T.DecimalType(38, 10)


def test_nested_mappings_roundtrip():
    nested = ("struct", [("a", ("list", ("f", 32))), ("b", "string")])
    st = dt.to_spark(nested)
    assert dt.from_spark(st) == nested


def test_aliases():
    assert dt.normalize("integer") == ("s", 64)
    assert dt.normalize("float") == ("f", 64)
    assert dt.normalize("duration") == ("duration", "us")


def test_numeric_promotion():
    # same family -> wider
    assert dt.merge_numeric(("s", 32), ("s", 64)) == ("s", 64)
    # unsigned+signed -> signed at 2x width, capped 64
    assert dt.merge_numeric(("u", 32), ("s", 32)) == ("s", 64)
    assert dt.merge_numeric(("u", 8), ("s", 8)) == ("s", 16)
    # int + float -> the float dtype
    assert dt.merge_numeric(("s", 64), ("f", 32)) == ("f", 32)
    assert dt.merge_numeric(("f", 32), ("f", 64)) == ("f", 64)


def test_merge_dtype_for_concat():
    assert dt.merge_dtype("null", "string") == "string"
    assert dt.merge_dtype(("s", 64), ("f", 64)) == ("f", 64)
    assert dt.merge_dtype(("list", ("s", 32)), ("list", ("s", 64))) == ("list", ("s", 64))
    assert dt.merge_dtype("category", "string") == "string"
    with pytest.raises(ValueError):
        dt.merge_dtype("string", ("s", 64))


def test_u64_values_roundtrip(spark):
    """u64: values above 2^63 survive via the decimal(20,0) physical
    storage, and the dtype reports the LOGICAL ('u', 64) (the 'uw'
    column-metadata marker — round 9; reference from_list/cast u64)."""
    import explorer_spark as ex
    from explorer_spark import Series

    big = [2**63 + 5, 2**64 - 1, 0]
    s = Series.from_list([str(v) for v in big], name="u", dtype="string", spark=spark).cast(("u", 64))
    assert s.dtype == ("u", 64)
    from decimal import Decimal

    assert s.to_list() == [Decimal(v) for v in big]
    assert s.max() == Decimal(2**64 - 1)


def test_duration_from_subtraction(spark):
    """datetime - datetime -> duration (DayTimeInterval read back)."""
    import datetime

    import explorer_spark as ex
    from explorer_spark import col

    d = ex.from_columns(
        {
            "a": [datetime.datetime(2024, 1, 2, 0, 0, 1)],
            "b": [datetime.datetime(2024, 1, 1, 0, 0, 0)],
        },
        spark=spark,
    )
    out = d.mutate(dur=col("a") - col("b"))
    assert out.dtypes["dur"] == ("duration", "us")
    val = out.to_rows()[0]["dur"]
    assert val == datetime.timedelta(days=1, seconds=1)


def test_time_as_nanos(spark):
    """time emulation: nanos-since-midnight in a LongType column."""
    import explorer_spark as ex
    from explorer_spark import Series

    import datetime

    nanos = [0, 12 * 3600 * 10**9 + 345, 86399 * 10**9]
    s = Series.from_list(nanos, name="t", dtype="time", spark=spark)
    # logical :time over an ns-long column (the "tm" marker); to_list
    # renders datetime.time values (µs resolution — sub-µs truncates)
    assert s.dtype == "time"
    assert s.to_list() == [datetime.time(0, 0), datetime.time(12, 0), datetime.time(23, 59, 59)]
    assert s.cast(("s", 64)).to_list() == nanos  # the exact ns counts survive


def test_duration_total_precisions(spark):
    """duration -> integer counts in us/ms/s/ns, truncation toward zero
    (reference duration_test.exs cast semantics)."""
    import datetime

    import explorer_spark as ex
    from explorer_spark import col
    from explorer_spark import functions as fns

    d = ex.from_columns(
        {
            "a": [
                datetime.datetime(2024, 1, 2, 0, 0, 1, 500),
                datetime.datetime(2024, 1, 1),
            ],
            "b": [
                datetime.datetime(2024, 1, 1),
                datetime.datetime(2024, 1, 2, 0, 0, 1, 500),
            ],
        },
        spark=spark,
    )
    out = d.mutate(
        us=fns.duration_total(col("a") - col("b"), "us"),
        ms=fns.duration_total(col("a") - col("b"), "ms"),
        s=fns.duration_total(col("a") - col("b"), "s"),
        ns=fns.duration_total(col("a") - col("b"), "ns"),
    ).to_columns()
    day_us = 86_400_000_000 + 1_000_000 + 500
    assert out["us"] == [day_us, -day_us]
    assert out["ms"] == [day_us // 1000, -(day_us // 1000)]
    assert out["s"] == [86401, -86401]
    assert out["ns"] == [day_us * 1000, -day_us * 1000]


def test_u64_parquet_roundtrip(spark, tmp_path):
    """u64-as-decimal(20,0) survives a parquet write/read cycle."""
    from decimal import Decimal

    import explorer_spark as ex
    from explorer_spark import Series, sources

    big = [2**63 + 5, 2**64 - 1, 0]
    s = Series.from_list([str(v) for v in big], name="u", dtype="string", spark=spark).cast(("u", 64))
    p = str(tmp_path / "u64.parquet")
    sources.write_parquet(s.to_frame(), p)
    back = sources.read_parquet(p)
    # the 'uw' logical marker rides Spark's parquet column metadata, so
    # the round-trip keeps u64 (like the reference); physical storage is
    # still decimal(20,0)
    assert back.dtypes["u"] == ("u", 64)
    assert sorted(back.to_columns()["u"]) == sorted(Decimal(v) for v in big)


def test_time_parquet_roundtrip(spark, tmp_path):
    """time-as-nanos longs survive parquet and keep sub-µs digits."""
    import explorer_spark as ex
    from explorer_spark import Series, sources

    nanos = [0, 12 * 3600 * 10**9 + 345, 86399 * 10**9 + 999_999_999]
    s = Series.from_list(nanos, name="t", dtype="time", spark=spark)
    p = str(tmp_path / "time.parquet")
    sources.write_parquet(s.to_frame(), p)
    back = sources.read_parquet(p)
    # the "tm" marker rides parquet column metadata: the scan still
    # reports :time and renders time values; the ns counts stay exact
    # under the int cast
    assert back.dtypes["t"] == "time"
    assert sorted(back.pull("t").cast(("s", 64)).to_list()) == sorted(nanos)


def test_duration_vs_oracle_truncation(duck):
    """Engine ms truncation matches integer-division semantics, not
    DuckDB's boundary-crossing date_diff."""
    got = duck.execute(
        "SELECT date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00.0009', "
        "TIMESTAMP '2024-01-01 00:00:00.0021') // 1000"
    ).fetchone()[0]
    assert got == 1  # 1200us -> 1ms truncated


def test_series_cast_duration_to_int_is_unit_count(spark):
    """Series.cast(duration -> s64) yields the count in the duration's
    precision unit (µs), reference shared.ex:12-22 — not interval
    seconds."""
    import datetime

    import explorer_spark as ex
    from explorer_spark import Series, col

    d = ex.from_columns(
        {"a": [datetime.datetime(2024, 1, 1, 0, 0, 1, 250)], "b": [datetime.datetime(2024, 1, 1)]},
        spark=spark,
    )
    dur = d.mutate(dur=col("a") - col("b")).select(["dur"])
    s = Series(dur, "dur")
    assert s.dtype == ("duration", "us")
    assert s.cast(("s", 64)).to_list() == [1_000_250]


def test_datetime_tz_roundtrip_and_wall_clock(spark):
    """{:datetime, :microsecond, tz} (reference shared.ex:78-79,
    series/datetime_test.exs:107 'America/New_York'): tz-aware values
    infer the zone, round-trip in THAT zone (same instants), wall-clock
    extraction and strftime read local fields, and re-casting to
    Etc/UTC relabels without shifting the instant."""
    import datetime as dtm
    from zoneinfo import ZoneInfo

    from explorer_spark.series import Series

    ny = ZoneInfo("America/New_York")
    vals = [
        dtm.datetime(2024, 1, 1, 12, 0, 0, tzinfo=ny),   # EST (UTC-5)
        dtm.datetime(2024, 7, 1, 12, 0, 0, tzinfo=ny),   # EDT (UTC-4)
        None,
    ]
    s = Series.from_list(vals)
    assert s.dtype == ("datetime", "us", "America/New_York")
    assert s.to_list() == vals
    # wall-clock reads are LOCAL (hour 12 on both sides of the DST jump)
    assert s.hour().to_list() == [12, 12, None]
    assert s.year().to_list() == [2024, 2024, None]
    assert s.strftime("%H:%M").to_list() == ["12:00", "12:00", None]
    # zone relabel: same instants, new zone, stamp cleared
    u = s.cast(("datetime", "us", "Etc/UTC"))
    assert u.dtype == ("datetime", "us", "Etc/UTC")
    assert u.to_list()[:2] == [
        dtm.datetime(2024, 1, 1, 17, 0, tzinfo=dtm.timezone.utc),
        dtm.datetime(2024, 7, 1, 16, 0, tzinfo=dtm.timezone.utc),
    ]
    # explicit-dtype construction matches inference
    s2 = Series.from_list(vals, dtype=("datetime", "us", "America/New_York"))
    assert s2.to_list() == vals
    # arithmetic keeps instant semantics: aware series minus itself = 0
    assert (s2 - s2).cast(("s", 64)).to_list() == [0, 0, None]


def test_datetime_tz_expression_level_wall_clock(spark):
    """mutate/filter/summarise temporal extraction on a tz column must
    match Series-level answers (reference shared.ex:78-79 — the zone is
    a property of the COLUMN, not of the access path). expr._wall reads
    the tz metadata via LowerCtx.sdf."""
    import datetime as dtm
    from zoneinfo import ZoneInfo

    from explorer_spark import functions as f
    from explorer_spark.functions import col
    from explorer_spark.series import Series

    ny = ZoneInfo("America/New_York")
    vals = [
        dtm.datetime(2024, 1, 1, 12, 0, 0, tzinfo=ny),  # EST: 17:00 UTC
        dtm.datetime(2024, 7, 1, 12, 0, 0, tzinfo=ny),  # EDT: 16:00 UTC
        None,
    ]
    s = Series.from_list(vals)
    df = s._frame
    m = df.mutate(
        h=f.hour(col("values")),
        y=f.year(col("values")),
        d=f.to_date(col("values")),
        fm=f.strftime(col("values"), "%H:%M"),
    ).to_columns()
    assert m["h"] == s.hour().to_list() == [12, 12, None]
    assert m["y"] == s.year().to_list() == [2024, 2024, None]
    assert m["fm"] == s.strftime("%H:%M").to_list() == ["12:00", "12:00", None]
    assert m["d"] == [dtm.date(2024, 1, 1), dtm.date(2024, 7, 1), None]
    # filter and summarise read the same wall clock
    assert df.filter_with(f.hour(col("values")) == 12).n_rows() == 2
    assert df.summarise(ym=f.max(f.year(col("values")))).to_columns()["ym"] == [2024]
    # grouped mutate too
    g = df.mutate(g=f.month(col("values"))).group_by("g").mutate(hh=f.hour(col("values")))
    assert g.to_columns()["hh"] == [12, 12, None]
    # a UTC-stamped column is untouched
    u = Series.from_list([dtm.datetime(2024, 1, 1, 23, 30, tzinfo=dtm.timezone.utc)])
    assert u._frame.mutate(h=f.hour(col("values"))).to_columns()["h"] == [23]


def test_datetime_tz_computed_children_keep_zone(spark):
    """Round-8 closure of the last tz gap: a COMPUTED child —
    ``(col(ts) + duration).hour()`` — keeps the column's zone even
    though Spark strips column metadata through functions, because the
    Expr tree carries tz/dt_p/dur_p itself (expr._node_meta, the
    reference's per-node dtype, lazy_series.ex:216-236). Wall-field
    reference semantics: shared.ex:78-79, series/datetime_test.exs."""
    import datetime as dtm
    from zoneinfo import ZoneInfo

    from explorer_spark import functions as f
    from explorer_spark.functions import col
    from explorer_spark.series import Series

    ny = ZoneInfo("America/New_York")
    vals = [
        dtm.datetime(2023, 6, 1, 23, 30, tzinfo=ny),  # +2h -> June 2, 01:30 local
        dtm.datetime(2023, 1, 15, 1, 10, tzinfo=ny),  # +2h -> Jan 15, 03:10 local
        None,
    ]
    s = Series.from_list(vals, name="ts")
    df = s._frame
    two_h = dtm.timedelta(hours=2)
    # direct computed child
    m = df.mutate(h=f.hour(col("ts") + two_h), d=f.day_of_month(col("ts") + two_h))
    assert m.to_columns()["h"] == [1, 3, None]
    assert m.to_columns()["d"] == [2, 15, None]
    # chained mutate: the intermediate column is stamped, so a LATER
    # frame still reads the zone
    g = df.mutate(t2=col("ts") + two_h)
    assert g.dtypes["t2"] == ("datetime", "us", "America/New_York")
    assert g.mutate(h=f.hour(col("t2"))).to_columns()["h"] == [1, 3, None]
    # meta rides through fill/coalesce/conditional select, and a
    # datetime - datetime (duration) result does NOT wall-shift
    cond = f.select(f.is_nil(col("ts")), col("ts"), col("ts") + two_h)
    assert df.mutate(h=f.hour(cond)).to_columns()["h"] == [1, 3, None]
    # Series-level and expression-level agree (the old divergence)
    assert (s + two_h).hour().to_list() == [1, 3, None]
    # a derived child of a ms-precision column casts to ms counts
    msd = Series.from_list(
        [dtm.datetime(2024, 1, 1, 0, 0, 1), None], name="ts"
    ).cast(("naive_datetime", "ms"))
    fr = msd._frame.mutate(c=f.cast(col("ts") + two_h, ("s", 64)))
    assert fr.to_columns()["c"] == [(1704067200 + 1 + 7200) * 1000, None]


def test_datetime_tz_validation(spark):
    import datetime as dtm
    from zoneinfo import ZoneInfo

    import pytest as _pytest

    from explorer_spark.series import Series

    s = Series.from_list([dtm.datetime(2024, 1, 1, tzinfo=dtm.timezone.utc)])
    with _pytest.raises(ValueError, match="unknown time zone"):
        s.cast(("datetime", "us", "Mars/Olympus"))
    with _pytest.raises(ValueError, match="single time zone"):
        Series.from_list([
            dtm.datetime(2024, 1, 1, tzinfo=ZoneInfo("America/New_York")),
            dtm.datetime(2024, 1, 1, tzinfo=dtm.timezone.utc),
        ])


def test_naive_datetime_logical_precision(spark):
    """{:naive_datetime, ms/ns} logical precision over physical µs
    (reference series_test.exs:4446 string->ms shows .000 truncation;
    ns values stay µs-resolved — documented truncation like durations)."""
    import datetime as dtm

    from explorer_spark.series import Series

    v = dtm.datetime(2023, 8, 29, 17, 39, 43, 123456)
    ms = Series.from_list([v], dtype=("naive_datetime", "ms"))
    assert ms.dtype == ("naive_datetime", "ms")
    assert ms.to_list() == [v.replace(microsecond=123000)]
    ns = Series.from_list([v], dtype=("naive_datetime", "ns"))
    assert ns.dtype == ("naive_datetime", "ns")
    assert ns.to_list() == [v]
    us = Series.from_list([v], dtype=("naive_datetime", "us"))
    assert us.dtype == ("naive_datetime", "us")
    # cast round-trip: us -> ms truncates and stamps; ms -> us clears
    ms2 = us.cast(("naive_datetime", "ms"))
    assert ms2.dtype == ("naive_datetime", "ms")
    assert ms2.to_list() == [v.replace(microsecond=123000)]
    assert ms2.cast(("naive_datetime", "us")).dtype == ("naive_datetime", "us")
    # integers are COUNTS in the target unit (reference int->datetime)
    i = Series.from_list([1_700_000_000_000], dtype=("naive_datetime", "ms"))
    assert i.to_list() == [dtm.datetime(2023, 11, 14, 22, 13, 20)]


def test_datetime_int_cast_roundtrip(spark):
    """datetime <-> integer casts are epoch COUNTS in the logical
    precision (polars cast semantics; the int->datetime direction was
    already counts) — not Spark's timestamp->bigint seconds."""
    from explorer_spark.series import Series

    for unit, count in [("us", 1_700_000_000_123_456), ("ms", 1_700_000_000_123), ("ns", 1_700_000_000_123_456_000)]:
        s = Series.from_list([count], dtype=("naive_datetime", unit))
        back = s.cast(("s", 64)).to_list()
        assert back == [count], (unit, back)
    # tz-aware: the instant's count, zone-independent
    import datetime as dtm

    aware = Series.from_list(
        [dtm.datetime(2024, 1, 1, 12, tzinfo=dtm.timezone.utc)],
        dtype=("datetime", "us", "America/New_York"),
    )
    assert aware.cast(("s", 64)).to_list() == [1_704_110_400_000_000]


def test_expression_level_cast_matches_series_cast(spark):
    """mutate-level cast must follow Series.cast's temporal rules
    (reference polars cast semantics, series_test.exs:4353-4446), not
    Spark's seconds-based casts — expr._cast resolves source types via
    LowerCtx.sdf:
    - integer -> date/datetime/duration: epoch / unit COUNTS
    - datetime -> integer: epoch count in the LOGICAL precision (dt_p)
    - duration -> integer: count in the dur_p unit
    - ms targets truncate sub-ms and stamp dt_p/dur_p metadata"""
    import datetime as dtm

    from explorer_spark import functions as f
    from explorer_spark.functions import col
    from explorer_spark.series import Series
    from explorer_spark.sources import from_columns

    d = from_columns({"i": [0, 1_000_000]}, spark=spark)
    assert d.mutate(us=f.cast(col("i"), ("naive_datetime", "us"))).to_columns()["us"] == [
        dtm.datetime(1970, 1, 1),
        dtm.datetime(1970, 1, 1, 0, 0, 1),
    ]
    d2 = from_columns({"i": [0, 1, 365]}, spark=spark)
    assert d2.mutate(dt=f.cast(col("i"), "date")).to_columns()["dt"] == [
        dtm.date(1970, 1, 1),
        dtm.date(1970, 1, 2),
        dtm.date(1971, 1, 1),
    ]
    d3 = from_columns(
        {"t": [dtm.datetime(1970, 1, 1, 0, 0, 1), dtm.datetime(1970, 1, 1, 0, 0, 2)]},
        spark=spark,
    )
    got = d3.mutate(c=f.cast(col("t"), ("s", 64))).to_columns()["c"]
    assert got == [1_000_000, 2_000_000]  # µs counts, not Spark's seconds
    assert got == Series.from_list(
        [dtm.datetime(1970, 1, 1, 0, 0, 1), dtm.datetime(1970, 1, 1, 0, 0, 2)]
    ).cast(("s", 64)).to_list()
    # ms target: truncation + dt_p metadata; follow-up int cast reads ms
    m4 = from_columns({"t": [dtm.datetime(2024, 1, 1, 0, 0, 0, 123456)]}, spark=spark).mutate(
        tm=f.cast(col("t"), ("naive_datetime", "ms"))
    )
    assert m4.dtypes["tm"] == ("naive_datetime", "ms")
    assert m4.to_columns()["tm"] == [dtm.datetime(2024, 1, 1, 0, 0, 0, 123000)]
    assert m4.mutate(c=f.cast(col("tm"), ("s", 64))).to_columns()["c"] == [1704067200123]
    # int -> duration and back: counts in the unit, dur_p stamped
    m5 = from_columns({"i": [1500]}, spark=spark).mutate(du=f.cast(col("i"), ("duration", "ms")))
    assert m5.dtypes["du"] == ("duration", "ms")
    assert m5.mutate(c=f.cast(col("du"), ("s", 64))).to_columns()["c"] == [1500]
    # predicate position works too
    assert d3.filter_with(f.cast(col("t"), ("s", 64)) > 1_500_000).n_rows() == 1
    # duration -> duration precision recast truncates toward zero
    d6 = from_columns(
        {"a": [dtm.datetime(2024, 1, 1, 0, 0, 1, 250)], "b": [dtm.datetime(2024, 1, 1)]},
        spark=spark,
    ).mutate(dur=col("a") - col("b")).mutate(ms=f.cast(col("dur"), ("duration", "ms")))
    assert d6.dtypes["ms"] == ("duration", "ms")
    assert d6.to_rows()[0]["ms"] == dtm.timedelta(seconds=1)
    assert d6.mutate(c=f.cast(col("ms"), ("s", 64))).to_columns()["c"] == [1000]


def _agreement_sources():
    import datetime as dtm

    return {
        "s64": ([0, 1_500_000, None, -1_500], ("s", 64)),
        "string": (["2024-01-02 03:04:05.123456", None], "string"),
        "date": ([dtm.date(2024, 1, 2), None], "date"),
        "naive_us": ([dtm.datetime(2024, 1, 2, 3, 4, 5, 123456), None], ("naive_datetime", "us")),
        "datetime_zone": (
            [dtm.datetime(2024, 1, 2, 3, 4, 5, 123456, tzinfo=dtm.timezone.utc), None],
            ("datetime", "us", "America/New_York"),
        ),
        "duration_ms": ([1_500, None, -2], ("duration", "ms")),
        "time": ([dtm.time(1, 2, 3, 456789), None], "time"),
        "list_s64": ([[1, 2], None, []], ("list", ("s", 64))),
    }


_AGREEMENT_TARGETS = [
    "date",
    ("naive_datetime", "ms"),
    ("naive_datetime", "us"),
    ("naive_datetime", "ns"),
    ("datetime", "us", "Etc/UTC"),
    ("datetime", "ns", "Etc/UTC"),
    ("datetime", "us", "UTC"),
    ("datetime", "ns", "UTC"),
    ("datetime", "us", "Europe/Paris"),
    ("datetime", "ns", "Europe/Paris"),
    ("duration", "ms"),
    ("duration", "us"),
    ("duration", "ns"),
    ("s", 64),
    "category",
    "time",
    ("list", ("duration", "ms")),
]


_AGREEMENT_SERIES = {}  # source name -> Series, built once per session


def _cast_outcome(build):
    """(dtype, values) of a cast, or the fact that it raised."""
    try:
        out = build()
        return out.dtype, out.to_list()
    except Exception:  # noqa: BLE001 — both sides must raise alike
        return "raised"


@pytest.mark.parametrize("target", _AGREEMENT_TARGETS, ids=str)
@pytest.mark.parametrize("source", list(_agreement_sources()))
def test_series_cast_and_mutate_cast_agree(spark, source, target):
    """``Series.cast(d)`` and ``mutate(out = cast(col, d))`` report the
    same dtype and values, or both raise — one value rule (expr._cast)
    and one metadata rule (expr._node_meta) serve both."""
    from explorer_spark import functions as f
    from explorer_spark.functions import col
    from explorer_spark.series import Series

    if source not in _AGREEMENT_SERIES:
        values, dtype = _agreement_sources()[source]
        _AGREEMENT_SERIES[source] = Series.from_list(values, dtype=dtype, spark=spark)
    s = _AGREEMENT_SERIES[source]
    via_series = _cast_outcome(lambda: s.cast(target))

    def via_mutate():
        return s.to_frame().mutate(out=f.cast(col(s.name), target))["out"]

    assert via_series == _cast_outcome(via_mutate)
    kind = target[0] if isinstance(target, tuple) else target
    if source == "time" and kind in ("date", "naive_datetime", "datetime", "duration"):
        # ns since midnight is no epoch or duration count: both casts
        # raise while the plan is built, not at collect
        with pytest.raises(ValueError, match=":time"):
            s.cast(target)
        with pytest.raises(ValueError, match=":time"):
            s.to_frame().mutate(out=f.cast(col(s.name), target))


def test_list_cast_temporal_count_rules(spark):
    """{:list, inner} casts apply the temporal COUNT rules per element
    (reference list_test.exs 'list of integer series to list of naive
    datetime'): Spark's array cast refuses int->timestamp, so the
    lowering transforms element-wise with the scalar rules."""
    import datetime as dtm

    from explorer_spark.series import Series

    s = Series.from_list([[1, 2, 3], [1_649_883_642_000_000]]).cast(
        ("list", ("naive_datetime", "us"))
    )
    assert s.dtype == ("list", ("naive_datetime", "us"))
    assert s.to_list() == [
        [
            dtm.datetime(1970, 1, 1, 0, 0, 0, 1),
            dtm.datetime(1970, 1, 1, 0, 0, 0, 2),
            dtm.datetime(1970, 1, 1, 0, 0, 0, 3),
        ],
        [dtm.datetime(2022, 4, 13, 21, 0, 42)],
    ]
    # plain numeric list casts stay on Spark's native array cast
    assert Series.from_list([[1]]).cast(("list", ("f", 64))).to_list() == [[1.0]]
    assert Series.from_list([[[1]]]).cast(("list", ("list", "date"))).to_list() == [
        [[dtm.date(1970, 1, 2)]]
    ]


def test_decimal_precision_boundary(spark):
    """Reference 'decimal precision boundary': 38 digits fit, 39 raise
    EAGERLY at from_list (Spark would otherwise fail lazily at
    materialization)."""
    from decimal import Decimal

    import pytest as _pytest

    from explorer_spark.series import Series

    big = Decimal(10**38 - 1)
    assert Series.from_list([big], spark=spark).to_list() == [big]
    with _pytest.raises(ValueError, match="38 can't fit values with 39 digits"):
        Series.from_list([Decimal(10**38)], spark=spark)


def test_time_logical_dtype_surface(spark):
    """:time as a real logical dtype (reference series_test.exs time
    grids): round-trip, casts both ways, literal ops, list-of-time,
    Expr-tree marker through to_time."""
    import datetime

    import explorer_spark as ex
    from explorer_spark import Series, f

    t = datetime.time
    s = Series.from_list([t(1, 0), None, t(3, 0)], name="x", spark=spark)
    assert s.dtype == "time"
    assert s.to_list() == [t(1, 0), None, t(3, 0)]
    assert s.fill_missing(t(2, 0)).to_list() == [t(1, 0), t(2, 0), t(3, 0)]
    assert s.index_of(t(3, 0)) == 2
    assert s.min() == t(1, 0) and s.max() == t(3, 0)
    assert s.equal(t(1, 0)).to_list() == [True, None, False]
    assert s.isin([t(3, 0)]).to_list() == [False, None, True]
    assert s.sort().to_list() == [t(1, 0), t(3, 0), None]
    # int <-> time casts: the integer IS the ns count
    c = Series.from_list([1_000], name="x", spark=spark).cast("time")
    assert c.dtype == "time" and c.to_list() == [t(0, 0, 0, 1)]
    assert c.cast(("s", 64)).to_list() == [1_000]
    # list-of-time ingestion + member
    lt = Series.from_list([[t(0, 0)], [t(0, 0), t(0, 0, 1)]], name="x", dtype=("list", "time"), spark=spark)
    assert lt.dtype == ("list", "time")
    assert lt.to_list() == [[t(0, 0)], [t(0, 0), t(0, 0, 1)]]
    assert lt.member(t(0, 0, 1)).to_list() == [False, True]
    # to_time carries the marker through the Expr tree
    ts = Series.from_list([datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)], name="x", spark=spark)
    tt = ts.map(f.to_time)
    assert tt.dtype == "time"
    assert tt.to_list() == [t(12, 30, 45, 123456)]


def test_list_of_duration_ingestion(spark):
    """list-of-duration from_list: timedeltas AND unit counts ingest;
    dtype keeps the logical unit; member compares physically."""
    import datetime

    from explorer_spark import Series

    td = datetime.timedelta
    ld = Series.from_list([[td(seconds=1)]], name="x", dtype=("list", ("duration", "us")), spark=spark)
    assert ld.dtype == ("list", ("duration", "us"))
    assert ld.to_list() == [[td(seconds=1)]]
    ld2 = Series.from_list([[1, 2], None], name="x", dtype=("list", ("duration", "ms")), spark=spark)
    assert ld2.dtype == ("list", ("duration", "ms"))
    assert ld2.to_list() == [[td(milliseconds=1), td(milliseconds=2)], None]
    assert ld2.member(td(milliseconds=2)).to_list() == [True, None]


def test_cast_to_null_and_unknown_dtype(spark):
    """cast/2 edges (reference series_test.exs cast describe): any
    series casts to :null (all values nil), and an unknown dtype raises
    the reference's 'not implemented for dtype' error."""
    import pytest

    from explorer_spark.series import Series

    s = Series.from_list([1, 2, 3], spark=spark)
    n = s.cast("null")
    assert n.dtype == "null" and n.to_list() == [None, None, None]
    assert Series.from_list(["a"], spark=spark).cast("null").dtype == "null"
    with pytest.raises(ValueError, match=r"cast/2 not implemented for dtype :money"):
        s.cast("money")
