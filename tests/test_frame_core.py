"""Unit tests for the core frame verbs on small in-memory data, mirroring
the reference's doctest style (exact expected values incl. null/order
behavior)."""

import pytest

import explorer_spark as ex
from explorer_spark import col, f, lit


@pytest.fixture(scope="module")
def df(spark):
    return ex.from_columns(
        {
            "a": [1, 2, 3, 4, 5, 6],
            "b": [5.0, 4.0, None, 2.0, 1.0, 3.0],
            "g": ["x", "y", "x", "y", "x", "y"],
        },
        spark=spark,
    )


def test_names_dtypes(df):
    assert df.names == ["a", "b", "g"]
    assert df.dtypes == {"a": ("s", 64), "b": ("f", 64), "g": "string"}


def test_select_discard(df):
    assert df.select(["a"]).names == ["a"]
    assert df.discard(["a"]).names == ["b", "g"]
    assert df.select("^[ab]$").names == ["a", "b"]


def test_filter(df):
    out = df.filter(col("a") > lit(3)).to_columns()
    assert out["a"] == [4, 5, 6]


def test_filter_with_agg_broadcast(df):
    # aggregation in the predicate broadcasts (reference filter doc)
    out = df.filter(col("a") > f.mean(col("a"))).to_columns()
    assert out["a"] == [4, 5, 6]


def test_filter_with_tuple_return_raises_reference_error(df):
    # a mutate_with-shaped callback result ((name, expr) pairs) must
    # fail with the reference's boolean-LazySeries message, not a
    # cryptic crash deep in the filter machinery (round-11 ADVICE)
    import pytest

    with pytest.raises(ValueError, match="boolean LazySeries"):
        df.filter_with(lambda fr: [("x", fr["a"] > 1)])


def test_struct_field_missing_resolves_statically(spark):
    # the missing-field error resolves against the cached schema for
    # column/field chains — including nested ones — with the
    # reference's wording (data_frame_test.exs:707)
    import pytest

    from explorer_spark.sources import from_columns

    d = from_columns({"s": [{"inner": {"k": 7}}]}, spark=spark)
    with pytest.raises(ValueError, match=r'field "zz" not found in fields'):
        d.mutate_with(lambda fr: {"x": fr["s"].field("zz")})
    with pytest.raises(ValueError, match=r'field "zz" not found in fields'):
        d.mutate_with(lambda fr: {"x": fr["s"].field("inner").field("zz")})
    ok = d.mutate_with(lambda fr: {"k": fr["s"].field("inner").field("k")})
    assert ok.to_columns()["k"] == [7]


def test_grouped_mutate_broadcast(df):
    out = (
        df.group_by("g")
        .mutate(gsum=f.sum(col("a")))
        .ungroup()
        .sort_by("a")
        .to_columns()
    )
    assert out["gsum"] == [9, 12, 9, 12, 9, 12]
    # grouped sort permutes WITHIN each group, keeping the group's row
    # positions (reference lazy_test.exs:780 — polars window sort). Here
    # each group is already ascending, so nothing moves.
    within = df.group_by("g").mutate(gsum=f.sum(col("a"))).sort_by("a").to_columns()
    assert within["gsum"] == [9, 12, 9, 12, 9, 12]
    assert within["a"] == [1, 2, 3, 4, 5, 6]


def test_summarise_grouped(df):
    out = df.group_by("g").summarise(total=f.sum(col("a"))).sort_by("g").to_columns()
    assert out["g"] == ["x", "y"]
    assert out["total"] == [9, 12]


def test_summarise_ungrouped(df):
    out = df.summarise(total=f.sum(col("a")), n=f.size(col("a"))).to_columns()
    assert out == {"total": [21], "n": [6]}


def test_sort_nulls_last(df):
    out = df.sort_by("b").to_columns()
    assert out["b"] == [1.0, 2.0, 3.0, 4.0, 5.0, None]


def test_sort_descending(df):
    out = df.sort_by("b", descending=True, nils_last=False).to_columns()
    assert out["b"] == [None, 5.0, 4.0, 3.0, 2.0, 1.0]


def test_head_tail_slice(df):
    assert df.head(2).to_columns()["a"] == [1, 2]
    assert df.tail(2).to_columns()["a"] == [5, 6]
    assert df.slice(1, 3).to_columns()["a"] == [2, 3, 4]
    assert df.slice(-2, 2).to_columns()["a"] == [5, 6]
    assert df.slice([0, 2, 4]).to_columns()["a"] == [1, 3, 5]


def test_grouped_head(df):
    out = df.group_by("g").head(1).sort_by("a").to_columns()
    assert out["a"] == [1, 2]


def test_distinct_keep_first():
    d = ex.from_columns({"k": [1, 1, 2, 2, 3], "v": [10, 20, 30, 40, 50]})
    out = d.distinct(["k"], keep_all=True).sort_by("k").to_columns()
    assert out["v"] == [10, 30, 50]


def test_mutate_shift_cumsum(df):
    out = df.mutate(prev=f.shift(col("a"), 1), run=f.cumulative_sum(col("a"))).to_columns()
    assert out["prev"] == [None, 1, 2, 3, 4, 5]
    assert out["run"] == [1, 3, 6, 10, 15, 21]


def test_fill_missing(df):
    out = df.mutate(
        fwd=f.fill_missing(col("b"), "forward"),
        val=f.fill_missing(col("b"), 0.0),
        mean_fill=f.fill_missing(col("b"), "mean"),
    ).to_columns()
    assert out["fwd"] == [5.0, 4.0, 4.0, 2.0, 1.0, 3.0]
    assert out["val"] == [5.0, 4.0, 0.0, 2.0, 1.0, 3.0]
    assert out["mean_fill"] == [5.0, 4.0, 3.0, 2.0, 1.0, 3.0]


def test_rename_relocate(df):
    out = df.rename({"a": "x"})
    assert out.names == ["x", "b", "g"]
    assert df.relocate(["g"], before="a").names == ["g", "a", "b"]


def test_concat_rows(df):
    other = ex.from_columns({"a": [7.5], "b": [0.0], "g": ["z"]})
    out = df.concat_rows(other)
    assert out.n_rows() == 7
    assert out.dtypes["a"] == ("f", 64)  # merged int+float -> float


def test_concat_columns(df):
    other = ex.from_columns({"c": [10, 20, 30, 40, 50, 60]})
    out = df.concat_columns(other).sort_by("a").to_columns()
    assert out["c"] == [10, 20, 30, 40, 50, 60]


def test_pivot_wider_longer(spark):
    d = ex.from_columns(
        {
            "team": ["A", "A", "B", "B"],
            "day": ["mon", "tue", "mon", "tue"],
            "hours": [1, 2, 3, 4],
        },
        spark=spark,
    )
    wide = d.pivot_wider("day", "hours", id_columns=["team"], values=["mon", "tue"]).sort_by(
        "team"
    )
    assert wide.to_columns() == {"team": ["A", "B"], "mon": [1, 3], "tue": [2, 4]}
    back = wide.pivot_longer(["mon", "tue"], names_to="day", values_to="hours")
    assert back.n_rows() == 4
    assert back.n_columns() == 3


def test_join_suffix_and_hows(spark):
    left = ex.from_columns({"k": [1, 2, 3], "v": [10, 20, 30]}, spark=spark)
    right = ex.from_columns({"k": [2, 3, 4], "v": [200, 300, 400]}, spark=spark)
    inner = left.join(right, on="k", how="inner").sort_by("k")
    assert inner.names == ["k", "v", "v_right"]
    assert inner.to_columns()["v_right"] == [200, 300]
    lj = left.join(right, on="k", how="left").sort_by("k").to_columns()
    assert lj["v_right"] == [None, 200, 300]
    oj = left.join(right, on="k", how="outer")
    assert set(oj.names) == {"k", "v", "k_right", "v_right"}
    assert oj.n_rows() == 4
    # right join: right frame's columns lead under their own names, the
    # left's colliding columns get "_left" (reference out_df_for_join(:right),
    # data_frame.ex:5384-5390 and the :right grouped doctest at :5285)
    rj = left.join(right, on="k", how="right").sort_by("k")
    assert rj.names == ["k", "v", "v_left"]
    assert rj.to_columns()["v"] == [200, 300, 400]
    assert rj.to_columns()["v_left"] == [20, 30, None]
    cj = left.join(right, how="cross")
    assert cj.n_rows() == 9


def test_join_nulls_equal(spark):
    left = ex.from_columns({"k": [1, None], "v": [1, 2]}, spark=spark)
    right = ex.from_columns({"k": [1, None], "w": [10, 20]}, spark=spark)
    assert left.join(right, on="k", how="inner").n_rows() == 1
    assert left.join(right, on="k", how="inner", nulls_equal=True).n_rows() == 2


def test_join_asof(spark):
    trades = ex.from_columns({"t": [1, 5, 10], "sym": ["a", "a", "a"], "px": [1.0, 2.0, 3.0]}, spark=spark)
    quotes = ex.from_columns({"t": [0, 4, 8], "sym": ["a", "a", "a"], "bid": [0.9, 1.9, 2.9]}, spark=spark)
    out = trades.join_asof(quotes, on="t", by=["sym"], strategy="backward").sort_by("t").to_columns()
    assert out["bid"] == [0.9, 1.9, 2.9]
    fwd = trades.join_asof(quotes, on="t", by=["sym"], strategy="forward").sort_by("t").to_columns()
    assert fwd["bid"] == [1.9, 2.9, None]
    near = trades.join_asof(quotes, on="t", by=["sym"], strategy="nearest").sort_by("t").to_columns()
    assert near["bid"] == [0.9, 1.9, 2.9]


def test_explode_unnest(spark):
    d = ex.from_rows([{"id": 1, "xs": [1, 2]}, {"id": 2, "xs": []}], spark=spark)
    out = d.explode("xs").sort_by("id").to_columns()
    assert out["xs"] == [1, 2, None]


def test_dummies(spark):
    d = ex.from_columns({"c": ["a", "b", "a"]}, spark=spark)
    out = d.dummies(["c"]).to_columns()
    assert out["c_a"] == [1, 0, 1]
    assert out["c_b"] == [0, 1, 0]


def test_dummies_cardinality_gate(spark):
    """One-hot on a high-cardinality column must raise (unbounded
    driver collect + when-chain codegen blowup), with max_categories
    as the explicit escape hatch."""
    import pytest as _pytest

    d = ex.from_columns({"c": [str(i) for i in range(40)]}, spark=spark)
    with _pytest.raises(ValueError, match="more than 10 distinct"):
        d.dummies(["c"], max_categories=10)
    out = d.dummies(["c"], max_categories=40)
    assert len(out.names) == 40


def test_describe_frequencies(df):
    desc = df.describe()
    cols = desc.to_columns()
    assert cols["describe"] == ["count", "nil_count", "mean", "std", "min", "25%", "50%", "75%", "max"]
    assert cols["a"][0] == 6.0
    freq = df.frequencies("g").to_columns()
    assert freq["counts"] == [3, 3]


def test_nil_count(df):
    assert df.nil_count().to_columns() == {"a": [0], "b": [1], "g": [0]}


def test_sql(df):
    out = df.sql("SELECT g, sum(a) AS s FROM df GROUP BY g ORDER BY g")
    assert out.to_columns() == {"g": ["x", "y"], "s": [9, 12]}


def test_sort_by_expression_key(df):
    out = df.sort_by(f.coalesce(col("b"), lit(-1.0)), descending=True).to_columns()
    assert out["b"] == [5.0, 4.0, 3.0, 2.0, 1.0, None]


def test_mask(df):
    from pyspark.sql import functions as SF

    out = df.mask(SF.col("a") % 2 == 0).to_columns()
    assert out["a"] == [2, 4, 6]


def test_drop_nil(df):
    assert df.drop_nil(["b"]).n_rows() == 5
    assert df.drop_nil().n_rows() == 5


def test_to_rows_stream(df):
    rows = list(df.to_rows_stream())
    assert len(rows) == 6
    assert rows[0] == {"a": 1, "b": 5.0, "g": "x"}


def test_collect_materializes(df):
    out = df.filter(col("a") > lit(3)).collect()
    assert out.n_rows() == 3  # cached count
    assert out.to_columns()["a"] == [4, 5, 6]


def test_sample_seeded(df):
    out = df.sample(3, seed=42)
    assert out.n_rows() == 3
    again = df.sample(3, seed=42)
    assert sorted(out.to_columns()["a"]) == sorted(again.to_columns()["a"])


def test_join_asof_default_on(spark):
    """Omitted `on` resolves to the single overlapping column; zero or
    multiple overlaps raise (reference lazy_test.exs:1471-1520)."""
    import pytest as _pytest

    import explorer_spark as ex

    left = ex.from_columns({"id": [1, 2, 3], "time": [0.9, 2.1, 2.8]}, spark=spark)
    right = ex.from_columns({"time": [2.0], "value": [100]}, spark=spark)
    out = left.join_asof(right, strategy="nearest").to_columns()
    assert out == {"id": [1, 2, 3], "time": [0.9, 2.1, 2.8], "value": [100, 100, 100]}
    with _pytest.raises(ValueError, match="could not find any overlapping"):
        ex.from_columns({"a": [1]}, spark=spark).join_asof(
            ex.from_columns({"b": [1]}, spark=spark)
        )
    with _pytest.raises(ValueError, match="multiple columns"):
        ex.from_columns({"a": [1], "b": [1]}, spark=spark).join_asof(
            ex.from_columns({"a": [1], "b": [1]}, spark=spark)
        )


def test_selector_range_out_of_bounds(spark):
    """Range selectors past the column count raise with the reference's
    message shape (lazy_test.exs:897-910)."""
    import pytest as _pytest

    import explorer_spark as ex

    df = ex.from_columns({"a": [1], "b": [2], "c": [3]}, spark=spark)
    assert df.distinct(range(0, 2)).names == ["a", "b"]
    with _pytest.raises(ValueError, match="out of bounds"):
        df.distinct(range(100, 201))


def test_pivot_longer_select_and_discard(spark):
    """select narrows the kept id columns; discard wins on overlap
    (reference lazy_test.exs:1203-1220)."""
    import explorer_spark as ex

    d = ex.from_columns(
        {"gas_flaring": [1, 2], "cement": [3, 4], "solid_fuel": [5, 6], "liquid_fuels": [7, 8]},
        spark=spark,
    )
    out = d.pivot_longer(
        lambda n: n.endswith(("fuel", "fuels")),
        select=["gas_flaring", "cement"],
        discard=lambda n: n == "cement",
    )
    assert out.names == ["gas_flaring", "variable", "value"]
    got = out.to_columns()
    assert sorted(got["variable"]) == ["liquid_fuels", "liquid_fuels", "solid_fuel", "solid_fuel"]


def test_join_asof_tolerance_keyless(spark):
    """Keyless merge-asof kernel honors tolerance (pandas semantics)."""
    import explorer_spark as ex

    left = ex.from_columns({"k": [1, 5, 20], "lv": ["a", "b", "c"]}, spark=spark)
    right = ex.from_columns({"k": [0, 4, 10], "rv": ["x", "y", "z"]}, spark=spark)
    got = left.join_asof(right, on="k", strategy="backward", tolerance=2).to_rows()
    by_k = {r["k"]: r["rv"] for r in got}
    assert by_k == {1: "x", 5: "y", 20: None}  # 20 - 10 = 10 > 2 -> null
    got_n = left.join_asof(right, on="k", strategy="nearest", tolerance=1).to_rows()
    by_k = {r["k"]: r["rv"] for r in got_n}
    assert by_k == {1: "x", 5: "y", 20: None}


def test_join_asof_tolerance_by_keys(spark):
    import explorer_spark as ex

    left = ex.from_columns({"g": ["a", "a", "b"], "k": [3, 9, 3], "lv": [1, 2, 3]}, spark=spark)
    right = ex.from_columns({"g": ["a", "a", "b"], "k": [1, 5, 100], "rv": [10, 20, 30]}, spark=spark)
    got = left.join_asof(right, on="k", by=["g"], strategy="backward", tolerance=2).to_rows()
    by = {(r["g"], r["k"]): r["rv"] for r in got}
    assert by == {("a", 3): 10, ("a", 9): None, ("b", 3): None}


def test_access_fetch_getitem(spark):
    import explorer_spark as ex

    df = ex.from_columns({"a": [1, 2], "b": ["x", "y"]}, spark=spark)
    assert df.fetch("b").to_list() == ["x", "y"]  # fetch of one column is a Series
    assert df.fetch(0).name == "a"
    assert df.fetch("nope") is None and df.fetch(7) is None
    assert df["a"].to_list() == [1, 2]
    assert df[["a", "b"]].names == ["a", "b"]
    assert "a" in df and "zz" not in df
    import pytest as _pt

    with _pt.raises(KeyError):
        df["zz"]


def test_sort_with_callback(spark):
    import explorer_spark as ex
    from explorer_spark import col, f

    df = ex.from_columns({"a": [2, 1, 3], "b": ["y", "z", "x"]}, spark=spark)
    got = df.sort_with(lambda d: [("desc", col("a"))]).to_columns()
    assert got["a"] == [3, 2, 1]
    got = df.arrange_with(lambda d: ["b"]).to_columns()
    assert got["b"] == ["x", "y", "z"]
    # mixed directions + expression key
    got = df.sort_with(lambda d: [("asc", f.remainder(col("a"), 2)), ("desc", col("a"))]).to_columns()
    assert got["a"] == [2, 3, 1]


def test_new_and_lazy(spark):
    import pandas as pd

    import explorer_spark as ex

    assert ex.new({"a": [1]}, spark=spark).to_rows() == [{"a": 1}]
    assert ex.new([{"a": 2}], spark=spark).to_rows() == [{"a": 2}]
    assert ex.new(pd.DataFrame({"a": [3]}), spark=spark).to_rows() == [{"a": 3}]
    df = ex.new({"a": [1]}, spark=spark)
    assert df.to_lazy() is df and df.lazy() is df


def test_slice_take_order_duplicates_negatives(spark):
    """slice-by-indices follows the caller's order, keeps duplicates,
    and resolves negative indices (reference/Polars take semantics)."""
    import explorer_spark as ex

    df = ex.from_columns({"a": [10, 20, 30, 40]}, spark=spark)
    assert df.slice([2, 0]).to_columns()["a"] == [30, 10]
    assert df.slice([1, 1, 3]).to_columns()["a"] == [20, 20, 40]
    assert df.slice([-1, 0, -2]).to_columns()["a"] == [40, 10, 30]


def test_from_query_edge_cases(spark, tmp_path):
    import sqlite3

    import pytest as _pt

    import explorer_spark as ex

    db = tmp_path / "e.db"
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (id INTEGER, name TEXT)")
    conn.execute("INSERT INTO t VALUES (1, 'a')")
    conn.commit()
    # empty result set: schema inferred from cursor description, 0 rows
    empty = ex.from_query(conn, "SELECT id, name FROM t WHERE 1=0", spark=spark)
    assert empty.names == ["id", "name"] and empty.to_rows() == []
    # all-null column in a non-empty result
    nulls = ex.from_query(conn, "SELECT id, NULL AS x FROM t", spark=spark)
    assert nulls.to_rows() == [{"id": 1, "x": None}]
    # params misuse fails loudly
    with _pt.raises(TypeError):
        ex.from_query(conn, "SELECT 1", spark)  # spark passed where params go
    with _pt.raises(ValueError):
        ex.from_query("jdbc:sqlite:x", "SELECT ?", [1], spark=spark)
    with _pt.raises(ValueError):
        ex.from_query(conn, "SELECT 1", spark=spark, numPartitions=4)
    conn.close()


class TestDescribeReferenceGrid:
    """Reference describe/2 grid
    (reference test/explorer/data_frame_test.exs:4035-4160)."""

    def test_default_percentiles_mixed(self, spark):
        df = ex.from_columns({"a": ["d", None, "f"], "b": [1, 2, 3], "c": [10, 20, 30]})
        out = df.describe()
        assert out.dtypes == {
            "describe": "string",
            "a": "string",
            "b": ("f", 64),
            "c": ("f", 64),
        }
        cols = out.to_columns()
        assert cols["describe"] == [
            "count", "nil_count", "mean", "std", "min", "25%", "50%", "75%", "max",
        ]
        assert cols["a"] == ["2", "1", None, None, None, None, None, None, None]
        assert cols["b"] == [3.0, 0.0, 2.0, 1.0, 1.0, 1.5, 2.0, 2.5, 3.0] or cols["b"][:5] == [3.0, 0.0, 2.0, 1.0, 1.0]
        assert cols["c"][:5] == [3.0, 0.0, 20.0, 10.0, 10.0] and cols["c"][-1] == 30.0

    def test_custom_and_empty_percentiles(self, spark):
        df = ex.from_columns({"b": [1, 2, 3]})
        d1 = df.describe(percentiles=[0.3, 0.5, 0.8])
        assert d1.to_columns()["describe"] == [
            "count", "nil_count", "mean", "std", "min", "30%", "50%", "80%", "max",
        ]
        d2 = df.describe(percentiles=[])
        assert d2.to_columns()["describe"] == ["count", "nil_count", "mean", "std", "min", "max"]
        assert d2.to_columns()["b"] == [3.0, 0.0, 2.0, 1.0, 1.0, 3.0]

    def test_datetime_and_duration_formatting(self, spark):
        import datetime as dt

        df = ex.from_columns(
            {
                "naive_datetime": [
                    None,
                    dt.datetime(2021, 1, 1),
                    dt.datetime(1999, 12, 31),
                    dt.datetime(2023, 12, 13, 17, 38),
                ],
                "duration": [None, dt.timedelta(days=1), dt.timedelta(days=366), dt.timedelta(days=30)],
                "date": [dt.date(2021, 1, 1), dt.date(1999, 12, 31), None, dt.date(2023, 1, 1)],
            }
        )
        cols = df.describe().to_columns()
        assert cols["naive_datetime"][0] == "3" and cols["naive_datetime"][1] == "1"
        assert cols["naive_datetime"][4] == "1999-12-31 00:00:00.000000"
        assert cols["naive_datetime"][-1] == "2023-12-13 17:38:00.000000"
        assert cols["duration"][4] == "1d" and cols["duration"][-1] == "366d"
        # dates show counts only (reference quirk)
        assert cols["date"] == ["3", "1", None, None, None, None, None, None, None]


def test_summarise_literal_and_group_list(spark):
    """Reference summarise grid (data_frame_test.exs:4319-4502):
    literal summarise values become columns; a bare column in a grouped
    summarise collects the group's values as a LIST in frame order;
    all?/any? over all-null input yield the identity element."""
    d = ex.from_columns({"strs": ["a", "b", "c"], "nums": [1, 2, 3]})
    out = d.summarise(c=None).to_columns()
    assert out == {"c": [None]}
    letters = ex.from_columns(
        {
            "letters": list("abcdefghij"),
            "is_vowel": [True, False, False, False, True, False, False, False, True, False],
        }
    )
    got = (
        letters.group_by("is_vowel")
        .summarise(letters=col("letters"))
        .sort_by("is_vowel", descending=True)
        .to_columns()
    )
    assert [list(x) for x in got["letters"]] == [
        ["a", "e", "i"],
        ["b", "c", "d", "f", "g", "h", "j"],
    ]
    nils = ex.from_columns({"a": [True, False, True]}).mutate(
        nils=lit(None).cast("boolean")
    )
    agg = nils.summarise(
        all_=f.all(col("a")),
        any_=f.any(col("a")),
        all_nils=f.all(col("nils")),
        any_nils=f.any(col("nils")),
    ).to_columns()
    assert agg == {"all_": [False], "any_": [True], "all_nils": [True], "any_nils": [False]}


def test_dataframe_transform_row_udf(spark):
    """DataFrame.transform: row->dict function via mapInPandas (the
    reference materializes rows on the BEAM; here Arrow-batched and
    distributed), appending schema-typed columns."""
    d = ex.from_columns({"a": [1, 2, 3], "b": ["x", "y", "z"]}, spark=spark)
    out = d.transform(lambda r: {"c": r["a"] * 10, "tag": r["b"] + "!"}, {"c": ("s", 64), "tag": "string"})
    cols = out.sort_by("a").to_columns()
    assert cols["c"] == [10, 20, 30]
    assert cols["tag"] == ["x!", "y!", "z!"]
    assert out.dtypes["c"] == ("s", 64)


def test_mutate_series_value_and_list_rejection(spark):
    """Reference mutate semantics: a raw list raises (use put/3), an
    eager Series aligns positionally; put/3 accepts a Series without a
    driver collect."""
    from explorer_spark import Series

    d = ex.from_columns({"a": [1, 2, 3]}, spark=spark)
    with pytest.raises(ValueError, match="use put/3"):
        d.mutate(b=[10, 20, 30])
    s = Series.from_list([10, 20, 30], name="v", dtype=("s", 64), spark=spark)
    out = d.mutate(b=s).sort_by("a").to_columns()
    assert out == {"a": [1, 2, 3], "b": [10, 20, 30]}
    # mixed: expression + series in one mutate
    out2 = d.mutate(c=col("a") * 2, b=s).sort_by("a").to_columns()
    assert out2["c"] == [2, 4, 6] and out2["b"] == [10, 20, 30]
    # put with a Series replaces in place
    out3 = d.put("a", s).to_columns()
    assert out3["a"] == [10, 20, 30]


def test_mutate_map_builds_struct(spark):
    """Reference 'mutate with map' (data_frame_test.exs:728-762): a dict
    value builds a struct column from expressions/literals, nesting
    allowed."""
    d = ex.from_rows(
        [{"a": 1, "b": "a"}, {"a": None, "b": "b"}, {"a": 3, "b": None}], spark=spark
    )
    out = d.mutate(c={"a": col("a"), "b": col("b"), "lit": 1, "null": f.is_nil(col("a"))})
    assert out.dtypes["c"] == (
        "struct",
        [("a", ("s", 64)), ("b", "string"), ("lit", ("s", 64)), ("null", "boolean")],
    )
    rows = out.sort_by("a", nils_last=True).to_columns()["c"]
    assert rows[0] == {"a": 1, "b": "a", "lit": 1, "null": False}
    assert rows[2] == {"a": None, "b": "b", "lit": 1, "null": True}
    nested = d.mutate(c={"s": {"a": col("a"), "b": col("b")}})
    assert nested.dtypes["c"] == ("struct", [("s", ("struct", [("a", ("s", 64)), ("b", "string")]))])


def test_mask_with_series_and_expr(spark):
    """Reference mask/2: a standalone boolean Series aligns positionally;
    an Expr predicate also works."""
    from explorer_spark import Series

    d = ex.from_columns({"a": [1, 2, 3, 2], "b": [5.3, 2.4, 1.0, 2.0]}, spark=spark)
    m = Series.from_list([True, False, True, False], name="m", spark=spark)
    out = d.mask(m).sort_by("a").to_columns()
    assert out["a"] == [1, 3]
    out2 = d.mask(col("a") == lit(2)).sort_by("b").to_columns()
    assert out2["b"] == [2.0, 2.4]


def test_concat_rows_dtype_ladder(spark):
    """Reference concat_rows dtype-merge grid
    (data_frame_test.exs:2886-2960): u16+s16 -> s32; f32+f64 -> f64;
    u16+f32+null+s16 -> f32; list form accepted."""
    from explorer_spark import Series

    u16 = ex.from_columns({"x": [1, 2]}).mutate(x=col("x").cast(("u", 16)))
    s16 = ex.from_columns({"x": [4, 5]}).mutate(x=col("x").cast(("s", 16)))
    out = u16.concat_rows(s16)
    assert out.dtypes["x"] == ("s", 32)
    assert sorted(out.to_columns()["x"]) == [1, 2, 4, 5]
    f32 = ex.from_columns({"x": [1.0, 2.0]}).mutate(x=col("x").cast(("f", 32)))
    f64 = ex.from_columns({"x": [4.0, 5.0]})
    assert f32.concat_rows(f64).dtypes["x"] == ("f", 64)
    nulls = ex.from_columns({"x": [None, None]})
    ladder = u16.concat_rows([f32, nulls, s16])
    assert ladder.dtypes["x"] == ("f", 32)
    got = ladder.to_columns()["x"]
    assert got.count(None) == 2 and sorted(v for v in got if v is not None) == [1.0, 1.0, 2.0, 2.0, 4.0, 5.0]


def test_concat_columns_suffix_and_list(spark):
    """Reference concat_columns grid (data_frame_test.exs:4206-4237):
    conflicting names get numeric suffixes; list form accepted."""
    df1 = ex.from_columns({"x": [1, 2, 3], "y": ["a", "b", "c"]}, spark=spark)
    df2 = ex.from_columns({"x": [4, 5, 6], "a": ["d", "e", "f"]}, spark=spark)
    out = df1.concat_columns([df2])
    assert out.names == ["x", "y", "x_1", "a"]
    cols = out.sort_by("x").to_columns()
    assert cols["x"] == [1, 2, 3] and cols["x_1"] == [4, 5, 6] and cols["a"] == ["d", "e", "f"]


def test_concat_columns_pads_shorter_frames(spark):
    """Reference lazy_test.exs:1668: horizontal concat is as long as the
    LONGEST frame — shorter frames pad with nils (polars hstack rule)."""
    df1 = ex.from_columns({"x": [1, 2, 3], "y": ["a", "b", "c"]}, spark=spark)
    df2 = ex.from_columns({"z": [4, 5, 6, 7], "a": ["d", "e", "f", "g"]}, spark=spark)
    out = df1.concat_columns(df2)
    assert out.names == ["x", "y", "z", "a"]
    cols = out.to_columns()
    assert cols["x"] == [1, 2, 3, None]
    assert cols["y"] == ["a", "b", "c", None]
    assert cols["z"] == [4, 5, 6, 7]
    # bigger LEFT side pads the right; row order stays left-major
    d3 = ex.from_columns({"w": [9]}, spark=spark)
    out2 = df1.concat_columns([df2, d3])
    assert out2.to_columns()["w"] == [9, None, None, None]
    assert out2.head(2).to_columns()["x"] == [1, 2]


def test_pivot_wider_reference_option_corners(spark):
    """Round-8 sweep of reference pivot_wider tests: names_prefix,
    multi-column values_from expanding names, float id columns
    DISCARDED from the id selection (empty selection raises)."""
    import pytest as _pytest

    from explorer_spark.sources import from_columns

    d = from_columns(
        {"id": [1, 1], "variable": ["1", "2"], "value": [1.0, 2.0]}, spark=spark
    ).pivot_wider(
        "variable", "value", id_columns=["id"], names_prefix="column_", values=["1", "2"]
    )
    assert d.names == ["id", "column_1", "column_2"]
    assert d.to_columns() == {"id": [1], "column_1": [1.0], "column_2": [2.0]}

    m = from_columns(
        {"id": [1, 1], "variable": ["a", "b"], "value": [1, 2], "another_value": [6, 9]},
        spark=spark,
    ).pivot_wider("variable", ["value", "another_value"], values=["a", "b"])
    assert m.to_columns() == {
        "id": [1],
        "value_a": [1],
        "value_b": [2],
        "another_value_a": [6],
        "another_value_b": [9],
    }

    f = from_columns(
        {"float_id": [1.5, 1.6], "variable": ["a", "b"], "value": [1, 2]}, spark=spark
    )
    with _pytest.raises(ValueError, match="float columns are discarded"):
        f.pivot_wider("variable", "value")
    g = from_columns({"id": [1, 1], "variable": ["a", "b"], "value": [1, 2]}, spark=spark)
    with _pytest.raises(ValueError, match="selects none"):
        g.pivot_wider("variable", "value", id_columns=[])


def test_concat_rows_incompatibility_errors(spark):
    """Reference concat_rows error shapes (data_frame_test.exs:2982/3000):
    mismatched column sets and unmergeable dtypes raise DESCRIPTIVE
    errors naming the frames/columns, not a resolver failure."""
    import pytest

    from explorer_spark.sources import from_columns

    d1 = from_columns({"x": [1], "y": ["a"]}, spark=spark)
    with pytest.raises(ValueError, match="must have the same columns"):
        d1.concat_rows(from_columns({"z": [7]}, spark=spark))
    with pytest.raises(ValueError, match="dtypes must be compatible"):
        d1.concat_rows(from_columns({"x": [7], "y": [10]}, spark=spark))


def test_frame_getitem_slice_and_regex(spark):
    """DataFrame Access parity: a python slice selects COLUMNS by
    position (reference df[0..1]) and a compiled regex selects matching
    names (reference df[~r/.../])."""
    import re

    from explorer_spark.sources import from_columns

    df = from_columns({"a": [1], "b": ["x"], "c": [1.0]}, spark=spark)
    assert df[0:2].names == ["a", "b"]
    assert df[re.compile("a|c")].names == ["a", "c"]
    assert df[::2].names == ["a", "c"]
