"""Table render + inspect repr (round 10).

Expected strings are VERBATIM from the reference's to_table_string
doctests (data_frame.ex:5443, 5468, 5491, 5514, 5539, 6410, 6427, 6440,
6460 — the nine blocks the v2 extractor previously skipped as 'rendered
literal') — the engine's TableRex-equivalent renderer must reproduce
them byte for byte.
"""

import pytest

from explorer_spark.sources import from_columns


def _f(spark, **cols):
    return from_columns(cols, spark=spark)


def test_left_join_table(spark):  # data_frame.ex:5443
    lhs = _f(spark, number=[10, 20, 30], upper=["A", "B", "C"])
    rhs = _f(spark, number=[10, 20], lower=["x", "y"])
    got = lhs.join(rhs, on="number", how="left").to_table_string()
    assert got == (
        "+---------------------------------------------+\n"
        "|  Explorer DataFrame: [rows: 3, columns: 3]  |\n"
        "+-------------+---------------+---------------+\n"
        "|   number    |     upper     |     lower     |\n"
        "|    <s64>    |   <string>    |   <string>    |\n"
        "+=============+===============+===============+\n"
        "| 10          | A             | x             |\n"
        "| 20          | B             | y             |\n"
        "| 30          | C             | nil           |\n"
        "+-------------+---------------+---------------+\n"
    )


def test_asof_join_tables(spark):  # data_frame.ex:5468/5491/5514/5539
    lhs = _f(spark, number=[10, 20, 30], upper=["A", "B", "C"])
    rhs2 = _f(spark, number=[1, 11, 21], lower=["x", "y", "z"])

    backward = lhs.join_asof(rhs2, strategy="backward").to_table_string()
    assert backward.splitlines()[6:9] == [
        "| 10          | A             | x             |",
        "| 20          | B             | y             |",
        "| 30          | C             | z             |",
    ]
    forward = lhs.join_asof(rhs2, strategy="forward").to_table_string()
    assert forward.splitlines()[6:9] == [
        "| 10          | A             | y             |",
        "| 20          | B             | z             |",
        "| 30          | C             | nil           |",
    ]
    nearest = lhs.join_asof(rhs2, strategy="nearest").to_table_string()
    assert nearest.splitlines()[6:9] == [
        "| 10          | A             | y             |",
        "| 20          | B             | z             |",
        "| 30          | C             | z             |",
    ]

    lhs_color = _f(spark, number=[10, 20, 30], color=["red", "blue", "blue"])
    rhs_blue = _f(
        spark, number=[1, 11, 21], color=["blue", "blue", "blue"], lower=["x", "y", "z"]
    )
    by = lhs_color.join_asof(rhs_blue, on="number", by=["color"]).to_table_string()
    assert by == (
        "+---------------------------------------------+\n"
        "|  Explorer DataFrame: [rows: 3, columns: 3]  |\n"
        "+-------------+---------------+---------------+\n"
        "|   number    |     color     |     lower     |\n"
        "|    <s64>    |   <string>    |   <string>    |\n"
        "+=============+===============+===============+\n"
        "| 10          | red           | nil           |\n"
        "| 20          | blue          | y             |\n"
        "| 30          | blue          | z             |\n"
        "+-------------+---------------+---------------+\n"
    )


def test_iris_tables(spark):  # data_frame.ex:6410/6427/6440
    from explorer_spark.datasets import DatasetNotFound, iris

    try:
        df = iris(spark=spark)
    except DatasetNotFound as e:
        pytest.skip(str(e))
    assert df.to_table_string() == (
        "+--------------------------------------------------------------------------+\n"
        "|               Explorer DataFrame: [rows: 150, columns: 5]                |\n"
        "+--------------+-------------+--------------+-------------+----------------+\n"
        "| sepal_length | sepal_width | petal_length | petal_width |    species     |\n"
        "|    <f64>     |    <f64>    |    <f64>     |    <f64>    |    <string>    |\n"
        "+==============+=============+==============+=============+================+\n"
        "| 5.1          | 3.5         | 1.4          | 0.2         | Iris-setosa    |\n"
        "| 4.9          | 3.0         | 1.4          | 0.2         | Iris-setosa    |\n"
        "| 4.7          | 3.2         | 1.3          | 0.2         | Iris-setosa    |\n"
        "| …            | …           | …            | …           | …              |\n"
        "| 6.2          | 3.4         | 5.4          | 2.3         | Iris-virginica |\n"
        "| 5.9          | 3.0         | 5.1          | 1.8         | Iris-virginica |\n"
        "+--------------+-------------+--------------+-------------+----------------+\n"
    )
    assert df.to_table_string(limit=2) == (
        "+--------------------------------------------------------------------------+\n"
        "|               Explorer DataFrame: [rows: 150, columns: 5]                |\n"
        "+--------------+-------------+--------------+-------------+----------------+\n"
        "| sepal_length | sepal_width | petal_length | petal_width |    species     |\n"
        "|    <f64>     |    <f64>    |    <f64>     |    <f64>    |    <string>    |\n"
        "+==============+=============+==============+=============+================+\n"
        "| 5.1          | 3.5         | 1.4          | 0.2         | Iris-setosa    |\n"
        "| …            | …           | …            | …           | …              |\n"
        "| 5.9          | 3.0         | 5.1          | 1.8         | Iris-virginica |\n"
        "+--------------+-------------+--------------+-------------+----------------+\n"
    )
    assert df.to_table_string(limit_dots="bottom") == (
        "+-----------------------------------------------------------------------+\n"
        "|              Explorer DataFrame: [rows: 150, columns: 5]              |\n"
        "+--------------+-------------+--------------+-------------+-------------+\n"
        "| sepal_length | sepal_width | petal_length | petal_width |   species   |\n"
        "|    <f64>     |    <f64>    |    <f64>     |    <f64>    |  <string>   |\n"
        "+==============+=============+==============+=============+=============+\n"
        "| 5.1          | 3.5         | 1.4          | 0.2         | Iris-setosa |\n"
        "| 4.9          | 3.0         | 1.4          | 0.2         | Iris-setosa |\n"
        "| 4.7          | 3.2         | 1.3          | 0.2         | Iris-setosa |\n"
        "| 4.6          | 3.1         | 1.5          | 0.2         | Iris-setosa |\n"
        "| 5.0          | 3.6         | 1.4          | 0.2         | Iris-setosa |\n"
        "| …            | …           | …            | …           | …           |\n"
        "+--------------+-------------+--------------+-------------+-------------+\n"
    )


def test_struct_table(spark):  # data_frame.ex:6460
    df = _f(spark, col=[{"key1": [3], "key2": [4]}, {"key1": [5], "key2": [6]}])
    assert df.to_table_string() == (
        "+-------------------------------------------+\n"
        "| Explorer DataFrame: [rows: 2, columns: 1] |\n"
        "+-------------------------------------------+\n"
        "|                    col                    |\n"
        "|                <struct[2]>                |\n"
        "+===========================================+\n"
        "| {                                         |\n"
        "|  key1: [3]                                |\n"
        "|  key2: [4]                                |\n"
        "| }                                         |\n"
        "+-------------------------------------------+\n"
        "| {                                         |\n"
        "|  key1: [5]                                |\n"
        "|  key2: [6]                                |\n"
        "| }                                         |\n"
        "+-------------------------------------------+\n"
    )


def test_frame_repr(spark):
    df = _f(spark, a=[1, 2, 3, 4, 5, 6, 7], b=["x", None, "z", "w", "v", "u", "t"])
    assert repr(df) == (
        "#Explorer.DataFrame<\n"
        "  Spark[7 x 2]\n"
        "  a s64 [1, 2, 3, 4, 5, ...]\n"
        '  b string ["x", nil, "z", "w", "v", ...]\n'
        ">"
    )
    g = df.group_by("b")
    assert '  Groups: ["b"]' in repr(g).splitlines()[2]


def test_series_repr(spark):
    from explorer_spark.series import Series

    s = Series.from_list([1.5, None, float("nan")], name="v", spark=spark)
    assert repr(s) == (
        "#Explorer.Series<\n"
        "  Spark[3]\n"
        "  f64 [1.5, nil, NaN]\n"
        ">"
    )


def test_render_edges(spark):
    import pytest

    df = _f(spark, a=[1])
    with pytest.raises(ValueError, match="limit"):
        df.to_table_string(limit=-1)
    with pytest.raises(ValueError, match="limit_dots"):
        df.to_table_string(limit_dots="sideways")
    # infinity renders every row, no dots
    full = _f(spark, a=list(range(8))).to_table_string(limit="infinity")
    assert "…" not in full and "| 7" in full
    # duration formatting
    from explorer_spark.render import format_duration

    assert format_duration(0, "us") == "0"
    assert format_duration(90_061_000_001, "us") == "1d 1h 1m 1s 1us"
    assert format_duration(-1_500, "ms") == "-1s 500ms"
