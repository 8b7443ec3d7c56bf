"""The Arrow kernel boundary (``functions/arrow.py``): NULL rule, empty
input, the vector format, exact int64 round trips, and the grouped
form's sort and pass-through."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from finmlkit_spark.functions import arrow


def test_nan_output_becomes_null(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(5)], "k long, x double")

    def kernel(b):
        return {"k": b["k"], "y": np.where(b["k"] % 2 == 0, np.nan, b["x"])}

    got = {r["k"]: r["y"] for r in arrow.map_batches(df, kernel, "k long, y double").collect()}
    assert got == {0: None, 1: 1.0, 2: None, 3: 3.0, 4: None}
    col = arrow.column(lambda x: x * np.nan, "double")
    assert [r[0] for r in df.select(col("x")).collect()] == [None] * 5


def test_empty_input_returns_typed_frame_without_kernel_call(spark):
    df = spark.createDataFrame([], "k long, v array<double>")

    def kernel(_b):
        raise AssertionError("the kernel saw an empty batch")

    out = arrow.map_batches(df, kernel, {"k": "long", "n": "int"})
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<k:bigint,n:int>"
    folded = arrow.map_partitions(df, kernel, "n long")
    assert folded.collect() == []
    for by in ("k", None):
        grouped = arrow.groups(df, by, kernel, "n long", order=("k",))
        assert grouped.collect() == [] and grouped.columns == ["n"]
    assert df.select(arrow.column(kernel, "double")("k")).collect() == []


def test_vectors_raise_on_ragged_rows():
    with pytest.raises(ValueError, match="ragged"):
        arrow.vectors(pa.array([[1.0, 2.0], [3.0]]))
    m = arrow.vectors(pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]).slice(1))
    assert m.dtype == np.float64 and m.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    values, offsets = arrow.segments(pa.array([[1], None, [2, 3]]))
    assert values.tolist() == [1, 2, 3] and offsets.tolist() == [0, 1, 1, 3]


def test_int64_round_trips_exactly(spark):
    big = [1_600_000_000_000_000_000 + i for i in range(0, 70, 7)]
    df = spark.createDataFrame([(k,) for k in big], "k long")
    out = arrow.map_batches(df, lambda b: {"k": b["k"], "k2": b["k"] + 1}, "k long, k2 long")
    assert sorted((r["k"], r["k2"]) for r in out.collect()) == [(k, k + 1) for k in big]
    col = arrow.column(lambda k: np.ma.masked_array(k, k % 2 == 1), "long")
    got = sorted(r[0] for r in df.select(col("k")).collect() if r[0] is not None)
    assert got == [k for k in big if k % 2 == 0]


def test_groups_sort_each_group_stably(spark):
    """Each group arrives sorted by ``order``, ties in their input order;
    ``by=None`` is one group."""
    rows = [(g, k, i) for i, (g, k) in enumerate([(1, 3), (1, 1), (2, 2), (1, 1), (2, 1), (1, 2)])]
    df = spark.createDataFrame(rows, "g long, k long, i long").coalesce(1)

    def kernel(c):
        return [(int(c["g"][0]), c["i"].tolist())]

    got = dict(arrow.groups(df, "g", kernel, "g long, seen array<long>", order=("k",)).collect())
    assert got == {1: [1, 3, 5, 0], 2: [4, 2]}
    ((n,),) = arrow.groups(df, None, lambda c: [(len(c["i"]),)], "n long").collect()
    assert n == len(rows)


def test_groups_null_rule_int64_and_vectors(spark):
    big = 1_600_000_000_000_000_001
    df = spark.createDataFrame(
        [(0, big, [1.0, 2.0]), (0, big + 2, [3.0, 4.0]), (1, big + 4, [5.0, 6.0])],
        "g long, k long, v array<double>",
    )

    def kernel(c):
        m = arrow.vectors(c["v"])
        return {"k": c["k"] + 1, "y": np.where(c["g"] == 0, np.nan, m.sum(axis=1))}

    got = sorted(arrow.groups(df, "g", kernel, "k long, y double").collect())
    assert got == [(big + 1, None), (big + 3, None), (big + 5, 11.0)]


def test_groups_pass_through_keeps_values(spark):
    """A kernel that returns its input columns gives the input rows back
    (strings, timestamps and NULLs included), as ``Ewma`` relies on."""
    import datetime

    t0 = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    rows = [
        ("a", t0, 2, None),
        ("a", t0 + datetime.timedelta(seconds=1), 1, 7),
        ("b", None, 3, 9),
    ]
    df = spark.createDataFrame(rows, "s string, t timestamp, k long, n long")
    out = arrow.groups(df, "s", lambda c: c, df.schema, order=("k",))
    assert out.schema == df.schema
    assert sorted(out.collect()) == sorted(df.collect())
