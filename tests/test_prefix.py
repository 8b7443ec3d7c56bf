"""Differential tests for functions.prefix: the driver side
(``local_prefix``, and ``exclusive_prefix`` below its bound) and the
two-level scale side at several group sizes, against a driver-side
brute force over adversarial key distributions (negatives, gaps,
group-boundary keys, all-null last-columns, singleton and empty
tables)."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest

from finmlkit_spark.functions import prefix
from finmlkit_spark.functions.prefix import exclusive_prefix, local_prefix, two_level


def _brute(rows):
    run, lastv, out = 0, None, {}
    for k, s, v in sorted(rows):
        out[k] = (run, lastv)
        run += s
        if v is not None:
            lastv = v
    return out


def _cases():
    rng = random.Random(23)
    dense = [(k, rng.randint(0, 9), rng.choice([None, rng.randint(-3, 3)])) for k in range(40)]
    gappy_keys = sorted(rng.sample(range(-3000, 3000), 120))
    gappy = [(k, rng.randint(0, 5), rng.choice([None, None, rng.randint(0, 9)])) for k in gappy_keys]
    rng.shuffle(gappy)  # the prefix orders by key, not by arrival
    boundary = [(k, 1, k) for k in (-4096, -1, 0, 1, 4095, 4096, 4097, 8192)]
    all_null = [(k, 2, None) for k in range(10)]
    single = [(7, 5, 3)]
    return {
        "dense": dense,
        "gappy": gappy,
        "boundary": boundary,
        "all_null": all_null,
        "single": single,
        "empty": [],
    }


SCHEMA = "k long, s long, v long"
SUMS, LASTS = {"ps": "s"}, {"pl": "v"}


@pytest.mark.parametrize("name", list(_cases()))
def test_local_prefix_matches_brute_force(name):
    rows = _cases()[name]
    tbl = pa.table(
        {c: pa.array([r[i] for r in rows], pa.int64()) for i, c in enumerate("ksv")}
    )
    out = local_prefix(tbl, "k", SUMS, LASTS)
    assert out.schema.names == ["k", "ps", "pl"]
    assert out["k"].to_pylist() == sorted(r[0] for r in rows)
    got = dict(zip(out["k"].to_pylist(), zip(out["ps"].to_pylist(), out["pl"].to_pylist())))
    assert got == _brute(rows)


def test_exclusive_prefix_gate_sides_match_brute_force(spark, gate_sides):
    """Below the bound the gate prefixes on the driver; the forced run
    takes the two-level plan over the gate's cut. Both equal the brute
    force on every case."""

    def run():
        got = {}
        for name, rows in _cases().items():
            out = exclusive_prefix(spark.createDataFrame(rows, SCHEMA), "k", SUMS, LASTS)
            got[name] = {r["k"]: (r["ps"], r["pl"]) for r in out.collect()}
        return got

    small, scale = gate_sides(run)
    want = {name: _brute(rows) for name, rows in _cases().items()}
    assert small == want
    assert scale == want


@pytest.mark.parametrize("group", [1, 7, 4096])
def test_exclusive_prefix_modes_match_brute_force(spark, monkeypatch, group):
    """The scale side, at group sizes from one key per group up to the
    shipped size."""
    monkeypatch.setattr(prefix, "_GROUP", group)
    for name, rows in _cases().items():
        df = spark.createDataFrame(rows, SCHEMA)
        out = two_level(df, "k", SUMS, LASTS)
        got = {r["k"]: (r["ps"], r["pl"]) for r in out.collect()}
        assert got == _brute(rows), (name, group)


def _float_cases():
    """Positive float sums whose values span 16 decades, so any
    reassociation of the fold shows in the low bits while its relative
    error stays near n·ε."""
    rng = random.Random(29)

    def val():
        return rng.choice([None, rng.uniform(0.5, 1) * 10.0 ** rng.randint(-8, 8)])

    dense = [(k, val()) for k in range(300)]
    gappy = [(k, val()) for k in sorted(rng.sample(range(-20000, 20000), 400))]
    rng.shuffle(gappy)
    boundary = [(k, val()) for k in (-4096, -1, 0, 1, 4095, 4096, 4097, 8192)]
    return {"dense": dense, "gappy": gappy, "boundary": boundary, "single": [(3, 0.1)]}


def _fold(rows):
    """The sequential fold in key order: ``sum() OVER (ORDER BY k ROWS
    BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``, 0.0 when none."""
    run, out = 0.0, {}
    for k, s in sorted(rows):
        out[k] = run
        if s is not None:
            run += s
    return out


FSCHEMA = "k long, s double"


def _hex(got):
    return {k: float.hex(v) for k, v in got.items()}


@pytest.mark.parametrize("name", list(_float_cases()))
def test_local_prefix_float_sum_is_the_sequential_fold(name):
    """A float sum stays float64 and equals the key-order fold bit for
    bit (no int64 cast, no cumsum - v cancellation)."""
    rows = _float_cases()[name]
    tbl = pa.table(
        {"k": pa.array([r[0] for r in rows], pa.int64()),
         "s": pa.array([r[1] for r in rows], pa.float64())}
    )
    out = local_prefix(tbl, "k", {"ps": "s"}, {})
    assert out.schema.field("ps").type == pa.float64()
    assert _hex(dict(zip(out["k"].to_pylist(), out["ps"].to_pylist()))) == _hex(_fold(rows))


def test_exclusive_prefix_float_sum_gate_sides(spark, gate_sides):
    """The driver side is the fold bit for bit; the two-level side is
    within reassociation of it (bit-identical where every key falls in
    one group)."""

    def run():
        return {
            name: {r["k"]: r["ps"] for r in exclusive_prefix(
                spark.createDataFrame(rows, FSCHEMA), "k", {"ps": "s"}).collect()}
            for name, rows in _float_cases().items()
        }

    small, scale = gate_sides(run)
    for name, rows in _float_cases().items():
        want = _fold(rows)
        assert _hex(small[name]) == _hex(want), name
        assert scale[name].keys() == want.keys(), name
        for k, v in want.items():
            assert abs(scale[name][k] - v) <= 1e-12 * v, (name, k)
    assert _hex(scale["dense"]) == _hex(small["dense"])  # one group


@pytest.mark.parametrize("group", [1, 7, 4096])
def test_two_level_float_sum_ignores_partitioning(spark, monkeypatch, group):
    """The scale side folds group totals and group offsets in key order:
    the same bits for one input partition or seven, within 1e-12
    relative of the sequential fold."""
    monkeypatch.setattr(prefix, "_GROUP", group)
    for name, rows in _float_cases().items():
        df = spark.createDataFrame(rows, FSCHEMA)
        outs = [
            {r["k"]: r["ps"] for r in two_level(df.repartition(p), "k", {"ps": "s"}, {}).collect()}
            for p in (1, 7)
        ]
        assert _hex(outs[0]) == _hex(outs[1]), (name, group)
        want = _fold(rows)
        assert outs[0].keys() == want.keys()
        for k, v in want.items():
            assert abs(outs[0][k] - v) <= 1e-12 * v, (name, group, k)


def test_exclusive_prefix_empty_keeps_declared_types(spark, gate_sides):
    """An empty summary gives zero rows with int64 and float64 sums on
    both gate sides."""
    empty = spark.createDataFrame([], "k long, n long, s double")

    def run():
        out = exclusive_prefix(empty, "k", {"pn": "n", "ps": "s"})
        return out.dtypes, out.collect()

    small, scale = gate_sides(run)
    assert small == scale == ([("k", "bigint"), ("pn", "bigint"), ("ps", "double")], [])
