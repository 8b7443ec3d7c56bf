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
