from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("FMK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from finmlkit_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check import duck_con

    return duck_con(SF_ORACLE)



@pytest.fixture
def gate_sides(monkeypatch):
    """``run(fn) -> (small, scale)``: calls ``fn`` twice, first in auto
    (asserting every size probe — ``cache.collect_if_small`` and
    ``cache.rows_at_most`` share one — took the small side), then with
    the forced-distributed hook on (asserting a probe was hit and took
    the scale side). ``fn`` must build AND collect the operator's
    output."""
    from finmlkit_spark import cache

    real = cache._probe
    sides = []

    def spy(*args):
        out = real(*args)
        sides.append(out[1] is not None)
        return out

    monkeypatch.setattr(cache, "_probe", spy)

    def run(fn):
        sides.clear()
        small = fn()
        assert sides and all(sides), "auto did not take the small side"
        sides.clear()
        monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", True)
        try:
            scale = fn()
        finally:
            monkeypatch.setattr(cache, "_FORCE_DISTRIBUTED", False)
        assert sides and not any(sides), "the forced run took the small side"
        return small, scale

    return run
