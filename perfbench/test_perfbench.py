"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import verify  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


@pytest.mark.parametrize("make", [gen.tick_stream, lambda s, d: gen.corpus(s, d)[0]])
def test_seed_fixes_the_input(make, tmp_path):
    digests = []
    for i, seed in enumerate((7, 7, 8)):
        d = str(tmp_path / f"in{i}")
        make(seed, d)
        digests.append(gen.digest(d))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_metric_names_and_counts():
    e2e = [m["name"] for m in BENCH["end_to_end"]]
    per = [m["name"] for m in BENCH["per_layer"]]
    assert len(e2e) <= 16 and len(per) <= 128
    names = e2e + per + [w["name"] for w in BENCH["workloads"]]
    assert len(set(names)) == len(names)
    for n in names:
        assert NAME.fullmatch(n), n


def _units(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_every_end_to_end_metric_is_printed_with_its_unit():
    got = run.end_to_end_metrics(30.0, [5.0, 6.0], 1000, [2000.0, 2100.0])
    assert {k: u for k, (_, u) in got.items()} == _units("end_to_end")
    assert all(v > 0 for v, _ in got.values())


def test_every_per_layer_metric_is_printed_with_its_unit():
    ratios = {"labels.tbm.path_rows_per_event": 900.0,
              "dedup.minhash_lsh.verified_per_candidate": 0.0}
    got = run.per_layer_metrics([], ratios, 0.9, 6.0, 30.0, 0.5)
    assert {k: u for k, (_, u) in got.items()} == _units("per_layer")


def test_task_skew_is_taken_within_each_stage():
    def stage(task_ms):
        return {"executorRunTime": sum(task_ms), "shuffleWriteBytes": 0,
                "memoryBytesSpilled": 0, "diskBytesSpilled": 0, "task_ms": task_ms}

    # a short scan stage beside an even reduce stage: no stage is skewed
    even = [stage([10, 10, 10, 10]), stage([200, 200, 200, 200]), stage([999])]
    # one hot reduce task
    hot = [stage([10, 10, 10, 10]), stage([200, 200, 200, 800])]
    for stages, want in ((even, 1.0), (hot, 4.0)):
        got = spans.layer_metrics(
            [{"name": "x", "start": 0.0, "end": 1.0, "jobs": [1], "stages": stages}], "x")
        assert got["task_skew"] == want


def test_curation_check_catches_a_kept_duplicate(tmp_path):
    _, truth = gen.corpus(3, str(tmp_path / "docs"))
    ids = sorted(truth["text"])
    test = dict(zip(ids, verify.split_is_test([truth["text"][i] for i in ids])))
    bad = set(truth["bad"])
    losers = {d for g in truth["exact"] for d in g if d != min(g)}
    near = {max(p) for p in truth["pairs"]}
    good = [i for i in ids if not test[i] and i not in bad | losers | near]
    errs, recall = verify.check_curation(truth, good)
    assert errs == [] and recall == 1.0
    loser = next(d for d in losers if not test[d])
    errs, _ = verify.check_curation(truth, good + [loser])
    assert errs
    errs, _ = verify.check_curation(truth, good[1:])
    assert errs
