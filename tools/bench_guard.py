"""Bench regression guard.

A change once shipped two >30% per-query regressions silently (a persist
that helped one query taxed two others). This guard makes that loud: it
compares a fresh bench JSON against the newest recorded ``BENCH_r*.json``
and exits non-zero on any query that regressed more than the threshold
without an explanation.

Usage:
    python bench.py 2>/dev/null | tail -1 > /tmp/bench_now.json
    python tools/bench_guard.py /tmp/bench_now.json [--threshold 0.3]

Explained regressions are acknowledged by listing the query name in
``BENCH_NOTES.md`` (one ``- query_name: reason`` bullet per line) —
the guard prints them as WAIVED instead of failing. Timing noise on a
shared host is real: re-run the bench before trusting a single red.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(p: str) -> dict:
    with open(p) as f:
        d = json.load(f)
    # driver files carry the bench JSON line under "parsed" (with the
    # raw stdout under "tail"); a plain bench.py line has "queries" at
    # the top level
    if "queries" in d:
        return d["queries"]
    if isinstance(d.get("parsed"), dict):
        return d["parsed"].get("queries", {})
    tail = d.get("tail", "")
    m = re.search(r'\{"metric".*\}', tail)
    if m:
        return json.loads(m.group(0)).get("queries", {})
    # driver tails keep only the LAST ~2 kB of the bench line, cutting
    # the head off — but bench.py orders keys least->most important
    # precisely so the flat "queries" map survives the cut; grab it
    # directly (it contains no nested objects)
    m = re.search(r'"queries": (\{[^{}]*\})', tail)
    if m:
        return json.loads(m.group(1))
    return {}


def recorded_paths() -> list[str]:
    return sorted(
        glob.glob(os.path.join(ROOT, "BENCH_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )


def latest_recorded() -> tuple[str, dict]:
    paths = recorded_paths()
    if not paths:
        return "(none)", {}
    return paths[-1], _parse(paths[-1])


def waived() -> dict[str, str]:
    notes = os.path.join(ROOT, "BENCH_NOTES.md")
    out: dict[str, str] = {}
    if os.path.exists(notes):
        for line in open(notes):
            m = re.match(r"\s*-\s*([A-Za-z0-9_]+)\s*:\s*(.+)", line)
            if m:
                out[m.group(1)] = m.group(2).strip()
    return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    thr = 0.3
    if "--threshold" in sys.argv:
        thr = float(sys.argv[sys.argv.index("--threshold") + 1])
    if sys.argv[1] == "--audit":
        # post-hoc audit of the DRIVER-recorded files: compare the two
        # newest BENCH_r*.json: recorded numbers can become the record
        # without a guard run, so a >30% regression would pass
        # silently — this mode makes the check possible after the fact
        paths = recorded_paths()
        if len(paths) < 2:
            print("audit needs two recorded BENCH_r*.json files")
            return 0
        now = _parse(paths[-1])
        ref_path, ref = paths[-2], _parse(paths[-2])
    else:
        with open(sys.argv[1]) as f:
            now = json.load(f).get("queries", {})
        ref_path, ref = latest_recorded()
    notes = waived()
    bad = []
    print(f"reference: {ref_path} ({len(ref)} queries); threshold +{thr:.0%}")
    for q, old in sorted(ref.items()):
        new = now.get(q)
        if new is None or old <= 0:
            continue
        delta = new / old - 1.0
        if delta > thr:
            if q in notes:
                print(f"WAIVED  {q}: {old:.2f}s -> {new:.2f}s (+{delta:.0%}) — {notes[q]}")
            else:
                print(f"REGRESS {q}: {old:.2f}s -> {new:.2f}s (+{delta:.0%})")
                bad.append(q)
    if bad:
        print(f"\n{len(bad)} unexplained regression(s): {', '.join(bad)}")
        print("Fix, or explain in BENCH_NOTES.md (- name: reason).")
        return 1
    print("no unexplained regressions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
