"""Outside-in tracing: spans around the library's public calls, with
Spark stage metrics read from the application status store.

A span tags every Spark job it starts with its own job group, so the
jobs (and through them the stages and tasks) a call caused are known
exactly. Stage metrics come from
``sc._jsc.sc().statusStore().lastStageAttempt(id)`` — ``stageList`` is
not callable through py4j. Spans stay in memory; the caller writes them
out when the run ends.
"""

from __future__ import annotations

import statistics
import time

STAGE_FIELDS = ("numTasks", "executorRunTime", "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "inputBytes")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[dict] = []
        self._seq = 0

    def span(self, name: str, parent: str | None, fn):
        """Run ``fn()`` as span ``name``; return its result."""
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            out = fn()
        finally:
            t1 = time.time()
            self.sc.setJobGroup("perfbench-idle", "idle")
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        self.spans.append(
            {"name": name, "parent": parent, "start": t0, "end": t1,
             "jobs": jobs, "stages": self._stages(jobs)}
        )
        return out

    def _stages(self, jobs: list[int]) -> list[dict]:
        st = self.sc.statusTracker()
        out = []
        seen = set()
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._stage(sid)
                if s is not None:
                    out.append(s)
        return out

    def _stage(self, sid: int) -> dict | None:
        try:
            sd = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage skipped (shuffle reuse) has no attempt
            return None
        if str(sd.status()) != "COMPLETE":
            return None
        rec = {"id": sid, **{f: int(getattr(sd, f)()) for f in STAGE_FIELDS}}
        rec["task_ms"] = self._task_times(sid, sd.attemptId(), rec["numTasks"])
        return rec

    def _task_times(self, sid: int, attempt: int, n: int) -> list[int]:
        tasks = self.store.taskList(sid, attempt, max(n, 1))
        it = tasks.iterator()
        out = []
        while it.hasNext():
            t = it.next()
            m = t.taskMetrics()
            if m.isDefined():
                out.append(int(m.get().executorRunTime()))
        return out


def layer_metrics(spans: list[dict], layer: str) -> dict:
    """The seven per-layer metrics from the build span ``<layer>`` and the
    execution span ``<layer>:exec`` (the noop sink of its frame).
    ``task_skew`` is max/median task time within each stage of more
    than one task, the largest over the layer's stages."""
    b = next((s for s in spans if s["name"] == layer), None)
    e = next((s for s in spans if s["name"] == f"{layer}:exec"), None)
    if b is None:
        return {k: 0.0 for k in LAYER_KEYS}
    both = [b] + ([e] if e else [])
    stages = [st for s in both for st in s["stages"]]
    self_s = sum(s["end"] - s["start"] for s in both)
    run_ms = sum(st["executorRunTime"] for st in stages)
    skews = [max(t) / statistics.median(t) for t in (st["task_ms"] for st in stages)
             if len(t) > 1 and statistics.median(t) > 0]
    return {
        "build_s": b["end"] - b["start"],
        "build_jobs": len(b["jobs"]),
        "self_s": self_s,
        "busy_cores": run_ms / 1000.0 / self_s if self_s > 0 else 0.0,
        "shuffle_bytes": sum(st["shuffleWriteBytes"] for st in stages),
        "spill_bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages),
        "task_skew": max(skews, default=1.0 if stages else 0.0),
    }


LAYER_KEYS = ("build_s", "build_jobs", "self_s", "busy_cores",
              "shuffle_bytes", "spill_bytes", "task_skew")
LAYER_UNITS = {"build_s": "s", "build_jobs": "count", "self_s": "s", "busy_cores": "cores",
               "shuffle_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio"}


def plan_nodes(df) -> list[dict]:
    """Every node of ``df``'s executed physical plan (the final adaptive
    plan, query stages unwrapped) with its SQL metric values. Read after
    ``df`` (or a lineage cut of it) has run, they are the row counts the
    library's own operators produced."""
    out = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(p.plan())
            continue
        vals = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
        out.append({"name": name, "desc": p.simpleString(100), "metrics": vals})
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def plan_rows(df, match, pick) -> int:
    """``pick`` (min or max) of the output rows of the plan nodes that
    ``match``; 0 when none matches."""
    rows = [n["metrics"].get("numOutputRows", 0) for n in plan_nodes(df) if match(n)]
    return pick(rows) if rows else 0
