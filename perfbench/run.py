"""Benchmark of the finmlkit_spark batch pipelines on this host.

    python3 perfbench/run.py --workload tick_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):

- ``tick_pipeline``: seeded single-symbol trade stream -> clean trades
  -> side -> 1-min bars -> footprint + flagship features -> EW
  volatility -> CUSUM events -> triple-barrier labels -> sample
  weights -> parquet;
- ``near_dup_curation``: seeded corpus with planted duplicates ->
  quality filter -> exact dedup -> MinHash-LSH near-dup clusters ->
  hash split -> parquet.

Inputs are generated from ``--seed`` before set-up. Set-up (imports,
session start and one warm-up run) is timed as ``setup_s``. Then whole
batch runs repeat until ``--seconds`` of run time is spent, or until one
more run would end past ``DEADLINE_S``, and the median run is reported
(one run of either workload at ``--seconds 5``: set-up, chiefly the cold
first run, takes most of an invocation). A timed run calls the library as a caller would, in one lazy
plan. Every run's output is checked after its clock stops, in a child
process (``verify.py``). ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs one untraced and one traced batch (the same calls
split per layer, each behind a lineage cut) and prints the per-layer
metrics. The last stdout line is one JSON object; spans, per-run
detail and host facts go to ``.perfbench/<workload>-<seed>.json``.
All files (inputs, Spark scratch, outputs) stay under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"
DEADLINE_S = 120.0  # no timed run is started that would end later than this

WORKLOADS = ("tick_pipeline", "near_dup_curation")


def _env() -> None:
    """Session settings sized for this host: every core, a driver heap
    that fits beside other tenants, and all scratch inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self._tree_rss())

    def start(self):
        self._t.start()

    def reset(self):
        self.peak = self._tree_rss()

    def stop(self):
        self._stop.set()
        self._t.join(timeout=5)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def _generate(workload: str, seed: int, input_dir: str) -> tuple[dict, str]:
    """Write the input; return its properties and what the output check
    reads: the input itself, or the corpus's ground-truth file."""
    import gen

    if workload == "tick_pipeline":
        return gen.tick_stream(seed, input_dir), input_dir
    props, truth = gen.corpus(seed, input_dir)
    path = f"{input_dir}.truth.json"
    with open(path, "w") as fh:
        json.dump(truth, fh)
    return props, path


class Job:
    """One workload's batch job and its output check."""

    def __init__(self, spark, workload: str, input_dir: str, check_src: str):
        import workloads as WL

        self.spark = spark
        self.workload = workload
        tick = workload == "tick_pipeline"
        self.plain = WL.TICK_LAYERS if tick else WL.CURATION_JOB
        self.layers = WL.TICK_LAYERS if tick else WL.CURATION_LAYERS
        self.input_dir = input_dir
        self.output = os.path.join(WORK, f"out-{workload}")
        self.check_src = check_src
        self.recall = None

    def run(self, on_layer=None) -> float:
        """One batch run from released caches; returns its wall seconds.
        With ``on_layer`` (the tracer) the job runs split per layer."""
        from finmlkit_spark import cache
        from workloads import run_layers

        cache.release_all()
        st = {"spark": self.spark, "input": self.input_dir, "output": self.output}
        traced = on_layer is not None
        t0 = time.perf_counter()
        run_layers(self.layers if traced else self.plain, st, cut_every=traced,
                   on_layer=on_layer)
        wall = time.perf_counter() - t0
        self.last_state = st
        return wall

    def check(self) -> list[str]:
        """Errors in the last run's written output (empty = correct)."""
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "verify.py"), self.workload, self.check_src,
             self.output],
            capture_output=True, text=True, timeout=150,
        )
        try:
            res = json.loads(p.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            return [f"output check exited {p.returncode}: {p.stderr[-300:]}"]
        self.recall = res["recall"]
        return res["errors"]


def _timed_runs(job: Job, seconds: float, rss: RssSampler, log: list,
                deadline: float = float("inf")) -> tuple[list, int]:
    """Batch runs until ``seconds`` of run time is spent, starting none
    after the first that would end past the ``perf_counter`` time
    ``deadline``; each run's peak RSS is taken when it ends, and its
    output is checked after that."""
    walls: list[float] = []
    failed = 0
    while not walls or (
        sum(walls) < seconds  # a failed run (nan) ends it
        and time.perf_counter() + max(walls) < deadline
    ):
        rss.reset()
        ticks = _cpu_ticks()
        try:
            walls.append(job.run())
            peak = rss.peak
            errs = job.check()
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            errs = [f"{type(e).__name__}: {e}"[:300]]
            walls.append(float("nan"))
            peak = rss.peak
        failed += bool(errs)
        steal, total = (b - a for a, b in zip(ticks, _cpu_ticks()))
        log.append({"wall_s": walls[-1], "peak_rss_mb": peak / 2**20, "errors": errs,
                    "loadavg": os.getloadavg()[0], "steal_share": steal / max(total, 1)})
    return walls, failed


def _traced_run(job: Job, tracer) -> float:
    def on_layer(name, thunk):
        frame = tracer.span(name, "run", thunk)
        if frame is not None:
            tracer.span(f"{name}:exec", "run",
                        lambda: frame.write.format("noop").mode("overwrite").save())
        return frame

    return job.run(on_layer=on_layer)


def _extra_ratios(job: Job) -> dict:
    """Useful-to-attempted ratios of the traced run, from the row counts
    of the library's own executed plans (outside the timed region)."""
    from spans import plan_rows

    st = job.last_state
    out = {"labels.tbm.path_rows_per_event": 0.0,
           "dedup.minhash_lsh.verified_per_candidate": 0.0}
    if job.workload == "tick_pipeline":
        # path rows: the triple-barrier range join's output
        path = plan_rows(st["labels.raw"], lambda n: "Join" in n["name"], max)
        out["labels.tbm.path_rows_per_event"] = path / max(st["labels"].count(), 1)
    else:
        # candidates: the pair distinct after the band join, i.e. the
        # pairs that reach the exact-Jaccard verify
        cand = plan_rows(st["dedup.minhash_lsh.raw"], _is_pair_distinct, min)
        out["dedup.minhash_lsh.verified_per_candidate"] = (
            st["dedup.minhash_lsh"].count() / cand if cand else 0.0)
    return out


def _is_pair_distinct(node: dict) -> bool:
    d = node["desc"].replace(" ", "")
    return (node["name"] == "HashAggregate" and "functions=[]" in d
            and d.startswith("HashAggregate(keys=[doc_a#") and ",doc_b#" in d)


def end_to_end_metrics(setup_s: float, walls: list, rows: int, peaks_mb: list) -> dict:
    """name -> (value, unit) of the untraced run's metrics."""
    wall = statistics.median(walls)
    return {
        "wall_s": (wall, "s"),
        "rows_per_s": (rows / wall, "rows/s"),
        "peak_rss_mb": (statistics.median(peaks_mb), "MB"),
        "setup_s": (setup_s, "s"),
    }


def per_layer_metrics(spans: list, ratios: dict, recall: float, start_s: float,
                      warmup_s: float, overhead_s: float) -> dict:
    """name -> (value, unit) of the traced run's metrics. Every layer of
    every workload is reported; a layer the workload lacks reads 0."""
    import workloads as WL
    from spans import LAYER_KEYS, LAYER_UNITS, layer_metrics

    out = {}
    for layer in dict.fromkeys(n for n, _ in WL.TICK_LAYERS + WL.CURATION_LAYERS):
        vals = layer_metrics(spans, layer)
        for k in LAYER_KEYS:
            out[f"{layer}.{k}"] = (vals[k], LAYER_UNITS[k])
    for k, v in ratios.items():
        out[k] = (v, "ratio")
    out["dedup.dup_recall"] = (recall, "ratio")
    out["session.start_s"] = (start_s, "s")
    out["session.warmup_s"] = (warmup_s, "s")
    out["trace.overhead_s"] = (overhead_s, "s")
    return out


def _host(spark) -> dict:
    import pyspark

    head = os.path.join(ROOT, ".git", "HEAD")
    commit = "unknown"
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        path = os.path.join(ROOT, ".git", ref[5:]) if ref.startswith("ref: ") else None
        if path and os.path.exists(path):
            with open(path) as fh:
                commit = fh.read().strip()
        elif not path:
            commit = ref
    sc = spark.sparkContext
    return {"nproc": len(os.sched_getaffinity(0)), "default_parallelism": sc.defaultParallelism,
            "master": sc.master, "driver_memory": sc.getConf().get("spark.driver.memory"),
            "pyspark": pyspark.__version__, "commit": commit, "loadavg": os.getloadavg()}


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.perf_counter() + DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "finmlkit_spark")):
        print(f"no finmlkit_spark package in {ROOT}: run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    _env()
    input_dir = os.path.join(WORK, f"in-{a.workload}-{a.seed}")
    t = time.perf_counter()
    props, check_src = _generate(a.workload, a.seed, input_dir)
    gen_s = time.perf_counter() - t

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from finmlkit_spark import cache  # noqa: F401 - imports are part of set-up
        from finmlkit_spark.session import get_spark

        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t0
        job = Job(spark, a.workload, input_dir, check_src)
        warmup_s = job.run()  # codegen, Python workers, JIT
        setup_s = time.perf_counter() - t0
        warm_errs = job.check()
        log: list = [{"warmup_s": warmup_s, "errors": warm_errs}]
        if a.trace:
            from spans import Tracer

            untraced, failed = _timed_runs(job, 0.0, rss, log)
            tracer = Tracer(spark)
            traced = _traced_run(job, tracer)
            errs = job.check()
            failed += bool(errs)
            log.append({"traced_wall_s": traced, "errors": errs})
            attempted = len(untraced) + 1
            metrics = per_layer_metrics(
                tracer.spans, _extra_ratios(job), job.recall or 0.0,
                start_s, warmup_s, traced - untraced[0])
            side = {"spans": tracer.spans}
        else:
            walls, failed = _timed_runs(job, a.seconds, rss, log, deadline)
            attempted = len(walls)
            ok = [(w, r["peak_rss_mb"]) for w, r in zip(walls, log[1:]) if w == w]
            if not ok:
                raise RuntimeError(f"every timed run failed: {log[1:]}")
            metrics = end_to_end_metrics(setup_s, [w for w, _ in ok], props["rows"],
                                         [p for _, p in ok])
            side = {}
        # the warm-up run's output is checked too
        attempted += 1
        failed += bool(warm_errs)
        side.update({"workload": a.workload, "seed": a.seed, "input": props,
                     "gen_s": gen_s, "runs": log, "host": _host(spark)})
        with open(os.path.join(WORK, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(side, fh, indent=1, default=str)
    finally:
        rss.stop()
        if spark is not None:
            _stop(spark)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
