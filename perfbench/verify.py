"""Output checks, run outside the timed region, in a process of their
own so that their memory is not counted as the program's:

    python3 perfbench/verify.py tick_pipeline INPUT_DIR OUTPUT_DIR
    python3 perfbench/verify.py near_dup_curation TRUTH_JSON OUTPUT_DIR

prints ``{"errors": [...], "recall": r}`` as its last line.

tick_pipeline: bars, CUSUM events, triple-barrier labels and sample
weights of the written table against a DuckDB/NumPy reference computed
from the same generated parquet. near_dup_curation: the kept document
set against the planted ground truth, plus ``dup_recall``.

Each check returns a list of error strings (empty = correct).
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

from workloads import CUSUM_MULT, EWMS_SPAN, HORIZON_NS, MIN_NS, TARGET_MULT

RTOL = 1e-9


class TickReference:
    """Reference bars and events for one generated trade stream."""

    def __init__(self, con, input_dir: str):
        self.con = con
        con.execute(f"""
CREATE OR REPLACE TEMP TABLE ref_trades AS
WITH raw AS (SELECT * FROM read_parquet('{input_dir}/*.parquet')),
dd AS (SELECT * FROM raw QUALIFY row_number() OVER (PARTITION BY trade_id) = 1)
SELECT symbol, ts_ns, price, min(trade_id) AS trade_id, sum(qty) AS qty
FROM dd GROUP BY symbol, ts_ns, price""")
        self.bars = con.execute(f"""
SELECT (floor(ts_ns / {MIN_NS}) + 1)::BIGINT * {MIN_NS} AS bar_close_ns,
       arg_min(price, trade_id) AS open, max(price) AS high, min(price) AS low,
       arg_max(price, trade_id) AS close, sum(qty) AS volume, count(*) AS trades
FROM ref_trades GROUP BY 1 ORDER BY 1""").df()
        b = self.bars
        ret = np.log(b["close"] / b["close"].shift(1))
        r = pd.DataFrame({"bar_close_ns": b["bar_close_ns"], "ret": ret}).dropna()
        r["sigma"] = r["ret"].ewm(span=EWMS_SPAN, adjust=True).std()
        self.rets = r[r["sigma"] > 0].reset_index(drop=True)

    def events(self) -> tuple[np.ndarray, int | None]:
        """CUSUM event bar keys, and the key of the first bar whose
        trigger decision is within float noise of its threshold (events
        from there on are not compared)."""
        r = self.rets["ret"].to_numpy()
        thr = self.rets["sigma"].to_numpy() * CUSUM_MULT
        keys = self.rets["bar_close_ns"].to_numpy()
        sp = sn = 0.0
        out = []
        for i in range(len(r)):
            sp = max(0.0, sp + r[i])
            sn = min(0.0, sn + r[i])
            if min(abs(sn + thr[i]), abs(sp - thr[i])) < 1e-9 * thr[i]:
                return np.array(out, dtype=np.int64), int(keys[i])
            if sn < -thr[i]:
                out.append(keys[i])
                sn = 0.0
            elif sp > thr[i]:
                out.append(keys[i])
                sp = 0.0
        return np.array(out, dtype=np.int64), None

    def labels(self, ev: pd.DataFrame, scale: float) -> pd.DataFrame:
        """(label, touch_ts_ns) per event; ``ev`` has bar_close_ns,
        close, target. Barrier widths are multiplied by ``scale``."""
        self.con.register("ev_in", ev)
        return self.con.execute(f"""
WITH j AS (
  SELECT e.bar_close_ns, t.ts_ns, ln(t.price / e.close) AS r, e.target * {scale!r} AS tg
  FROM ev_in e JOIN ref_trades t
    ON t.ts_ns > e.bar_close_ns AND t.ts_ns <= e.bar_close_ns + {HORIZON_NS}
),
a AS (
  SELECT bar_close_ns,
         min(CASE WHEN r >= tg THEN ts_ns END) AS up_ts,
         min(CASE WHEN r <= -tg THEN ts_ns END) AS dn_ts,
         max(ts_ns) AS last_ts
  FROM j GROUP BY bar_close_ns
)
SELECT bar_close_ns,
       CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN 1
            WHEN dn_ts IS NOT NULL THEN -1 ELSE 0 END AS label,
       CASE WHEN up_ts IS NOT NULL AND (dn_ts IS NULL OR up_ts <= dn_ts) THEN up_ts
            WHEN dn_ts IS NOT NULL THEN dn_ts ELSE last_ts END AS touch_ts_ns
FROM a""").df()

    def uniqueness(self, spans: pd.DataFrame) -> pd.DataFrame:
        """mean(1/c) over each span's trades; c = spans open at a trade."""
        self.con.register("sp_in", spans)
        return self.con.execute("""
WITH c AS (
  SELECT t.ts_ns, count(*) AS c
  FROM (SELECT DISTINCT ts_ns FROM ref_trades) t JOIN sp_in s
    ON t.ts_ns >= s.bar_close_ns AND t.ts_ns <= s.touch_ts_ns
  GROUP BY t.ts_ns
)
SELECT s.bar_close_ns, avg(1.0 / c.c) AS uniqueness
FROM sp_in s
JOIN ref_trades t ON t.ts_ns >= s.bar_close_ns AND t.ts_ns <= s.touch_ts_ns
JOIN c ON c.ts_ns = t.ts_ns
GROUP BY s.bar_close_ns""").df()


def _close(a, b) -> np.ndarray:
    return np.isclose(np.asarray(a, float), np.asarray(b, float), rtol=RTOL, atol=1e-12)


def check_tick(ref: TickReference, out: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    out = out.sort_values("bar_close_ns").reset_index(drop=True)
    if out["bar_close_ns"].duplicated().any():
        errs.append("duplicate event rows")
    # bars at the event keys
    m = out.merge(ref.bars, on="bar_close_ns", how="left", suffixes=("", "_ref"))
    for c in ("open", "high", "low", "close", "volume"):
        bad = ~_close(m[c], m[f"{c}_ref"])
        if bad.any():
            errs.append(f"bars.{c}: {int(bad.sum())} of {len(m)} rows differ")
    if (m["trades"] != m["trades_ref"]).any():
        errs.append("bars.trades differ")
    # volatility target and CUSUM events
    s = out[["bar_close_ns", "sigma"]].merge(
        ref.rets[["bar_close_ns", "sigma"]], on="bar_close_ns", how="left", suffixes=("", "_ref"))
    bad = ~_close(s["sigma"], s["sigma_ref"])
    if bad.any():
        errs.append(f"sigma: {int(bad.sum())} of {len(s)} rows differ")
    ev, stop = ref.events()
    got = out["bar_close_ns"].to_numpy()
    if stop is not None:
        ev, got = ev[ev < stop], got[got < stop]
    last_ts = int(ref.bars["bar_close_ns"].iloc[-1])
    ev = ev[ev + HORIZON_NS < last_ts]  # events whose barrier window has trades
    got = got[got + HORIZON_NS < last_ts]
    if len(np.setxor1d(ev, got)):
        errs.append(f"events: {len(np.setxor1d(ev, got))} differ of {len(ev)}")
    # labels: accept either side of a float-noise tie on the barrier
    evin = pd.DataFrame({"bar_close_ns": out["bar_close_ns"], "close": out["close"],
                         "target": out["sigma"] * TARGET_MULT})
    o = out.set_index("bar_close_ns")
    lo = ref.labels(evin, 1 - RTOL).set_index("bar_close_ns").reindex(o.index)
    hi = ref.labels(evin, 1 + RTOL).set_index("bar_close_ns").reindex(o.index)
    ok = ((o["label"] == lo["label"]) & (o["touch_ts_ns"] == lo["touch_ts_ns"])) | (
        (o["label"] == hi["label"]) & (o["touch_ts_ns"] == hi["touch_ts_ns"]))
    if (~ok).any():
        errs.append(f"labels: {int((~ok).sum())} of {len(o)} differ")
    # weights from the (checked) spans
    u = ref.uniqueness(out[["bar_close_ns", "touch_ts_ns"]]).set_index("bar_close_ns")
    u = u.reindex(o.index)["uniqueness"]
    if (~_close(o["uniqueness"], u)).any():
        errs.append("uniqueness differs")
    cls = u.groupby(o["label"]).transform("sum")
    bal = u * (u.sum() / (o["label"].nunique() * cls))
    if (~_close(o["balanced_w"], bal)).any():
        errs.append("balanced_w differs")
    dec = np.maximum(0.5 + 0.5 * u.cumsum() / u.sum(), 0.0)
    if (~_close(o["decay_weight"], dec)).any():
        errs.append("decay_weight differs")
    return errs


MOD = 1_000_000_007


def split_is_test(texts: list[str], test_permille: int = 100) -> np.ndarray:
    """``sampling.hash_split``'s side per text (True = test), vectorized
    over documents: polynomial hash, multiplicative mix, top bits."""
    n = len(texts)
    width = max(len(t) for t in texts)
    codes = np.zeros((n, width), dtype=np.int64)
    lens = np.array([len(t) for t in texts])
    for i, t in enumerate(texts):
        codes[i, : len(t)] = np.frombuffer(t.encode("ascii"), dtype=np.uint8)
    acc = np.zeros(n, dtype=np.int64)
    for j in range(width):
        live = lens > j
        acc = np.where(live, (acc * 31 + codes[:, j]) % MOD, acc)
    mixed = (acc * 2654435761) % 4294967296
    return (mixed * 1000 // 4294967296) < test_permille


def check_curation(truth: dict, out_ids) -> tuple[list[str], float]:
    """(errors, dup_recall) for the written document ids."""
    ids = sorted(truth["text"])
    test = dict(zip(ids, split_is_test([truth["text"][i] for i in ids])))
    out = set(int(i) for i in out_ids)
    expect = {i for i in ids if not test[i]}
    expect -= set(truth["bad"])
    for g in truth["exact"]:
        expect -= set(g) - {min(g)}
    pair_max = {max(p) for p in truth["pairs"]}
    errs = []
    missing = expect - pair_max - out
    extra = out - expect
    if missing:
        errs.append(f"{len(missing)} expected docs missing")
    if extra:
        errs.append(f"{len(extra)} docs kept that should be dropped")
    evaluable = [max(p) for p in truth["pairs"] if not test[max(p)]]
    collapsed = sum(1 for d in evaluable if d not in out)
    recall = collapsed / len(evaluable) if evaluable else 0.0
    if recall < 0.75:
        errs.append(f"dup_recall {recall:.3f} below 0.75")
    return errs, recall


def check_output(workload: str, src: str, output: str) -> tuple[list[str], float | None]:
    """(errors, dup_recall) of the table written to ``output``; ``src``
    is the generated input (tick_pipeline) or its truth file."""
    import pyarrow.parquet as pq

    out = pq.read_table(output).to_pandas()
    if workload == "tick_pipeline":
        import duckdb

        if not len(out):
            return ["empty output"], None
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', '.')}'")
        return check_tick(TickReference(con, src), out), None
    with open(src) as fh:
        raw = json.load(fh)
    truth = {**raw, "text": {int(k): v for k, v in raw["text"].items()}}
    return check_curation(truth, out["doc_id"])


def main(argv: list[str]) -> int:
    workload, src, output = argv
    try:
        errs, recall = check_output(workload, src, output)
    except Exception as e:  # noqa: BLE001 - an unreadable output is a wrong output
        errs, recall = [f"{type(e).__name__}: {e}"[:300]], None
    print(json.dumps({"errors": errs, "recall": recall}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
