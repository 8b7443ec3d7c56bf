"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``seed``: the same seed writes the
same bytes' worth of rows (pinned by :func:`digest`), a different seed
a different stream. The library only ever sees the written parquet.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000

#: tick stream: exchange-style single-symbol trades (FIXTURES.md §1),
#: one UTC day. Sized so a run is a few Spark jobs per layer, not a
#: data scan; the side and flagship stages are asked for their chunked
#: scale paths explicitly (see workloads.py), as this is below their
#: 1M-row auto crossovers.
TICK = {
    "symbol": "BTCUSDT",
    "base_trades": 85_000,  # trades before split bursts / dup ids
    "mean_gap_ms": 1_000.0,  # exponential inter-arrival
    "tick": 0.01,
    "start_ms": 1_751_328_000_000,  # 2025-07-01T00:00Z
    "split_share": 0.03,  # trades printed as a 2-4 row burst
    "dup_id_share": 0.01,  # rows re-sent with an id already seen
    "id_gap_share": 0.005,  # ids the stream never shows
}

#: corpus with planted duplicates and known quality failures
CORPUS = {
    "docs": 12_000,
    "exact_share": 0.05,  # docs that are an exact copy of another doc
    "hot_share": 0.04,  # docs carrying one boilerplate text
    "near_pairs_share": 0.08,  # docs that are a light edit of another doc
    "bad_lang_share": 0.02,  # non-English docs (fail the lang gate)
    "bad_rep_share": 0.02,  # repetitive docs (fail the repetition gate)
    "tokens": (40, 80),  # token count range of a normal doc
    "edits": 2,  # token substitutions in a near-dup copy
}


def _fresh_dir(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def tick_stream(seed: int, out_dir: str) -> dict:
    """Write the trade stream as one parquet file per UTC day (the shape
    of daily exchange dumps). Returns the input properties."""
    p = TICK
    rng = np.random.default_rng([seed, 1])
    n = p["base_trades"]
    gaps = rng.exponential(p["mean_gap_ms"], n)
    ts_ms = p["start_ms"] + np.floor(np.cumsum(gaps)).astype(np.int64)
    steps = rng.choice(np.array([-1, 0, 1]), n, p=[0.3, 0.4, 0.3])
    level = 10_000 + np.cumsum(steps)  # price in ticks, starts at 100.00
    level = np.maximum(level, 100)
    qty = np.round(rng.lognormal(-1.0, 1.0, n), 3) + 0.001
    # split bursts: one print becomes 2-4 rows at the same (ts, price)
    reps = np.ones(n, dtype=np.int64)
    burst = rng.random(n) < p["split_share"]
    reps[burst] = rng.integers(2, 5, burst.sum())
    ts_ms = np.repeat(ts_ms, reps)
    level = np.repeat(level, reps)
    qty = np.round(np.repeat(qty, reps) / np.repeat(reps, reps), 3) + 0.001
    m = len(ts_ms)
    # ids: increasing with gaps
    inc = np.ones(m, dtype=np.int64)
    inc[rng.random(m) < p["id_gap_share"]] = 2
    ids = 5_000_000_000 + np.cumsum(inc)
    # duplicate ids: a row re-sent right after itself
    dup = rng.random(m) < p["dup_id_share"]
    order = np.repeat(np.arange(m), 1 + dup.astype(np.int64))
    ts_ms, level, qty, ids = ts_ms[order], level[order], qty[order], ids[order]
    ts_ns = ts_ms * 1_000_000
    price = np.round(level * p["tick"], 2)
    day = (ts_ms - p["start_ms"]) // DAY_MS
    _fresh_dir(out_dir)
    bounds = np.searchsorted(day, np.arange(day[-1] + 2))
    for d in range(int(day[-1]) + 1):
        lo, hi = bounds[d], bounds[d + 1]
        if lo == hi:
            continue
        tbl = pa.table(
            {
                "ts_ns": pa.array(ts_ns[lo:hi], pa.int64()),
                "trade_id": pa.array(ids[lo:hi], pa.int64()),
                "price": pa.array(price[lo:hi], pa.float64()),
                "qty": pa.array(qty[lo:hi], pa.float64()),
                "symbol": pa.array([p["symbol"]] * (hi - lo), pa.string()),
            }
        )
        pq.write_table(tbl, os.path.join(out_dir, f"day={d:03d}.parquet"))
    return {
        "rows": int(len(ts_ns)),
        "days": int(day[-1]) + 1,
        "dup_id_rows": int(dup.sum()),
        "split_rows": int((reps[reps > 1]).sum()),
    }


_LETTERS = np.array(list("bcdfghjklmnpqrstvwxz"))
_VOWELS = np.array(list("aeiouy"))
EN_STOP = ["the", "a", "of", "and", "to"]
ES_STOP = ["el", "la", "de", "que", "los"]


def _vocab(rng, size: int) -> np.ndarray:
    """Pseudo-words (consonant-vowel syllables) that are no language's
    stopword, so the lang gate sees only the stopwords planted."""
    stop = {"el", "la", "de", "que", "los", "der", "die", "das", "und", "ist",
            "le", "les", "et", "une", "est", "the", "a", "of", "and", "to"}
    m = size * 2
    syl = np.char.add(rng.choice(_LETTERS, (m, 3)), rng.choice(_VOWELS, (m, 3)))
    words = np.char.add(np.char.add(syl[:, 0], syl[:, 1]),
                        np.where(rng.random(m) < 0.5, syl[:, 2], ""))
    uniq = sorted(set(words.tolist()) - stop)
    return np.array(uniq[:size])


def _sentences(rng, vocab, lengths, stop: list[str]) -> list[list[str]]:
    """Token lists of the given lengths; a stopword every 6th token."""
    total = int(np.sum(lengths))
    toks = vocab[rng.integers(0, len(vocab), total)].astype(object)
    pos = np.concatenate([np.arange(n) for n in lengths])
    sw = pos % 6 == 0
    toks[sw] = np.array(stop, dtype=object)[rng.integers(0, len(stop), int(sw.sum()))]
    ends = np.cumsum(lengths)
    return [list(toks[e - n:e]) for n, e in zip(lengths, ends)]


def corpus(seed: int, out_dir: str) -> tuple[dict, dict]:
    """Write the document corpus; return (properties, ground truth).

    Ground truth: ``bad`` (ids failing the quality gate), ``exact``
    (groups of ids sharing one text), ``pairs`` ((original, edit) ids of
    planted near-duplicates). Doc ids are a random permutation, so a
    planted copy is as likely to sort before its original as after."""
    c = CORPUS
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 6000)
    n = c["docs"]
    n_hot = int(n * c["hot_share"])
    n_exact = int(n * c["exact_share"])
    n_near = int(n * c["near_pairs_share"])
    n_lang = int(n * c["bad_lang_share"])
    n_rep = int(n * c["bad_rep_share"])
    n_base = n - n_hot - n_exact - n_near - n_lang - n_rep
    lo, hi = c["tokens"]
    texts: list[str] = []
    kinds: list[str] = []
    src: list[int] = []  # index of the doc a copy was made from, else -1
    for toks in _sentences(rng, vocab, rng.integers(lo, hi, n_base), EN_STOP):
        texts.append(" ".join(toks))
        kinds.append("base")
        src.append(-1)
    hot = " ".join(_sentences(rng, vocab, [30], EN_STOP)[0])
    for _ in range(n_hot):
        texts.append(hot)
        kinds.append("hot")
        src.append(-1)
    # copies come from distinct base docs, so planted groups never overlap
    origins = rng.choice(n_base, n_exact + n_near, replace=False)
    for o in origins[:n_exact]:
        texts.append(texts[o])
        kinds.append("exact")
        src.append(int(o))
    for o in origins[n_exact:]:
        toks = texts[o].split(" ")
        content = [j for j in range(len(toks)) if j % 6]  # not a stopword slot
        for j in rng.choice(content, c["edits"], replace=False):
            toks[j] = str(vocab[rng.integers(len(vocab))])
        texts.append(" ".join(toks))
        kinds.append("near")
        src.append(int(o))
    for toks in _sentences(rng, vocab, rng.integers(lo, hi, n_lang), ES_STOP):
        texts.append(" ".join(toks))
        kinds.append("bad")
        src.append(-1)
    for _ in range(n_rep):
        w = list(rng.choice(vocab, 3))
        texts.append(" ".join((["the"] + w) * int(rng.integers(12, 20))))
        kinds.append("bad")
        src.append(-1)
    ids = rng.permutation(n).astype(np.int64) + 1
    _fresh_dir(out_dir)
    tbl = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array([f"src{int(i) % 4}" for i in ids], pa.string()),
        }
    )
    # several files, so the scan is split across cores
    step = -(-n // 8)
    for k in range(0, n, step):
        pq.write_table(tbl.slice(k, step), os.path.join(out_dir, f"part-{k // step:02d}.parquet"))
    exact_groups = [[int(ids[np.flatnonzero(np.array(kinds) == "hot")][i])
                     for i in range(n_hot)]]
    for i, (k, s) in enumerate(zip(kinds, src)):
        if k == "exact":
            exact_groups.append([int(ids[s]), int(ids[i])])
    truth = {
        "bad": [int(ids[i]) for i, k in enumerate(kinds) if k == "bad"],
        "exact": exact_groups,
        "pairs": [(int(ids[s]), int(ids[i])) for i, (k, s) in enumerate(zip(kinds, src)) if k == "near"],
        "text": {int(ids[i]): t for i, t in enumerate(texts)},
    }
    props = {
        "rows": n,
        "unique_docs": n_base,
        "exact_dup_docs": n_exact,
        "hot_docs": n_hot,
        "near_dup_pairs": n_near,
        "low_quality_docs": n_lang + n_rep,
    }
    return props, truth


def digest(path: str) -> str:
    """sha256 over every parquet file's row content under ``path``, in
    file-name order — the identity of a generated input."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        tbl = pq.read_table(os.path.join(path, name))
        h.update(name.encode())
        for col in tbl.columns:
            arr = col.combine_chunks()
            if pa.types.is_string(arr.type):
                h.update("\x00".join(arr.to_pylist()).encode())
            else:
                h.update(arr.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()
