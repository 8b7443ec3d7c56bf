"""Streaming LLM-data curation (beyond-reference; SURVEY.md §2.10 tier).

The batch curation operators (``operators/text.py``, ``operators/
dedup.py``) are pure column projections plus a digest groupBy, so the
streaming forms reuse the SAME column expressions — one definition,
two execution modes. The only genuinely stateful piece is dedup:

- ``streaming_exact_dedup`` uses ``dropDuplicatesWithinWatermark`` on
  the content digest, so dedup state is bounded by the event-time
  watermark instead of growing forever — the only formulation that
  survives an unbounded 100 TB/day ingest. Docs whose duplicate
  arrives after the watermark expires are re-admitted (bounded-state
  tradeoff, same contract as any watermarked streaming dedup).

At scale the digest state lives in the state store partitioned by
``content_md5`` hash — no global structure, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators import text as TX


def with_curation_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The shared projection set: identical expressions serve the batch
    table and the stream (Catalyst doesn't care which). The three token
    signals are fields of one struct over one bound token array, read
    apart by a second projection, so each doc is split once."""

    def tok(t: Column) -> Column:
        return TX.let_bind(
            TX._lang_hits_of(t),
            lambda h: F.struct(
                F.size(t).cast("long").alias("n_tokens"),
                TX._quality_of(t, h[0]).alias("quality"),
                TX._lang_guess_of(h).alias("lang"),
            ),
        )

    out = df.withColumns(
        {
            "content_md5": F.md5(F.col(text_col)),
            "n_chars": TX.char_count(text_col),
            "_tok": TX.let_bind(TX.tokens(text_col), tok),
        }
    )
    return out.withColumns(
        {c: F.col(f"_tok.{c}") for c in ("n_tokens", "quality", "lang")}
    ).drop("_tok")


def streaming_quality_filter(
    stream: DataFrame,
    text_col: str = "text",
    min_chars: int = 20,
    min_quality: float = 0.3,
) -> DataFrame:
    """Stateless curation stage: annotate + filter. Pure projections —
    runs per-microbatch with zero state."""
    ann = with_curation_columns(stream, text_col)
    return ann.filter(
        (F.col("n_chars") >= min_chars) & (F.col("quality") >= min_quality)
    )


def streaming_exact_dedup(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Watermark-bounded exact dedup on the content digest: first
    arrival within the watermark horizon wins; subsequent copies drop.
    State per key is evicted once the watermark passes its event time.
    """
    ann = stream.withColumn("content_md5", F.md5(F.col(text_col)))
    return ann.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_md5"]
    )


def streaming_curation_pipeline(
    stream: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "1 hour",
    min_chars: int = 20,
    min_quality: float = 0.3,
) -> DataFrame:
    """ingest -> quality filter -> watermarked exact dedup: the
    streaming form of the batch curation pipeline (filter first so the
    dedup state store only ever holds keep-worthy docs)."""
    kept = streaming_quality_filter(stream, text_col, min_chars, min_quality)
    return streaming_exact_dedup(kept, ts_col, watermark, text_col)


def streaming_normalized_dedup(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Watermark-bounded dedup on the NORMALIZED content digest
    (``text.normalize_text`` — lowercase, punct→space, collapsed
    whitespace): the streaming form of ``dedup.normalized_dedup``,
    catching case/punct/whitespace variants the raw digest misses.
    Same bounded-state contract as ``streaming_exact_dedup``; the
    digest state lives in the state store hashed by ``norm_md5``."""
    from ..operators.text import normalize_text

    ann = stream.withColumn("norm_md5", F.md5(normalize_text(text_col)))
    return ann.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["norm_md5"]
    )


NEAR_DUP_OUT_SCHEMA = "doc_a long, doc_b long, hamming long"
NEAR_DUP_STATE_SCHEMA = "docs array<long>, fps array<long>"


def streaming_simhash_pairs(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int = 4096,
) -> DataFrame:
    """Streaming SimHash near-dup pair detection — the near-identical
    counterpart of ``streaming_exact_dedup``, completing the dedup
    family's batch/streaming symmetry (exact, normalized, near-dup).

    Stateless stage (shared with the batch operator, one definition two
    modes): shingle-hash → SimHash fingerprint → pigeonhole band keys,
    exactly ``operators.dedup.simhash_near_pairs``'s projection. The
    stateful stage groups by (band, segment-value) bucket; state per
    bucket is two parallel long arrays (doc ids, fingerprints), capped
    at ``bucket_cap`` EARLIEST arrivals — canonical-first semantics: a
    late near-duplicate of a retained doc is always caught, while docs
    past the cap are compared-but-not-retained (documented recall
    bound; buckets this hot are near-dup pathologies by construction).
    Every incoming doc is verified by exact ``popcount(xor)`` against
    the retained bucket members and emits ``(doc_a, doc_b, hamming)``
    rows with ``doc_a < doc_b`` for hits within ``max_hamming``.

    A pair agreeing on several band segments emits once per agreeing
    band (the batch form's candidate ``.distinct()`` has no streaming
    analog inside one state bucket) — consumers dedup with a trivial
    ``dropDuplicates``; rows are identical so the collapse is exact.
    State is bounded by ``bands · 2^(bits/bands)`` buckets ×
    ``bucket_cap`` entries regardless of stream length. Ids must be
    integral (same contract as the batch graph consumers)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import shingle_hashes, simhash

    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must be divisible by bands ({bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming ({max_hamming}) < bands ({bands})"
        )
    seg = bits // bands
    mask = (1 << seg) - 1
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("fp", b * seg).bitwiseAND(F.lit(mask)).alias("segv"),
            )
            for b in range(bands)
        ]
    )
    proj = (
        stream.select(
            F.col(id_col).cast("long").alias("doc"),
            simhash(shingle_hashes(text_col), bits).alias("fp"),
        )
        .select("doc", "fp", F.explode(keys).alias("k"))
        .select(
            "doc", "fp", F.col("k.band").alias("band"), F.col("k.segv").alias("segv")
        )
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            docs, fps = list(state.get[0]), list(state.get[1])
        else:
            docs, fps = [], []
        out_a, out_b, out_h = [], [], []
        for pdf in pdfs:
            order = np.argsort(pdf["doc"].to_numpy(), kind="stable")
            for i in order:
                d = int(pdf["doc"].iloc[i])
                f = int(pdf["fp"].iloc[i])
                for dj, fj in zip(docs, fps):
                    if dj == d:
                        continue
                    h = bin((fj ^ f) & ((1 << bits) - 1)).count("1")
                    if h <= max_hamming:
                        a, b = (dj, d) if dj < d else (d, dj)
                        out_a.append(a)
                        out_b.append(b)
                        out_h.append(h)
                if len(docs) < bucket_cap and d not in docs:
                    docs.append(d)
                    fps.append(f)
        state.update((docs, fps))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "hamming": out_h})

    return proj.groupBy("band", "segv").applyInPandasWithState(
        fn,
        outputStructType=NEAR_DUP_OUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
