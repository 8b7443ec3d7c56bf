"""Declarative curation-pipeline API for the training-data tier — the
LLM-side analog of ``plans.api.FeatureKit`` (reference kit pattern,
``finmlkit/feature/kit.py:724-1085``, re-applied to corpus curation).

A :class:`CurationKit` is an ordered list of :class:`Stage` configs;
``run(docs)`` folds them into ONE lazy DataFrame plan — Catalyst sees
the whole chain (filters push into the scan, projections prune), so the
declarative form costs nothing over hand-written code. The plan is cut
only inside a stage that reads its input more than once. Stages carry
their params and round-trip through JSON (``to_config``/``from_config``)
so a curation recipe is a versionable artifact, like a feature config.

Every stage wraps an operator that is individually oracle-verified in
the suite; the kit itself adds composition, not computation.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache

from ..operators import corpus as CP
from ..operators import dedup as D
from ..operators import sampling as SMP
from ..operators import text as TX

_STAGES: dict[str, type] = {}


def register_stage(cls):
    _STAGES[cls.kind] = cls
    return cls


class Stage:
    """One curation step: ``apply(docs) -> docs`` (same schema contract:
    a documents frame keyed by ``doc_id`` with a ``text`` column)."""

    kind: str = "stage"

    def __init__(self, **params: Any):
        self.params = params

    def apply(self, docs: DataFrame) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def to_config(self) -> dict[str, Any]:
        return {"kind": self.kind, "params": self.params}


def stage_from_config(cfg: dict[str, Any]) -> Stage:
    return _STAGES[cfg["kind"]](**cfg.get("params", {}))


@register_stage
class QualityFilter(Stage):
    """Gopher-style gate: quality score, language, repetition ratio
    (pure projections — scale-free). The three signals read one bound
    token array, so each doc is split once."""

    kind = "quality_filter"

    def __init__(self, min_quality: float = 0.5, lang: str | None = "en", max_rep3: float = 0.5):
        super().__init__(min_quality=min_quality, lang=lang, max_rep3=max_rep3)

    def apply(self, docs: DataFrame) -> DataFrame:
        p = self.params

        def keep(t):
            def rules(en_hits):
                return (TX._quality_of(t, en_hits) >= p["min_quality"]) & (
                    TX._repetition_of(t, 3) < p["max_rep3"]
                )

            if not p["lang"]:
                return rules(TX._hits_of(t, TX.STOPWORDS))
            return TX.let_bind(
                TX._lang_hits_of(t),
                lambda h: rules(h[0]) & (TX._lang_guess_of(h) == p["lang"]),
            )

        return docs.where(TX.let_bind(TX.tokens(), keep))


@register_stage
class GopherFilter(Stage):
    """Gopher rule set (``corpus.gopher_signals``, Rae et al. 2021):
    keep only docs passing every heuristic."""

    kind = "gopher_filter"

    def apply(self, docs: DataFrame) -> DataFrame:
        keep = CP.gopher_signals(docs).where("keep").select("doc_id")
        return docs.join(keep, "doc_id")


@register_stage
class GopherRepetitionFilter(Stage):
    """Gopher repetition rule set (``corpus.gopher_repetition``, Rae et
    al. 2021 Table A1 — top/duplicated n-gram character shares): keep
    only docs passing every repetition bound."""

    kind = "gopher_repetition"

    def apply(self, docs: DataFrame) -> DataFrame:
        keep = CP.gopher_repetition(docs).where("keep").select("doc_id")
        return docs.join(keep, "doc_id")


@register_stage
class C4Filter(Stage):
    """C4 rule set (``corpus.c4_filter_signals``): keep only docs
    passing every heuristic."""

    kind = "c4_filter"

    def apply(self, docs: DataFrame) -> DataFrame:
        # direct filter, not keep-set + join-back: the predicate is a
        # pure per-row expression, so the old data-scale self-join
        # (SMJ at 100 TB) bought nothing — identical keep decisions
        # (both forms build from corpus._c4_signal_exprs)
        return docs.where(CP.c4_keep_expr())


@register_stage
class ExactDedup(Stage):
    """Keep the lowest doc_id per exact content hash."""

    kind = "exact_dedup"

    def apply(self, docs: DataFrame) -> DataFrame:
        # window form: the keep decision (doc_id == min(doc_id) per
        # md5(text)) costs ONE exchange of the doc rows, by the digest;
        # a keep-set join-back would add a second full-payload exchange
        # by doc_id. One digest's rows land in one window task (no
        # skew split).
        from pyspark.sql import Window

        w = Window.partitionBy(F.md5(F.col("text")))
        return (
            docs.withColumn("_keep_min", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("_keep_min"))
            .drop("_keep_min")
        )


@register_stage
class NearDupDedup(Stage):
    """MinHash-LSH pairs -> connected components -> one canonical doc
    per cluster (transitive dups collapse)."""

    kind = "near_dup_dedup"

    def __init__(self, threshold: float = 0.6):
        super().__init__(threshold=threshold)

    def apply(self, docs: DataFrame) -> DataFrame:
        docs = cache.cut(docs)  # read by the signature and keep passes
        pairs = D.minhash_lsh_pairs(docs, threshold=self.params["threshold"])
        return D.keep_canonical(docs, pairs)


@register_stage
class Decontaminate(Stage):
    """Drop docs sharing >= min_shared trigram shingles with the
    benchmark slice (marked by ``bench_filter``, a SQL boolean expr
    evaluated against the incoming frame)."""

    kind = "decontaminate"

    def __init__(self, bench_filter: str = "doc_id % 97 = 0", min_shared: int = 1):
        super().__init__(bench_filter=bench_filter, min_shared=min_shared)

    def apply(self, docs: DataFrame) -> DataFrame:
        docs = cache.cut(docs)  # read by both slices and the anti-join
        bench = docs.where(F.expr(self.params["bench_filter"]))
        train = docs.where(~F.expr(self.params["bench_filter"]))
        hits = D.decontaminate(train, bench, min_shared=self.params["min_shared"])
        return train.join(hits.select("doc_id"), "doc_id", "left_anti")


@register_stage
class HashSplit(Stage):
    """Deterministic content-hash split; keep one side (dup texts land
    on the same side by construction)."""

    kind = "hash_split"

    def __init__(self, test_permille: int = 100, side: str = "train"):
        super().__init__(test_permille=test_permille, side=side)

    def apply(self, docs: DataFrame) -> DataFrame:
        s = SMP.hash_split(docs, test_permille=self.params["test_permille"])
        return s.where(F.col("split") == self.params["side"]).drop("split")


@register_stage
class MixtureSample(Stage):
    """Domain-mixture rebalancing toward target per-source weights
    (``sampling.mixture_sample``; weights are unnormalized shares)."""

    kind = "mixture_sample"

    def __init__(self, weights: dict[str, float] | None = None, default_weight: float = 1.0, group_col: str = "source"):
        super().__init__(
            weights=weights or {}, default_weight=default_weight, group_col=group_col
        )

    def apply(self, docs: DataFrame) -> DataFrame:
        p = self.params
        tw = F.lit(float(p["default_weight"]))
        for k, v in sorted(p["weights"].items()):
            tw = F.when(F.col(p["group_col"]) == k, F.lit(float(v))).otherwise(tw)
        return SMP.mixture_sample(docs, tw, group_col=p["group_col"])


class CurationKit:
    """Ordered stage list -> one lazy curated-corpus plan.

    A stage that reads its input more than once cuts it itself
    (``cache.cut`` on its first line), so the upstream chain runs once
    per kit run however the stages branch, and a kit needs no
    boundary list. ``cut``, not ``keep``: the checkpoint's block write
    of the doc rows costs less than the columnar persist. The cut
    trades fault recovery for that: its blocks are not recomputable if
    an executor is lost (see ``cache.cut``).
    """

    def __init__(self, stages: list[Stage]):
        self.stages = list(stages)

    def run(self, docs: DataFrame) -> DataFrame:
        out = docs
        for s in self.stages:
            out = s.apply(out)
        return out

    def report(self, docs: DataFrame) -> dict[str, int]:
        """Per-stage surviving-row counts. Diagnostic only — each stage
        boundary is an action; ``run`` stays one plan."""
        out = docs
        rep: dict[str, int] = {"input": docs.count()}
        for s in self.stages:
            out = s.apply(out)
            rep[s.kind] = out.count()
        return rep

    # -- serialization ------------------------------------------------------
    def to_config(self) -> dict[str, Any]:
        return {"stages": [s.to_config() for s in self.stages]}

    @classmethod
    def from_config(cls, cfg: dict[str, Any]) -> "CurationKit":
        """Other top-level keys (an old ``persist_after`` list) are
        ignored: the stages cut their own inputs."""
        return cls([stage_from_config(c) for c in cfg["stages"]])

    def save_config(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            json.dump(self.to_config(), fh, indent=2)

    @classmethod
    def load_config(cls, path: str) -> "CurationKit":
        import json

        with open(path) as fh:
            return cls.from_config(json.load(fh))
