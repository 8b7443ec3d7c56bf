"""CurationKit: declarative curation pipeline — JSON round-trip,
stage-by-stage semantics vs the underlying operators, one-plan run."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from finmlkit_spark.plans import curation as C


def _docs(spark):
    rows = [
        # good docs (en stopwords, long enough, distinct)
        (0, "the quick brown fox jumps over the lazy dog near a river bank today", "web"),
        (1, "a slow green turtle walks under the warm sun and rests by the pond", "web"),
        (2, "the market data stream of trades and bars flows to the feature store", "code"),
        # exact dup of 0
        (3, "the quick brown fox jumps over the lazy dog near a river bank today", "web"),
        # low quality: too short
        (4, "tiny", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_kit_round_trip_and_run(spark, tmp_path):
    kit = C.CurationKit(
        [
            C.QualityFilter(min_quality=0.5, lang="en", max_rep3=0.9),
            C.ExactDedup(),
            C.HashSplit(test_permille=0, side="train"),
        ]
    )
    p = str(tmp_path / "recipe.json")
    kit.save_config(p)
    kit2 = C.CurationKit.load_config(p)
    assert kit2.to_config() == kit.to_config()
    cfg = json.load(open(p))
    assert [s["kind"] for s in cfg["stages"]] == [
        "quality_filter",
        "exact_dedup",
        "hash_split",
    ]

    out = kit2.run(_docs(spark))
    ids = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # 4 dropped by quality (short), 3 dropped as exact dup of 0
    assert ids == [0, 1, 2]
    # run() is one lazy plan: no action happened before collect, and the
    # output schema is the input schema
    assert out.columns == ["doc_id", "text", "source"]


def test_report_counts_monotone(spark):
    kit = C.CurationKit([C.QualityFilter(), C.ExactDedup()])
    rep = kit.report(_docs(spark))
    assert rep["input"] == 5
    assert rep["input"] >= rep["quality_filter"] >= rep["exact_dedup"]
    assert rep["exact_dedup"] == 3


def test_c4_and_decontaminate_stages(spark):
    docs = _docs(spark)
    c4 = C.C4Filter().apply(docs)
    assert sorted(r["doc_id"] for r in c4.select("doc_id").collect()) == [0, 1, 2, 3]

    # doc_id % 3 == 0 as bench slice: docs 0,3 are bench; doc 1,2 share
    # no trigram with them -> decontaminated set keeps 1,2,4
    dec = C.Decontaminate(bench_filter="doc_id % 3 = 0").apply(docs)
    assert sorted(r["doc_id"] for r in dec.select("doc_id").collect()) == [1, 2, 4]


def test_near_dup_and_mixture_stages(spark):
    docs = _docs(spark)
    nd = C.NearDupDedup(threshold=0.5).apply(docs)
    ids = sorted(r["doc_id"] for r in nd.select("doc_id").collect())
    assert 0 in ids and 3 not in ids  # exact dup collapses to canonical 0

    mix = C.MixtureSample(weights={"web": 1.0, "code": 1.0}).apply(docs)
    # dominant group keeps rate 1.0 -> no group is upsampled, output subset
    assert mix.count() <= docs.count()
    assert set(mix.columns) >= {"doc_id", "text", "source"}


def test_config_round_trip_ignores_persist_after(spark):
    """The stages cut their own inputs, so a kit config is its stage
    list; an old config's ``persist_after`` key loads and is dropped."""
    kit = C.CurationKit([C.ExactDedup(), C.Decontaminate()])
    cfg = kit.to_config()
    assert set(cfg) == {"stages"}
    assert C.CurationKit.from_config(cfg).to_config() == cfg
    kit2 = C.CurationKit.from_config({**cfg, "persist_after": ["exact_dedup"]})
    assert kit2.to_config() == cfg
    assert kit2.run(_docs(spark)).count() > 0


def _counted(spark, docs):
    """``docs`` behind a pass-through Arrow map that adds each batch's
    row count to an accumulator — one tick per upstream row read."""
    from finmlkit_spark.functions import arrow

    acc = spark.sparkContext.accumulator(0)

    def tick(cols):
        acc.add(len(cols["doc_id"]))
        return cols

    return arrow.map_batches(docs, tick, docs.schema), acc


@pytest.mark.parametrize(
    "stage",
    [C.NearDupDedup(threshold=0.5), C.Decontaminate(bench_filter="doc_id % 3 = 0")],
    ids=lambda s: s.kind,
)
def test_branching_stage_reads_upstream_once(spark, stage):
    """A stage that reads its input more than once cuts it: one action
    downstream of it evaluates the upstream rows once, not per branch."""
    docs, acc = _counted(spark, _docs(spark))
    n = stage.apply(docs).count()
    assert n > 0
    assert acc.value == 5


def test_gopher_repetition_stage(spark):
    """The repetition stage drops exactly the docs gopher_repetition
    rejects, composes in a kit, and JSON round-trips."""
    from pyspark.sql import functions as F

    from finmlkit_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),           # top-2gram > 0.2
            (1, "a perfectly ordinary sentence with words"),
            (2, "one two three four five six seven eight"),
        ],
        "doc_id long, text string",
    )
    kit = C.CurationKit([C.GopherRepetitionFilter()])
    out = sorted(r["doc_id"] for r in kit.run(docs).collect())
    exp = sorted(
        r["doc_id"]
        for r in CP.gopher_repetition(docs).where("keep").collect()
    )
    assert out == exp and 0 not in out and 1 in out
    # config round-trip through the registry
    cfg = kit.to_config()
    kit2 = C.CurationKit(
        [C.stage_from_config(sc) for sc in cfg["stages"]]
    )
    assert kit2.to_config() == cfg


def test_docs_without_shingles_are_in_no_near_dup_pair(spark):
    """A doc with fewer than 3 tokens (or NULL text) has an empty
    shingle set: it emits no band key, so it is in no pair instead of
    dividing 0/0 in the Jaccard verify, and a kit with the default
    quality gate keeps such docs."""
    from finmlkit_spark.operators import dedup as D

    short = spark.createDataFrame(
        [(0, "the cat"), (1, "a dog")], "doc_id long, text string"
    )
    assert D.minhash_lsh_pairs(short).collect() == []
    kit = C.CurationKit([C.QualityFilter(), C.ExactDedup(), C.NearDupDedup(0.6)])
    assert sorted(r["doc_id"] for r in kit.run(short).collect()) == [0, 1]

    mixed = _docs(spark).unionByName(
        spark.createDataFrame(
            [(5, "the cat", "web"), (6, "a dog", "web"), (7, None, "web"), (8, "", "web")],
            "doc_id long, text string, source string",
        )
    )
    pairs = D.minhash_lsh_pairs(mixed, threshold=0.5)
    assert [(r["doc_a"], r["doc_b"]) for r in pairs.collect()] == [(0, 3)]
