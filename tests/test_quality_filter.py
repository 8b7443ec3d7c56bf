"""QualityFilter and the token signals it combines: one tokenizer split
per doc in the optimized plan, and the keep decisions of the rules as
their docstrings state them, evaluated row by row in Python."""

from __future__ import annotations

import re

import pytest

from finmlkit_spark.operators import text as TX
from finmlkit_spark.plans import curation as C
from finmlkit_spark.streaming import curation as SC
from tests.conftest import SF_SMALL

DOCS = [
    (0, None),
    (1, ""),
    (2, "     "),
    (3, "the"),
    (4, "the cat"),
    (5, "  the   quick  brown fox   jumps over the lazy dog by the river bank  "),
    (6, "the cat sat the cat sat the cat sat the cat sat"),
    (7, "el perro de la casa que los niños aman mucho en el verano"),
    (8, "xyzzy plugh"),
    (9, "the el"),
    (10, "a market data stream of trades and bars flows into the feature store today"),
    (11, "the\tcat sat on a mat"),
    (12, "supercalifragilisticexpialidocious antidisestablishmentarianism and"),
]


def _tokens(text):
    """``split(trim(text), ' +')``: trim strips spaces only, and an
    empty string splits into one empty token."""
    return None if text is None else re.split(" +", text.strip(" "))


def _quality(t):
    """Length band + mean token length band + stopword presence. A
    NULL text fails every band (as it fails every rule below)."""
    if t is None:
        return 0.0
    n = len(t)
    atl = sum(len(x) for x in t) / n
    sw = sum(x in TX.STOPWORDS for x in t) / n
    return (
        (0.4 if 10 <= n <= 100_000 else 0.0)
        + (0.3 if 2.0 <= atl <= 12.0 else 0.0)
        + (0.3 if sw > 0.0 else 0.0)
    )


def _repetition(t, n=3):
    """1 − distinct/total token n-grams; 0.0 when no n-gram fits."""
    m = -1 if t is None else len(t) - (n - 1)
    if m < 1:
        return 0.0
    grams = {" ".join(t[i : i + n]) for i in range(m)}
    return 1.0 - len(grams) / m


def _lang(t):
    """argmax language by stopword hits, ties to the first language in
    LANG_WORDS order, 'und' when every count is 0."""
    if t is None:
        return "und"
    scores = [sum(x in words for x in t) for words in TX.LANG_WORDS.values()]
    best = max(scores)
    return list(TX.LANG_WORDS)[scores.index(best)] if best > 0 else "und"


def _keep(text, min_quality, lang, max_rep3):
    t = _tokens(text)
    ok = _quality(t) >= min_quality and _repetition(t) < max_rep3
    return ok and (not lang or _lang(t) == lang)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _splits(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toJSON()
    return plan.count('catalyst.expressions.StringSplit"')


def _filters(df) -> int:
    """Stopword-hit filters in the optimized plan (``filter(`` over the
    bound tokens; every counted column is aliased, so no generated
    column name repeats the expression)."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("filter(")


def test_one_tokenizer_split_per_doc(spark, docs):
    """Every multi-signal projection binds ``tokens(col)`` once: the
    optimized plan holds one StringSplit (the unbound forms had 5 in
    the filter, 3 in ``quality_score``), and the struct the streaming
    projection and ``lang_id`` select fields from is not collapsed
    back into one copy per field. Each language's stopword hits are
    counted once and shared by the stopword rule and the language
    argmax: one filter per language (4), not 5 (English twice) in the
    quality filter and the streaming projection and 8 in ``lang_id``."""
    from finmlkit_spark.suite.text_suite import lang_id

    qf = C.QualityFilter().apply(docs)
    stream = SC.with_curation_columns(docs)
    langs = lang_id(spark, SF_SMALL)
    assert _splits(qf) == 1
    assert _splits(docs.select(TX.quality_score())) == 1
    assert _splits(stream) == 1
    assert _splits(langs) == 1
    assert [_filters(qf), _filters(stream), _filters(langs)] == [4, 4, 4]
    assert _filters(C.QualityFilter(lang=None).apply(docs)) == 1


@pytest.mark.parametrize(
    "params",
    [
        {},
        {"min_quality": 0.6, "lang": None, "max_rep3": 0.5},
        {"min_quality": 0.3, "lang": "es", "max_rep3": 0.9},
        {"min_quality": 1.0, "lang": "en", "max_rep3": 0.2},
        {"min_quality": 0.0, "lang": None, "max_rep3": 1.0},
    ],
    ids=["defaults", "no_lang", "es", "strict", "open"],
)
def test_keep_set_matches_row_rules(docs, params):
    stage = C.QualityFilter(**params)
    p = stage.params
    got = sorted(r["doc_id"] for r in stage.apply(docs).select("doc_id").collect())
    exp = sorted(
        i for i, text in DOCS if _keep(text, p["min_quality"], p["lang"], p["max_rep3"])
    )
    assert got == exp


def test_signals_match_row_rules(docs):
    """The public signals give the row-by-row values bit for bit (the
    defaults keep-set alone would not see a drift below a threshold)."""
    rows = docs.select(
        "doc_id",
        "text",
        TX.quality_score().alias("q"),
        TX.repetition_ratio().alias("rep"),
        TX.lang_guess().alias("lang"),
    ).collect()
    assert len(rows) == len(DOCS)
    for r in rows:
        t = _tokens(r["text"])
        assert (r["q"], r["rep"], r["lang"]) == (_quality(t), _repetition(t), _lang(t)), r
