"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language-ID
heuristic, quality scoring, token counting, document fingerprinting —
all pure Column expressions (JVM-side, codegen'd; no UDFs) so they run
at 100 TB as narrow projections over the documents table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007

#: tiny per-language stopword lists for the n-gram/stopword lang heuristic
LANG_WORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "les", "et", "une", "est"],
}

STOPWORDS = LANG_WORDS["en"]


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (see ``bpe_token_count`` for the BPE-ish
    pre-tokenizer counting path)."""
    return F.split(F.trim(F.col(col)), " +")


def let_bind(expr: Column, body) -> Column:
    """Relational let: evaluate ``expr`` ONCE per row and hand ``body`` a
    lambda variable bound to the result. Catalyst re-inlines an
    expression tree per textual reference (SCALE.md lesson 1), so any
    non-trivial expression consumed by 2+ sub-expressions of one
    projection should be bound with this before fan-out. Implemented as
    a one-element-array ``transform`` — the inner references are
    NamedLambdaVariable reads, not tree copies.

    Token signals follow one rule: a projection or filter that computes
    several of them binds ``tokens(col)`` once and hands the bound array
    to the ``_*_of(t)`` bodies (``_quality_of``, ``_repetition_of``,
    ``_lang_hits_of``, ...); each public signal binds its own split.
    Quality and language read the same stopword hits, so a projection
    that computes both binds :func:`_lang_hits_of` once as well.
    To select several signals as columns, bind one struct of them and
    read its fields in a second projection — Catalyst does not collapse
    those field reads back into per-field copies of a lambda producer."""
    return F.get(F.transform(F.array(expr), body), 0)


def token_count(col: str = "text") -> Column:
    return F.size(tokens(col)).cast("long")


# GPT-2-style pre-tokenizer approximation: contractions, letter runs,
# digit runs, punctuation runs (each optionally space-prefixed). Both
# Java regex (Spark) and RE2 (DuckDB) support these classes identically.
BPE_ISH_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def bpe_token_count(col: str = "text") -> Column:
    """Token count under the BPE-ish pre-tokenizer regex — the
    LLM-pipeline budget estimate (whitespace counting undercounts
    punctuation-heavy text)."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(BPE_ISH_PATTERN), F.lit(0))).cast(
        "long"
    )


def char_count(col: str = "text") -> Column:
    return F.length(col).cast("long")


def _avg_token_len_of(t: Column) -> Column:
    return F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("double")), F.lit(0.0), lambda a, x: a + x
    ) / F.size(t)


def avg_token_len(col: str = "text") -> Column:
    return let_bind(tokens(col), _avg_token_len_of)


def _hits_of(t: Column, words: list[str]) -> Column:
    """How many tokens of ``t`` are in ``words`` (long)."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(t, lambda x: F.array_contains(arr, x))).cast("long")


def _lang_hits_of(t: Column) -> Column:
    """Each language's stopword hits over ``t``, in ``LANG_WORDS`` order
    (English first): bind it once, then read element 0 for
    :func:`_quality_of` and the whole array for :func:`_lang_guess_of`."""
    return F.array(*[_hits_of(t, words) for words in LANG_WORDS.values()])


def stopword_ratio(col: str = "text", words: list[str] | None = None) -> Column:
    return let_bind(
        tokens(col), lambda t: _hits_of(t, words or STOPWORDS).cast("double") / F.size(t)
    )


def _quality_of(t: Column, en_hits: Column) -> Column:
    """The quality bands over tokens ``t`` with ``en_hits`` English
    stopword hits among them."""
    n = F.size(t).cast("long")
    sw = en_hits.cast("double") / F.size(t)
    return let_bind(
        _avg_token_len_of(t),
        lambda atl: F.when((n >= 10) & (n <= 100_000), 0.4).otherwise(0.0)
        + F.when((atl >= 2.0) & (atl <= 12.0), 0.3).otherwise(0.0)
        + F.when(sw > 0.0, 0.3).otherwise(0.0),
    )


def quality_score(col: str = "text") -> Column:
    """Composite quality heuristic: length band + mean token length band +
    stopword presence (the classic Gopher-style rule shape). The token
    array and the mean token length are let-bound — each is consumed by
    multiple band predicates."""
    return let_bind(tokens(col), lambda t: _quality_of(t, _hits_of(t, STOPWORDS))).alias(
        "quality"
    )


def _lang_guess_of(hits: Column) -> Column:
    """The argmax language of the :func:`_lang_hits_of` array ``hits``."""
    entries = [
        F.struct(hits[i].alias("s"), F.lit(-i).alias("ni")) for i in range(len(LANG_WORDS))
    ]
    names = F.array(*[F.lit(lang) for lang in LANG_WORDS])
    # the argmax is bound: both the guard and the pick read it
    return let_bind(
        F.array_max(F.array(*entries)),
        lambda best: F.when(
            best["s"] > 0, F.element_at(names, (-best["ni"] + 1).cast("int"))
        ).otherwise(F.lit("und")),
    )


def lang_guess(col: str = "text") -> Column:
    """argmax language by stopword hits, 'und' (undetermined) when all 0.
    Deterministic tie-break by language name order in LANG_WORDS.

    Shape note: argmax over an array of (score, -index) structs. The
    naive when-chain fold (best = when(s_i > best, ...) over languages)
    nests every earlier score expression inside each later branch —
    Catalyst re-inlines the duplicated trees and the tokenize+filter
    work grows combinatorially with the language count (measured 2.1 s
    -> 0.25 s on 5k docs for 4 languages). array_max compares structs
    field-by-field: highest score wins, ties resolve to the SMALLEST
    index via the negated-index second field — identical semantics to
    the strictly-greater-replaces loop."""
    return let_bind(tokens(col), lambda t: _lang_guess_of(_lang_hits_of(t)))


def poly_hash(expr: Column | str, mod: int = MOD) -> Column:
    """Polynomial rolling hash over UTF-8-ish char codes, mod-reduced each step
    so both engines stay in int64: acc = (acc·31 + ascii(ch)) % mod.
    The cross-engine-portable document fingerprint.
    """
    c = F.col(expr) if isinstance(expr, str) else expr
    chars = F.split(c, "")
    return F.aggregate(
        F.transform(chars, lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(mod),
    )


def token_hashes(col: str = "text", mod: int = MOD) -> Column:
    """Per-token polynomial hashes — hash each token once; shingle hashes
    combine these (3× less char work than hashing every shingle string)."""
    return F.transform(tokens(col), lambda t: poly_hash(t, mod))


def _kgrams(arr: Column, k: int, m: Column, join) -> Column:
    """The k-grams at positions 1..m of a BOUND array: k shifted
    ``slice``s folded pairwise by ``zip_with(join)`` — linear. The
    ``transform(sequence, i -> element_at(arr, i + j))`` form re-inlines
    the array expression per element under Catalyst's lambda evaluation
    (O(n²·chars) per doc)."""
    acc = F.slice(arr, 1, m)
    for j in range(1, k):
        acc = F.zip_with(acc, F.slice(arr, j + 1, m), join)
    return acc


def shingle_hashes_from_tokens(th: Column, k: int = 3, mod: int = MOD) -> Column:
    """Distinct k-gram shingle hashes combined from a token-hash array:
    h = fold(h·31 + th[i+j]) % mod — one step per token, not per char.

    Implementation notes:

    - built by :func:`_kgrams` (linear).
    - the input expression is LET-BOUND via a one-element-array
      ``transform`` before the slices read it: ``th`` appears k+2 times
      below (size guard + k slices), and Catalyst duplicates the whole
      expression tree per appearance — with ``token_hashes`` (a per-char
      aggregate fold per token, interpreted HOF) as input that
      re-evaluation was a measured 10× slowdown on the document table.
      The binding evaluates the input once per row; the inner lambdas
      only reference the bound variable."""

    def _body(thv: Column) -> Column:
        n = F.size(thv)
        acc = _kgrams(thv, k, n - (k - 1), lambda a, b: (a * 31 + b) % F.lit(mod))
        return F.when(n >= k, F.array_distinct(acc)).otherwise(
            F.array().cast("array<long>")
        )

    return let_bind(th, _body)


def positional_shingle_hashes(th: Column, k: int = 3, mod: int = MOD) -> Column:
    """Per-POSITION k-gram shingle hashes: element i is the hash of the
    k-gram starting at token i — the positional sibling of
    :func:`shingle_hashes_from_tokens` (same fold, NO distinct), for
    span-level dedup where the location of a duplicated k-gram matters,
    not just its membership. Same let-binding discipline (the input
    fans into k+2 sub-expressions).

    No library operator plans this expression: ``dup_span_ranges``
    emits the same rows from the Arrow kernel
    ``dedup._positional_trigram_rows``. It stays as the pure-JVM
    reference the tests pin that kernel's hash bits against."""

    def _body(thv: Column) -> Column:
        n = F.size(thv)
        acc = _kgrams(thv, k, n - (k - 1), lambda a, b: (a * 31 + b) % F.lit(mod))
        return F.when(n >= k, acc).otherwise(F.array().cast("array<long>"))

    return let_bind(th, _body)


def _token_hash_arrays(texts, mod: int = MOD):
    """Batch-vectorized token poly-hashes for an Arrow batch of texts —
    the shared engine behind the Arrow shingle kernels (exact integer
    parity with the ``token_hashes`` HOF; see ``dedup._kgram_rows`` for
    the token-semantics proof:
    ``split(trim(text), ' +')`` == maximal runs of non-space chars for
    every input whose tokens can form a shingle).

    Returns ``(th, tok_doc, cnt, toff)``: per-token hashes (int64, doc-
    major order), each token's doc index, per-doc token counts, and
    per-doc token offsets.
    """
    import numpy as np

    parts = []
    sep = np.array([32], dtype=np.int64)
    for t in texts:
        if isinstance(t, str) and t:
            parts.append(
                np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
            )
        else:
            parts.append(np.empty(0, dtype=np.int64))
        parts.append(sep)
    n_docs = len(texts)
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.zeros(n_docs, np.int64), np.zeros(n_docs, np.int64)
    codes = np.concatenate(parts)
    doc_of_char = np.repeat(
        np.arange(n_docs, dtype=np.int64),
        [len(parts[2 * i]) + 1 for i in range(n_docs)],
    )
    nonsp = codes != 32
    starts = nonsp & np.concatenate(([True], ~nonsp[:-1]))
    n_tok = int(starts.sum())
    cnt = np.bincount(doc_of_char[starts], minlength=n_docs)
    toff = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    if n_tok == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, cnt, toff
    tok_id_all = np.cumsum(starts) - 1
    tok_id = tok_id_all[nonsp]
    tok_doc = doc_of_char[starts]
    lens = np.bincount(tok_id, minlength=n_tok)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    L = int(lens.max())
    nz = codes[nonsp]
    # per-token polynomial fold, vectorized across tokens: acc =
    # (acc*31 + c) % mod per char — the HOF/oracle integer sequence
    # exactly (values stay < 31*mod + codepoint << 2^63). Two shapes:
    acc = np.zeros(n_tok, dtype=np.int64)
    if n_tok * L <= 8_000_000:
        # dense (n_tok × L) scatter + masked column passes — fastest
        # when token lengths are uniform (the normal text case)
        pos_in_tok = np.arange(tok_id.shape[0], dtype=np.int64) - offs[tok_id]
        mat = np.zeros((n_tok, L), dtype=np.int64)
        mat[tok_id, pos_in_tok] = nz
        for j in range(L):
            upd = (acc * 31 + mat[:, j]) % mod
            acc = np.where(j < lens, upd, acc)
    else:
        # ragged fold — O(total_chars) work and memory: one 100k-char
        # token (base64 blob, minified JS) in an otherwise-short batch
        # would make the dense matrix n_tok × 100k cells (hundreds of
        # GB); here pass j touches ONLY the tokens longer than j via
        # their char offsets, so pathological tokens cost their own
        # length, never the batch's width
        order = np.argsort(lens, kind="stable")
        sorted_lens = lens[order]
        for j in range(L):
            live = order[np.searchsorted(sorted_lens, j + 1) :]
            c = nz[offs[live] + j]
            acc[live] = (acc[live] * 31 + c) % mod
    return acc, tok_doc, cnt, toff


def _shingle_combine(th, tok_doc, cnt, k: int, mod: int = MOD):
    """Positional k-gram combine over :func:`_token_hash_arrays` output:
    returns ``(g, tpos, valid)`` — per-token-position shingle hashes,
    the position within the doc, and the valid-start mask."""
    import numpy as np

    n_tok = th.shape[0]
    if n_tok == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.empty(0, dtype=bool)
    toff = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    tpos = np.arange(n_tok, dtype=np.int64) - toff[tok_doc]
    valid = tpos <= cnt[tok_doc] - k
    g = th.copy()
    for j in range(1, k):
        # pad to exactly n_tok: when the whole batch has fewer tokens
        # than j (e.g. one single-token doc), th[j:] is empty and a
        # j-sized pad used to broadcast g to the wrong shape — every
        # such position is invalid (tpos > cnt - k) so the pad VALUE
        # never reaches the output, only the shape matters
        nxt = np.concatenate((th[j:], np.zeros(min(j, n_tok), dtype=np.int64)))
        g = (g * 31 + nxt) % mod
    return g, tpos, valid


def shingles(col: str = "text", k: int = 3) -> Column:
    """Distinct token k-gram shingle STRINGS (the readable variant of
    the hash-based unit set used by MinHash/Jaccard). Linear slice +
    zip_with over a let-bound token array — the
    ``transform(sequence, element_at)`` form re-inlines the tokenizer
    per element (SCALE.md lesson 1)."""

    def body(t: Column) -> Column:
        n = F.size(t)
        grams = _kgrams(t, k, n - (k - 1), lambda a, b: F.concat_ws(" ", a, b))
        return F.when(n >= k, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return let_bind(tokens(col), body)


def _repetition_of(t: Column, n: int = 3) -> Column:
    m = F.size(t) - (n - 1)
    grams = _kgrams(t, n, F.greatest(m, F.lit(1)), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(
        m >= 1,
        1.0 - F.size(F.array_distinct(grams)).cast("double") / m,
    ).otherwise(F.lit(0.0))


def repetition_ratio(col: str = "text", n: int = 3) -> Column:
    """Within-document repetition: 1 − distinct/total token n-grams — the
    Gopher/RefinedWeb duplicated-n-gram quality signal. 0.0 for docs too
    short to form an n-gram. Pure HOF projection (scale-free)."""
    return let_bind(tokens(col), lambda t: _repetition_of(t, n))


# Patterns kept to the regex subset with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): char classes, +, {m,}, no lookaround.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
URL_RE = "https?://[^ ]+"
LONG_NUM_RE = "[0-9]{8,}"


def pii_counts(col: str = "text") -> dict[str, Column]:
    """Counts of scrub-target patterns (emails, URLs, long digit runs) —
    the inputs to a redaction/filter policy. regexp_count keeps it a
    JVM-side projection."""
    return {
        "n_emails": F.regexp_count(F.col(col), F.lit(EMAIL_RE)).cast("long"),
        "n_urls": F.regexp_count(F.col(col), F.lit(URL_RE)).cast("long"),
        "n_long_nums": F.regexp_count(F.col(col), F.lit(LONG_NUM_RE)).cast("long"),
    }


def normalize_text(col: str = "text") -> Column:
    """Canonical text normal form for dedup: lowercase, every
    non-alphanumeric folded to a space, space runs collapsed, ends
    trimmed — catches the case/punctuation/whitespace variants exact
    content-hash dedup misses (the C4/RefinedWeb normalization step).
    Regex kept to the subset with identical semantics in Java regex
    (Spark) and RE2 (DuckDB): char classes + ``+``, no lookaround."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def redact_pii(col: str = "text") -> Column:
    """Apply the PII scrub policy: emails → ``<EMAIL>``, URLs →
    ``<URL>``, long digit runs → ``<NUM>`` — the consuming half of
    :func:`pii_counts` (counts tell you the exposure; this removes it).
    Fixed replacement order (emails before URLs before digit runs) so
    both engines rewrite identical bytes; pure JVM regexp_replace
    chain, no UDF."""
    out = F.regexp_replace(F.col(col), EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, URL_RE, "<URL>")
    return F.regexp_replace(out, LONG_NUM_RE, "<NUM>")
