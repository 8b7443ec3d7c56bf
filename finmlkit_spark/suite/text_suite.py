"""Training-data pipeline queries: text analysis, dedup (exact /
n-gram Jaccard / MinHash-LSH / SimHash), embedding similarity search,
multimodal plumbing — over the driver's documents/embeddings tables.

Oracle strategy: every signature/hash is built from cross-engine-
portable primitives (polynomial char hash mod 1e9+7, fixed-seed
universal hashes, LCG hyperplanes), so DuckDB reproduces the Spark
expressions bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import arrow
from ..operators import corpus as CP
from ..operators import dedup as D
from ..operators import multimodal as MM
from ..operators import retrieval as RT
from ..operators import sampling as SMP
from ..operators import similarity as SIM
from ..operators import text as TX
from ..sources.tables import read_table
from ._registry import ORACLES, parquet_rows_below, query

# --- shared DuckDB fragments ------------------------------------------------

_PH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({e}, ''), ch -> CAST(ascii(ch) AS BIGINT))), "
    "(acc, c) -> (acc * 31 + c) % 1000000007)"
)

#: documents below which a CPU-bound per-doc fold (bpe_segment,
#: gopher_repetition) spreads the corpus across every core: a small
#: corpus is one parquet file, read by a few tasks; at corpus scale the
#: scan is already parallel
SMALL_CORPUS_DOCS = 100_000

#: documents below which segment_dedup takes its one-partition fused form
SEGDEDUP_SMALL_DOCS = 20_000

_TOKS = "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS t FROM documents)"

_SH = (
    "list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1), "
    "i -> concat(t[i], ' ', t[i + 1], ' ', t[i + 2])))"
)

# token hashes -> combined shingle hashes (mirrors
# text.token_hashes + text.shingle_hashes_from_tokens)
_TH = "list_transform(t, tok -> " + _PH.format(e="tok") + ")"

_SHH = (
    "list_distinct(list_transform(range(1, greatest(len(th) - 2, 0) + 1), "
    "i -> ((((th[i] * 31 + th[i + 1]) % 1000000007) * 31 + th[i + 2]) % 1000000007)))"
)

_SHQ = (
    _TOKS
    + f", thq AS (SELECT doc_id, {_TH} AS th FROM toks)"
    + f", shq AS (SELECT doc_id, {_SHH} AS sh FROM thq)"
)

_HS = "sh"

_SIG = (
    f"list_transform(range(0, 16), j -> list_reduce(list_prepend(9223372036854775807, "
    f"list_transform(hs, h -> ([{{A}}][CAST(j AS INT) + 1] * h + [{{B}}][CAST(j AS INT) + 1]) % 4294967311)), "
    f"(acc, x) -> least(acc, x)))"
).replace("{A}", ", ".join(map(str, D.MH_A))).replace("{B}", ", ".join(map(str, D.MH_B)))


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def _payload_docs(spark, sf_dir, payload):
    """``(doc_id, payload binary)``: ``payload(doc_id) -> bytes`` per
    document, built on the executors."""

    def encode(b):
        ids = b["doc_id"]
        return {"doc_id": ids, "payload": [payload(int(d)) for d in ids]}

    docs = _docs(spark, sf_dir).select("doc_id")
    return arrow.map_batches(docs, encode, "doc_id long, payload binary")


def _gradient_png(doc_id):
    """The 8x16 grayscale PNG whose pixel i is (doc_id*7 + i) % 256."""
    import numpy as np

    i = np.arange(128, dtype=np.int64)
    return MM.encode_png(((doc_id * 7 + i) % 256).astype(np.uint8).reshape(8, 16))


# --- text analysis ----------------------------------------------------------

@query(
    "text_stats",
    _TOKS
    + """
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(t.t, x -> CAST(length(x) AS DOUBLE))) AS DOUBLE) / len(t.t) AS avg_token_len,
       CAST(len(list_filter(t.t, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(t.t) AS stopword_ratio
FROM documents d JOIN toks t USING (doc_id)""",
)
def text_stats(spark, sf_dir):
    """Token/char counts + quality inputs as narrow projections."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.char_count().alias("n_chars"),
        TX.token_count().alias("n_tokens"),
        TX.avg_token_len().alias("avg_token_len"),
        TX.stopword_ratio().alias("stopword_ratio"),
    )


@query(
    "quality_score",
    _TOKS
    + """
, st AS (
  SELECT doc_id, len(t) AS n,
         CAST(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) AS DOUBLE) / len(t) AS atl,
         CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE) / len(t) AS sw
  FROM toks
)
SELECT doc_id,
       (CASE WHEN n >= 10 AND n <= 100000 THEN 0.4 ELSE 0.0 END
        + CASE WHEN atl >= 2.0 AND atl <= 12.0 THEN 0.3 ELSE 0.0 END
        + CASE WHEN sw > 0.0 THEN 0.3 ELSE 0.0 END) AS quality
FROM st""",
)
def quality_score_q(spark, sf_dir):
    """Gopher-style composite quality score."""
    return _docs(spark, sf_dir).select("doc_id", TX.quality_score().alias("quality"))


_LANG_LISTS = {
    "en": "['the','a','of','and','to']",
    "es": "['el','la','de','que','los']",
    "de": "['der','die','das','und','ist']",
    "fr": "['le','les','et','une','est']",
}
_LSC = ", ".join(
    f"CAST(len(list_filter(t, x -> list_contains({l}, x))) AS BIGINT) AS s_{k}"
    for k, l in _LANG_LISTS.items()
)


@query(
    "lang_id",
    _TOKS
    + f"""
, sc AS (SELECT doc_id, {_LSC} FROM toks),
f1 AS (SELECT *, 'en' AS b1, s_en AS v1 FROM sc),
f2 AS (SELECT *, CASE WHEN s_es > v1 THEN 'es' ELSE b1 END AS b2,
               CASE WHEN s_es > v1 THEN s_es ELSE v1 END AS v2 FROM f1),
f3 AS (SELECT *, CASE WHEN s_de > v2 THEN 'de' ELSE b2 END AS b3,
               CASE WHEN s_de > v2 THEN s_de ELSE v2 END AS v3 FROM f2),
f4 AS (SELECT *, CASE WHEN s_fr > v3 THEN 'fr' ELSE b3 END AS b4,
               CASE WHEN s_fr > v3 THEN s_fr ELSE v3 END AS v4 FROM f3)
SELECT doc_id, s_en, s_es, s_de, s_fr,
       CASE WHEN v4 > 0 THEN b4 ELSE 'und' END AS lang_guess
FROM f4""",
)
def lang_id(spark, sf_dir):
    """N-gram/stopword language-ID heuristic (scores + argmax guess):
    one struct over the bound per-language hits of one bound token
    array, fields selected apart."""

    def body(h):
        return F.struct(
            *[h[i].alias(f"s_{k}") for i, k in enumerate(TX.LANG_WORDS)],
            TX._lang_guess_of(h).alias("lang_guess"),
        )

    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.let_bind(TX.tokens(), lambda t: TX.let_bind(TX._lang_hits_of(t), body)).alias("_l"),
    ).select("doc_id", "_l.*")


@query(
    "doc_fingerprint",
    "SELECT doc_id, " + _PH.format(e="text") + " AS fingerprint FROM documents",
)
def doc_fingerprint(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint (cross-engine stable)."""
    return _docs(spark, sf_dir).select(
        "doc_id", TX.poly_hash("text").alias("fingerprint")
    )


# --- dedup ------------------------------------------------------------------

@query(
    "exact_dedup",
    """
SELECT md5(text) AS content_md5, min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)""",
)
def exact_dedup_q(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy, keep lowest id)."""
    return D.exact_dedup(_docs(spark, sf_dir))


@query(
    "ngram_jaccard",
    _SHQ
    + """
, e AS (SELECT doc_id AS doc, unnest(sh) AS g FROM shq),
rare AS (SELECT g FROM e GROUP BY g HAVING count(*) <= 256),
er AS (SELECT e.doc, e.g FROM e JOIN rare USING (g)),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM er a JOIN er b ON a.g = b.g AND a.doc < b.doc
),
j AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
  FROM cand c
  JOIN shq sa ON sa.doc_id = c.doc_a
  JOIN shq sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5""",
)
def ngram_jaccard_q(spark, sf_dir):
    """Token-trigram Jaccard near-dup pairs (threshold 0.5), via the
    bounded-fan-out default (max_doc_freq=256): candidates only from
    shingles rarer than the cutoff, exact Jaccard on survivors."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


@query(
    "ngram_jaccard_full",
    _SHQ
    + """
, e AS (SELECT doc_id AS doc, len(sh) AS n_sh, unnest(sh) AS g FROM shq),
pairs AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, a.n_sh AS na, b.n_sh AS nb, count(*) AS inter
  FROM e a JOIN e b ON a.g = b.g AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5""",
)
def ngram_jaccard_full_q(spark, sf_dir):
    """Full-recall (unbounded, explicit opt-in) token-trigram Jaccard
    near-dup pairs (threshold 0.5)."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5, max_doc_freq=None)


@query(
    "minhash_lsh",
    _SHQ
    + f"""
, sg AS (SELECT doc_id, sh, {_SIG.replace('hs', _HS)} AS sig FROM shq),
bk AS (
  SELECT doc_id, sh,
         unnest(list_transform(range(0, 4), b ->
           concat(CAST(b AS VARCHAR), ':',
                  array_to_string(list_slice(sig, CAST(b AS INT) * 4 + 1, CAST(b AS INT) * 4 + 4), '-')))) AS key
  FROM sg
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sh AS sh_a, b.sh AS sh_b
  FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         / len(list_distinct(list_concat(sh_a, sh_b))) AS jaccard
FROM cand
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5""",
)
def minhash_lsh_q(spark, sf_dir):
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup pairs with exact
    Jaccard verification (threshold 0.5)."""
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


@query(
    "simhash_fp",
    _SHQ
    + f"""
, hsq AS (SELECT doc_id, {_HS} AS hs FROM shq)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 32), i ->
         CASE WHEN list_sum(list_transform(hs, h -> 2 * ((h >> CAST(i AS INT)) & 1) - 1)) >= 0
              THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fingerprint
FROM hsq""",
)
def simhash_fp(spark, sf_dir):
    """32-bit SimHash fingerprint over shingle hashes."""
    d = _docs(spark, sf_dir).select("doc_id", D.shingle_hashes().alias("hs"))
    return d.select("doc_id", D.simhash(F.col("hs")).alias("fingerprint"))


@query(
    "simhash_near_pairs",
    _SHQ
    + """
, hsq AS (SELECT doc_id, sh AS hs FROM shq),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32), i ->
           CASE WHEN list_sum(list_transform(hs, h -> 2 * ((h >> CAST(i AS INT)) & 1) - 1)) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fingerprint
  FROM hsq
),
k AS (
  SELECT doc_id, fingerprint, unnest(range(0, 4)) AS band
  FROM fp
),
kk AS (
  SELECT doc_id, fingerprint, band,
         (fingerprint >> CAST(band * 8 AS INT)) & 255 AS segv
  FROM k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fingerprint AS fp_a, b.fingerprint AS fp_b
  FROM kk a JOIN kk b ON a.band = b.band AND a.segv = b.segv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3""",
)
def simhash_near_pairs_q(spark, sf_dir):
    """Hamming-banded SimHash near-dup pairs (32 bits, 4 bands,
    hamming <= 3): pigeonhole-complete candidate join on 8-bit segments,
    exact popcount(xor) verification."""
    return D.simhash_near_pairs(_docs(spark, sf_dir))


# --- embedding similarity ---------------------------------------------------

@query(
    "ann_topk",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
s AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos_sim
  FROM q, e WHERE q.query_id <> e.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank FROM s)
SELECT query_id, cand_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""",
)
def ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors 0..9 (the exact
    baseline; LSH-bucketed variant below is the scale path)."""
    out = SIM.ann_brute_topk(_embs(spark, sf_dir), list(range(10)), k=5)
    return out.select("query_id", "cand_id", "cos_sim", F.col("rank").cast("long").alias("rank"))


@query(
    "emb_lsh_pairs",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(range(0, 16), j ->
           CASE WHEN list_sum(list_transform(range(0, 64), i ->
                  v[CAST(i AS INT) + 1] *
                  (CAST((1103515245 * (j * 64 + i + 1) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)
                )) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM e
)
SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       list_dot_product(a.v, b2.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cos_sim
FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
WHERE list_dot_product(a.v, b2.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) >= 0.3""",
)
def emb_lsh_pairs(spark, sf_dir):
    """Embedding near-dup pairs: 16-hyperplane LSH bucket equi-join +
    exact cosine >= 0.3 verification."""
    return SIM.lsh_near_pairs(_embs(spark, sf_dir), threshold=0.3)


@query(
    "random_projection",
    """
WITH q AS (
  SELECT vec_id, i.i AS i,
         CAST(floor(embedding[i.i + 1] * 1e6 + 0.5) AS BIGINT) AS qv
  FROM embeddings, (SELECT unnest(range(64)) AS i) i
),
w AS (
  SELECT j.j AS j, i.i AS i,
         ((1103515245 * (j.j * 64 + i.i + 1) + 12345) % 65536) - 32768 AS wv
  FROM (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range(64)) AS i) i
)
SELECT q.vec_id, w.j,
       CAST(SUM(q.qv * w.wv) AS DOUBLE) / (1e6 * 32768.0) AS proj
FROM q JOIN w USING (i)
GROUP BY q.vec_id, w.j""",
)
def random_projection_q(spark, sf_dir):
    """Johnson-Lindenstrauss projection 64 -> 16 dims
    (``similarity.random_projection``): exact integer-scaled weighted
    sums (order-independent int64, one terminal rescale), long-form
    output so the driver hashes scalars. The oracle replays the LCG
    weights and the quantized sum in plain SQL — bit-identical."""
    out = SIM.random_projection(_embs(spark, sf_dir), out_dim=16)
    return out.select(
        "vec_id", F.posexplode("projection").alias("j", "proj")
    ).select("vec_id", F.col("j").cast("long").alias("j"), "proj")


@query(
    "ann_projected_topk",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qz AS (
  SELECT vec_id, i.i AS i,
         CAST(floor(embedding[i.i + 1] * 1e6 + 0.5) AS BIGINT) AS qv
  FROM embeddings, (SELECT unnest(range(64)) AS i) i
),
wm AS (
  SELECT j.j AS j, i.i AS i,
         ((1103515245 * (j.j * 64 + i.i + 1) + 12345) % 65536) - 32768 AS wv
  FROM (SELECT unnest(range(16)) AS j) j, (SELECT unnest(range(64)) AS i) i
),
pl AS (
  SELECT qz.vec_id, wm.j,
         CAST(SUM(qz.qv * wm.wv) AS DOUBLE) / (1e6 * 32768.0) AS p
  FROM qz JOIN wm USING (i)
  GROUP BY qz.vec_id, wm.j
),
pv AS (
  SELECT vec_id, list(p ORDER BY j) AS pvec FROM pl GROUP BY vec_id
),
ps AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         list_dot_product(q.pvec, c.pvec)
           / (sqrt(list_dot_product(q.pvec, q.pvec)) * sqrt(list_dot_product(c.pvec, c.pvec))) AS psim
  FROM pv q, pv c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
),
sh AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY psim DESC, cand_id) AS prank FROM ps
),
ex AS (
  SELECT s.query_id, s.cand_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_sim
  FROM sh s JOIN e q ON q.vec_id = s.query_id JOIN e c ON c.vec_id = s.cand_id
  WHERE s.prank <= 25
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank FROM ex)
SELECT query_id, cand_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""",
)
def ann_projected_topk_q(spark, sf_dir):
    """Reduce-then-verify ANN: JL-projected cosine shortlist (25) ->
    exact cosine top-5 in the original space
    (``similarity.ann_projected_topk``). Bit-exact projections make the
    candidate sets — and therefore the final rows — identical across
    engines."""
    out = SIM.ann_projected_topk(_embs(spark, sf_dir), list(range(10)), k=5)
    return out.select(
        "query_id", "cand_id", "cos_sim", F.col("rank").cast("long").alias("rank")
    )


# --- multimodal plumbing ----------------------------------------------------

@query(
    "multimodal_meta",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       CAST(octet_length(encode(text)) % 64 + 1 AS INT) AS width,
       CAST(octet_length(encode(text)) % 48 + 1 AS INT) AS height,
       CAST(3 AS INT) AS channels
FROM documents""",
)
def multimodal_meta(spark, sf_dir):
    """Binary-payload decode plumbing via an Arrow map (decode stubbed
    deterministically; schema/partitioning/batch shape are real)."""
    return MM.decode_meta(MM.with_payload(_docs(spark, sf_dir)), mode="fake")


@query(
    "image_decode_stats",
    """
WITH px AS (
  SELECT d.doc_id,
         CAST(i // 16 AS BIGINT) AS y,
         CAST(i % 16 AS BIGINT) AS x,
         CAST((d.doc_id * 7 + i) % 256 AS DOUBLE) AS v
  FROM documents d, (SELECT unnest(range(128)) AS i)
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       ROUND(AVG(v), 6) AS mean_lum,
       ROUND(SQRT(AVG(v * v) - AVG(v) * AVG(v)), 6) AS std_lum,
       ROUND(SUM(CASE WHEN x < 15 THEN abs(((doc_id * 7 + y * 16 + x + 1) % 256) - v) ELSE 0 END)
             / (8 * 15), 6) AS edge_energy
FROM px
GROUP BY doc_id""",
)
def image_decode_stats(spark, sf_dir):
    """REAL compressed-image decode through the engine: a deterministic
    8x16 grayscale image per doc (pixel i = (doc_id*7+i) % 256) is
    PNG-encoded (zlib DEFLATE) inside the executors, then decoded back
    by ``image_features`` (inflate + scanline unfilter) and reduced to
    luminance stats. The oracle computes the same stats from the pixel
    formula directly — so a hash match proves the PNG encode->decode
    round-trip and the feature kernel end-to-end."""
    feats = MM.image_features(_payload_docs(spark, sf_dir, _gradient_png))
    return feats.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.round("mean_lum", 6).alias("mean_lum"),
        F.round("std_lum", 6).alias("std_lum"),
        F.round("edge_energy", 6).alias("edge_energy"),
    )


@query(
    "video_frame_stats",
    """
WITH fr AS (
  SELECT d.doc_id, f.f AS frame_idx
  FROM documents d, (SELECT unnest([0, 2]) AS f) f
),
px AS (
  SELECT fr.doc_id, fr.frame_idx,
         CAST((fr.doc_id * 11 + fr.frame_idx * 17 + i) % 256 AS DOUBLE) AS v
  FROM fr, (SELECT unnest(range(128)) AS i)
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       ROUND(AVG(v), 6) AS mean_lum,
       ROUND(SQRT(AVG(v * v) - AVG(v) * AVG(v)), 6) AS std_lum
FROM px GROUP BY doc_id, frame_idx""",
)
def video_frame_stats_q(spark, sf_dir):
    """REAL video decode through the engine: a deterministic 4-frame
    8x16 Y4M stream per doc (luma[i] = (doc*11 + frame*17 + i) % 256,
    4:2:0 chroma) is encoded inside the executors, then frame-sampled
    (every 2nd frame) and reduced to per-frame luminance stats by
    ``video_frame_stats`` — the video-modality analog of
    image_decode_stats. The oracle computes the same stats from the
    pixel formula directly, so a hash match proves the Y4M
    encode -> frame-sample -> decode round-trip end-to-end."""
    import numpy as np

    def y4m(did):
        i = np.arange(128, dtype=np.int64)
        frames = np.stack(
            [((did * 11 + f * 17 + i) % 256).astype(np.uint8).reshape(8, 16) for f in range(4)]
        )
        return MM.encode_y4m(frames, "C420jpeg")

    stats = MM.video_frame_stats(_payload_docs(spark, sf_dir, y4m), every=2)
    return stats.select(
        "doc_id",
        "frame_idx",
        F.round("mean_lum", 6).alias("mean_lum"),
        F.round("std_lum", 6).alias("std_lum"),
    )


@query(
    "video_mjpeg_stats",
    """
WITH fr AS (
  SELECT d.doc_id, f.f AS frame_idx
  FROM documents d, (SELECT unnest([0, 2]) AS f) f
),
bx AS (
  SELECT fr.doc_id, fr.frame_idx,
         CAST((fr.doc_id * 11 + fr.frame_idx * 37 + b.b * 53) % 240 + 8
              AS DOUBLE) AS c
  FROM fr, (SELECT unnest(range(4)) AS b) b
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       ROUND(AVG(c), 6) AS mean_lum,
       ROUND(SQRT(AVG(c * c) - AVG(c) * AVG(c)), 6) AS std_lum
FROM bx GROUP BY doc_id, frame_idx""",
)
def video_mjpeg_stats_q(spark, sf_dir):
    """REAL compressed-container video decode through the engine: a
    4-frame Motion-JPEG AVI per doc — each 16x16 frame is four 8x8
    blocks of constant luma c(doc, frame, block) = (doc*11 + frame*37
    + block*53) % 240 + 8 — is RIFF-encoded inside the executors (each
    frame a complete baseline JPEG), then frame-sampled (every 2nd)
    and Huffman+IDCT-decoded back by ``video_frame_stats``'s container
    sniff. At quant step 8 a constant block's only nonzero coefficient
    is DC = 8·(c−128), which quantizes LOSSLESSLY, so the decoded
    pixels equal the generator's colors exactly and the oracle replays
    the per-frame stats symbolically from the color formula — a hash
    match proves JPEG encode → AVI mux → RIFF walk → JPEG decode →
    reduce, end-to-end."""
    import numpy as np

    # the color formula cycles in doc_id mod 240, so whole payloads
    # repeat — memoize per residue (≤240 pure-Python JPEG encodes per
    # task instead of one per doc)
    memo: dict = {}

    def avi(did):
        key = did % 240
        if key not in memo:
            frames = np.empty((4, 16, 16), dtype=np.uint8)
            for f in range(4):
                for blk in range(4):
                    c = (key * 11 + f * 37 + blk * 53) % 240 + 8
                    by, bx = divmod(blk, 2)
                    frames[f, by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = c
            memo[key] = MM.encode_avi_mjpeg(frames, quant=8)
        return memo[key]

    stats = MM.video_frame_stats(_payload_docs(spark, sf_dir, avi), every=2)
    return stats.select(
        "doc_id",
        "frame_idx",
        F.round("mean_lum", 6).alias("mean_lum"),
        F.round("std_lum", 6).alias("std_lum"),
    )


@query(
    "image_resize_stats",
    """
WITH px AS (
  SELECT d.doc_id,
         CAST(i // 8 AS BIGINT) AS y,
         CAST(i % 8 AS BIGINT) AS x,
         -- nearest-neighbor replay: out (y,x) reads src (2y, 2x) of the
         -- 8x16 source image whose pixel j is (doc_id*7 + j) % 256
         CAST((d.doc_id * 7 + (2 * (i // 8)) * 16 + 2 * (i % 8)) % 256 AS DOUBLE) AS v
  FROM documents d, (SELECT unnest(range(32)) AS i)
)
SELECT doc_id,
       CAST(8 AS INT) AS width,
       CAST(4 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       ROUND(AVG(v), 6) AS mean_lum,
       ROUND(SQRT(AVG(v * v) - AVG(v) * AVG(v)), 6) AS std_lum
FROM px
GROUP BY doc_id""",
)
def image_resize_stats(spark, sf_dir):
    """REAL resize through the engine: the same deterministic 8x16 PNG
    per doc as ``image_decode_stats``, pushed through
    ``multimodal.image_resize`` (decode -> nearest-neighbor 8x16 -> 4x8
    -> PNG re-encode) and then ``image_features`` on the RESIZED
    payloads. The oracle replays the nearest-neighbor index mapping
    symbolically (out (y,x) <- src (2y, 2x)), so a hash match proves
    decode -> resample -> encode -> decode -> reduce end-to-end."""
    resized = MM.image_resize(_payload_docs(spark, sf_dir, _gradient_png), out_w=8, out_h=4)
    feats = MM.image_features(resized)
    return feats.select(
        "doc_id",
        "width",
        "height",
        "channels",
        F.round("mean_lum", 6).alias("mean_lum"),
        F.round("std_lum", 6).alias("std_lum"),
    )


@query(
    "audio_spectral_stats",
    """
SELECT doc_id,
       CAST(256 AS BIGINT) AS n_samples,
       CAST(1 AS INT) AS channels,
       CAST(doc_id % 100 + 5 AS INT) AS dominant_bin
FROM documents""",
)
def audio_spectral_stats(spark, sf_dir):
    """REAL audio DSP through the engine: a deterministic 256-sample
    PCM16 sine at integer bin k = doc_id % 100 + 5 is WAV-encoded on
    the executors (``multimodal.encode_wav``), then ``audio_spectral``
    decodes it and takes the dominant rFFT bin — which for a pure
    integer-bin tone is exactly k (the oracle replays k symbolically,
    so a hash match proves WAV encode -> parse -> FFT end-to-end)."""
    import numpy as np

    def wav(did):
        i = np.arange(256, dtype=np.float64)
        k = did % 100 + 5
        return MM.encode_wav((10000.0 * np.sin(2.0 * np.pi * k * i / 256.0)).astype(np.int16))

    return MM.audio_spectral(_payload_docs(spark, sf_dir, wav))


@query(
    "image_phash_pairs",
    """
WITH c AS (SELECT doc_id, doc_id % 250 AS cls FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM c a JOIN c b ON a.cls = b.cls AND a.doc_id < b.doc_id""",
)
def image_phash_pairs(spark, sf_dir):
    """Image-level perceptual dedup end-to-end: a deterministic 24x32
    image per doc (pixel formula keyed on doc_id % 250; the 250 classes
    give 250 distinct hashes in exact arithmetic — no class has
    constant rows, whose median-sign hashes coincide) is PNG-encoded
    executor-side;
    ``multimodal.phash_dup_pairs`` decodes, computes the 32x32-DCT
    perceptual hash, and equi-joins on it. The oracle lists same-class
    pairs symbolically — a hash match proves decode -> resample -> DCT
    -> bit-pack -> join finds exactly the true duplicate pairs (and no
    false ones) at any sf."""

    def png(did):
        return MM.encode_png(_phash_fixture_image(did % 250))

    return MM.phash_dup_pairs(_payload_docs(spark, sf_dir, png)).select("doc_a", "doc_b")


def _phash_fixture_image(cls: int):
    """The 24x32 grayscale image of ``image_phash_pairs`` class ``cls``:
    pixel i (row r = i // 32) is
    ``((cls·31 + 7)·i + cls² + r²·(2·cls + 1)) % 256``. The row term
    keeps every class's rows distinct."""
    import numpy as np

    i = np.arange(24 * 32, dtype=np.int64)
    r = i // 32
    px = (cls * 31 + 7) * i + cls * cls + r * r * (2 * cls + 1)
    return (px % 256).astype(np.uint8).reshape(24, 32)


@query(
    "frame_offsets",
    """
SELECT doc_id, unnest(range(0, CAST(greatest(octet_length(encode(text)), 1) AS BIGINT), 1024)) AS frame_offset
FROM documents""",
)
def frame_offsets(spark, sf_dir):
    """Frame-sampling offset explosion (video frame-sample analog)."""
    return MM.frame_sample(MM.with_payload(_docs(spark, sf_dir)), every_n_bytes=1024)


@query(
    "corpus_report",
    _TOKS
    + """
, st AS (
  SELECT d.doc_id, d.source, d.lang,
         len(t.t) AS n_tokens,
         CAST(len(list_filter(t.t, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
           / len(t.t) AS sw
  FROM documents d JOIN toks t USING (doc_id)
),
dup AS (
  SELECT md5(text) AS h, count(*) AS copies FROM documents GROUP BY md5(text)
),
dd AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN p.copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM documents d JOIN dup p ON md5(d.text) = p.h
  GROUP BY d.source
)
SELECT s.source,
       any_value(dd.n_docs) AS n_docs,
       any_value(dd.n_dup_docs) AS n_dup_docs,
       avg(s.n_tokens) AS avg_tokens,
       avg(s.sw) AS avg_stopword_ratio,
       CAST(count(DISTINCT s.lang) AS BIGINT) AS n_langs
FROM st s JOIN dd ON s.source = dd.source
GROUP BY s.source""",
)
def corpus_report(spark, sf_dir):
    """Corpus curation report per source: sizes, exact-dup incidence,
    token stats, language spread — the summary table a training-data
    pipeline publishes after each ingest."""
    docs = _docs(spark, sf_dir)
    st = docs.select(
        "doc_id",
        "source",
        "lang",
        TX.token_count().alias("n_tokens"),
        TX.stopword_ratio().alias("sw"),
    )
    dup = docs.groupBy(F.md5("text").alias("h")).agg(F.count("*").alias("copies"))
    dd = (
        docs.withColumn("h", F.md5("text"))
        .join(F.broadcast(dup), "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).cast("long").alias("n_dup_docs"),
        )
    )
    return (
        st.join(F.broadcast(dd), "source")
        .groupBy("source")
        .agg(
            F.any_value("n_docs").alias("n_docs"),
            F.any_value("n_dup_docs").alias("n_dup_docs"),
            F.avg("n_tokens").alias("avg_tokens"),
            F.avg("sw").alias("avg_stopword_ratio"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


@query(
    "ann_ivf",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
assign AS (
  SELECT e.vec_id, e.v, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, c.cv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.cid) AS rk
  FROM e, cent c
),
buckets AS (SELECT vec_id, v, cid FROM assign WHERE rk = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cid FROM buckets WHERE vec_id < 10),
s AS (
  SELECT q.query_id, b.vec_id AS cand_id,
         list_dot_product(q.qv, b.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
  FROM q JOIN buckets b ON q.cid = b.cid AND q.query_id <> b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank FROM s)
SELECT query_id, cand_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5""",
)
def ann_ivf(spark, sf_dir):
    """IVF-style ANN (the coarse-quantizer scale path next to LSH):
    deterministic centroids (vec_ids 0..7),each vector assigned to its
    max-cosine centroid, queries search only their own bucket — the
    candidate set shrinks by the number of partitions. Exactness traded
    for the bucket restriction, like any IVF nprobe=1 search."""
    from pyspark.sql import Window as W

    # fixed-centroid assignment IS kmeans_assign with zero Lloyd
    # iterations (seeds = vec_ids 0..7, same max-cosine/lower-cid
    # tie-break): the driver-carried mode makes it a MAP-ONLY stage —
    # no n·k broadcast fan-out, no n-row argmax shuffle — and
    # keep_vector carries the decoded vector into the bucket join
    embs = _embs(spark, sf_dir)
    # one seed fetch (session-cached on the memoized frame) shared by
    # both assignment calls — the filtered query side is a derived frame
    # whose own cache would always miss
    seeds = SIM.kmeans_seeds(embs, k=8)
    buckets = SIM.kmeans_assign(
        embs, k=8, iters=0, dim=64, keep_vector=True, seeds=seeds
    ).select("vec_id", "v", F.col("cluster_id").alias("cid"))
    # the query side assigns only the FILTERED vectors: with fixed
    # centroids each assignment depends on the vector alone, and the
    # vec_id < 10 input filter keeps the seed set (ids < 8) intact —
    # identical cids, but the predicate reaches the parquet scan
    # instead of filtering after a full-corpus map
    q = SIM.kmeans_assign(
        embs.where(F.col("vec_id") < 10),
        k=8, iters=0, dim=64, keep_vector=True, seeds=seeds,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cluster_id").alias("cid"),
    )
    s = q.join(buckets, "cid").where(F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        SIM.cosine_batch(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return s.withColumn("rank", F.row_number().over(wk).cast("long")).where(F.col("rank") <= 5)


@query(
    "gopher_filter",
    _TOKS
    + """
SELECT d.doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_chars,
       CAST(len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
       CAST(len(list_intersect(list_distinct(t),
            ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits,
       CAST((length(d.text) - length(replace(d.text, '#', '')))
            + (length(d.text) - length(replace(d.text, '...', ''))) / 3
            + (length(d.text) - length(replace(d.text, '…', ''))) AS BIGINT) AS n_symbols,
       (len(t) >= 10 AND len(t) <= 100000
        AND 3 * len(t) <= list_sum(list_transform(t, x -> length(x)))
        AND list_sum(list_transform(t, x -> length(x))) <= 10 * len(t)
        AND 10 * ((length(d.text) - length(replace(d.text, '#', '')))
                  + (length(d.text) - length(replace(d.text, '...', ''))) / 3
                  + (length(d.text) - length(replace(d.text, '…', '')))) <= len(t)
        AND 5 * len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) >= 4 * len(t)
        AND len(list_intersect(list_distinct(t),
                ['the','be','to','of','and','that','have','with'])) >= 2) AS keep
FROM documents d JOIN toks USING (doc_id)""",
)
def gopher_filter_q(spark, sf_dir):
    """Gopher quality rules (Rae et al. 2021) as independent per-doc
    signals + keep decision — the third standard curation filter next
    to c4_filter and quality_score. Every ratio threshold is an exact
    integer cross-multiplication, so the engines agree bit-for-bit."""
    from ..operators import corpus as CP

    return CP.gopher_signals(_docs(spark, sf_dir))


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled-CTE replay of bpe_train: iteration i = pair-count CTE +
    top-1 CTE + merge CTE. The merge is the same symbol-aligned string
    fold the Spark side uses (list_reduce with a string accumulator —
    see bpe_train's docstring for why plain replace() is wrong)."""
    parts = [
        _TOKS,
        """, wc AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(t) AS token FROM toks)
  WHERE token != '' AND NOT contains(token, chr(31))
  GROUP BY token
), v0 AS (
  SELECT token, cnt,
         array_to_string(string_split(token, ''), chr(31)) AS st
  FROM wc
)""",
    ]
    for i in range(n_merges):
        parts.append(f""", p{i} AS (
  SELECT pp.l AS l, pp.r AS r, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(range(1, len(sy)),
        j -> struct_pack(l := sy[CAST(j AS INT)], r := sy[CAST(j AS INT) + 1]))) AS pp
    FROM (SELECT cnt, string_split(st, chr(31)) AS sy FROM v{i})
  ) GROUP BY pp.l, pp.r
), m{i} AS MATERIALIZED (
  SELECT l, r, c FROM p{i} ORDER BY c DESC, l, r LIMIT 1
), v{i + 1} AS MATERIALIZED (
  SELECT token, cnt,
         substr(list_reduce(
           list_prepend('', string_split(st, chr(31))),
           (acc, x) -> CASE WHEN x = m.r AND ends_with(acc, chr(31) || m.l)
                       THEN acc || x ELSE acc || chr(31) || x END), 2) AS st
  FROM v{i}, m{i} m
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, l AS lhs, r AS rhs, "
        f"CAST(c AS BIGINT) AS pair_count FROM m{i}"
        for i in range(n_merges)
    )
    return "".join(parts) + "\n" + sel


@query("bpe_train", _bpe_oracle_sql(10))
def bpe_train_q(spark, sf_dir):
    """BPE tokenizer training, 10 merges over the corpus word-count
    table (Sennrich et al. 2016). The oracle replays the identical
    split → adjacent-pair-count → top-1 (count DESC, pair ASC) →
    non-overlapping replace chain as 10 unrolled CTE stages, so the
    merge table matches byte-for-byte."""
    from ..operators import corpus as CP

    return CP.bpe_train(_docs(spark, sf_dir), n_merges=10)



def _bpe_segment_oracle_sql(n_merges: int) -> str:
    """bpe_train's CTE stages (for m0..m{n-1}) + a per-doc application:
    the same chained symbol-aligned merge folds over every word. The
    merge scalars hoist into one cross-joined row (`mall`) because
    DuckDB lambdas cannot contain subqueries — outer-row COLUMNS are
    fine inside a lambda."""
    train = _bpe_oracle_sql(n_merges)
    with_part = train[: train.rindex("\nSELECT CAST(0 AS BIGINT)")]
    mall = ", mall AS MATERIALIZED (SELECT " + ", ".join(
        f"(SELECT l FROM m{i}) AS l{i}, (SELECT r FROM m{i}) AS r{i}"
        for i in range(n_merges)
    ) + ")"
    expr = "array_to_string(string_split(w, ''), chr(31))"
    for i in range(n_merges):
        expr = (
            f"substr(list_reduce(list_prepend('', string_split({expr}, chr(31))), "
            f"(a{i}, x{i}) -> CASE WHEN x{i} = r{i} AND ends_with(a{i}, chr(31) || l{i}) "
            f"THEN a{i} || x{i} ELSE a{i} || chr(31) || x{i} END), 2)"
        )
    return (
        with_part
        + mall
        + f"""
, seg AS (
  SELECT doc_id,
         list_transform(
           list_filter(t, w -> w != '' AND NOT contains(w, chr(31))),
           w -> {expr}) AS sts
  FROM toks, mall
)
SELECT doc_id,
       CAST(coalesce(list_sum(list_transform(sts, x -> len(string_split(x, chr(31))))), 0)
            AS BIGINT) AS n_bpe_tokens,
       md5(array_to_string(
             list_transform(sts, x -> array_to_string(string_split(x, chr(31)), ' ')),
             ' | ')) AS seg_md5
FROM seg"""
    )


@query("bpe_segment", _bpe_segment_oracle_sql(10))
def bpe_segment_q(spark, sf_dir):
    """Train 10 BPE merges on the corpus, then segment the SAME corpus
    with them: per doc the BPE token count and an md5 fingerprint of
    the full segmentation. The merge table collects to the driver (10
    scalar pairs — sanctioned config) and applies as a chained
    replace projection; the oracle replays training AND application in
    one unrolled CTE chain, so a hash match proves the whole
    train → apply loop end-to-end."""
    from ..operators import corpus as CP

    merges = [
        (r["lhs"], r["rhs"])
        for r in CP.bpe_train(_docs(spark, sf_dir), n_merges=10).collect()
    ]
    docs = _docs(spark, sf_dir)
    # the chained merge folds are CPU-bound per row
    if parquet_rows_below(f"{sf_dir}/documents.parquet", SMALL_CORPUS_DOCS):
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return CP.bpe_apply(docs, merges)



@query(
    "embedding_covariance",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id,
             list_transform(v, x -> CAST(floor(x * 1000000.0e0 + 0.5e0) AS BIGINT)) AS q
      FROM e),
x AS (SELECT vec_id,
             CAST(unnest(range(len(q))) AS INT) AS j,
             unnest(q) AS qv
      FROM q),
prods AS (
  SELECT a.j AS dim_j, b.j AS dim_k, SUM(a.qv * b.qv) AS sjk
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.j <= b.j
  GROUP BY a.j, b.j
),
sums AS (SELECT j, SUM(qv) AS sj FROM x GROUP BY j),
tot AS (SELECT COUNT(*) AS n FROM e)
SELECT p.dim_j, p.dim_k,
       ROUND((CAST(p.sjk AS DOUBLE) / n
              - (CAST(sa.sj AS DOUBLE) / n) * (CAST(sb.sj AS DOUBLE) / n))
             / 1000000000000.0e0, 6) + 0.0e0 AS cov
FROM prods p, tot,
     sums sa, sums sb
WHERE sa.j = p.dim_j AND sb.j = p.dim_k""",
)
def embedding_covariance_q(spark, sf_dir):
    """Exact d×d embedding covariance (1e-6-quantized int64 Gram
    partials, decimal fold, one terminal float expression) — the
    whitening/OPQ training input. The Arrow kernel's integer matmul
    and the oracle's pair-explode compute the SAME exact sums, so the
    2080 upper-triangle rows hash-match bit-for-bit. Both sides add
    +0.0 after rounding: IEEE -0.0 + 0.0 = +0.0, so a covariance that
    rounds to zero canonicalizes to the same sign bit in both engines
    (DuckDB ROUND preserves the sign of tiny negatives; Spark does
    not, so without the +0.0 a tiny negative covariance compares as
    -0.0 against +0.0)."""
    from ..operators import similarity as SIM

    out = SIM.embedding_covariance(_embs(spark, sf_dir))
    return out.select(
        "dim_j", "dim_k", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )


@query(
    "cm_token_freq",
    _TOKS
    + """
, tok AS (SELECT unnest(t) AS k FROM toks),
exact AS (SELECT k, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY k),
topk AS (SELECT * FROM exact ORDER BY exact_n DESC, k LIMIT 20),
cm AS (
  SELECT r, bucket, CAST(sum(n) AS BIGINT) AS cnt FROM (
    SELECT 0 AS r, xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024 AS bucket, exact_n AS n FROM exact
    UNION ALL SELECT 1 AS r, xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024 AS bucket, exact_n AS n FROM exact
    UNION ALL SELECT 2 AS r, xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024 AS bucket, exact_n AS n FROM exact
  ) GROUP BY r, bucket
)
SELECT t.k AS token, t.exact_n,
       least(c0.cnt, c1.cnt, c2.cnt) AS cm_est,
       least(c0.cnt, c1.cnt, c2.cnt) - t.exact_n AS overestimate
FROM topk t
JOIN cm c0 ON c0.r = 0 AND c0.bucket = xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c0|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024
JOIN cm c1 ON c1.r = 1 AND c1.bucket = xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c1|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024
JOIN cm c2 ON c2.r = 2 AND c2.bucket = xor((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647), ((((xor((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647), ((((xor(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007), list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(concat('c2|', CAST(t.k AS VARCHAR)), ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007) >> 16)) * 2246822519) & 2147483647)) >> 13)) * 3266489917) & 2147483647)) >> 16) % 1024""",
)
def cm_token_freq_q(spark, sf_dir):
    """Count-min sketch frequency audit over the corpus vocabulary: the
    exact top-20 tokens, each with its CM estimate (min over 3 hashed
    1024-counter rows) and the collision overestimate — the
    bounded-memory heavy-hitter primitive measured honestly (the
    lsh_recall_audit posture). Pure integers end to end: exact counts,
    exact counter sums, integer min — no float anywhere."""
    from ..operators import sketches as SK

    toks = _docs(spark, sf_dir).select(F.explode(TX.tokens("text")).alias("token"))
    return SK.cm_freq_audit(toks, "token", top=20)


@query(
    "hybrid_search",
    _TOKS
    + """
, th AS (SELECT doc_id AS doc, unnest(t) AS h FROM toks),
tf AS (SELECT doc, h, CAST(count(*) AS BIGINT) AS tf FROM th GROUP BY doc, h),
dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY h),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
w AS (
  SELECT tf.doc, tf.h,
         CAST(floor(1000.0 * tf.tf * nn.n_total / dfq.df + 0.5) AS BIGINT) AS wq
  FROM tf JOIN dfq USING (h) CROSS JOIN nn
),
nrm AS (SELECT doc, sum(CAST(wq AS HUGEINT) * wq) AS n2 FROM w GROUP BY doc),
qw AS (SELECT doc AS query_id, h, wq AS qwq FROM w WHERE doc < 5),
dots AS (
  SELECT qw.query_id, w.doc AS cand_id, sum(CAST(w.wq AS HUGEINT) * qw.qwq) AS dot
  FROM w JOIN qw USING (h) WHERE w.doc <> qw.query_id
  GROUP BY 1, 2
),
lex0 AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cs
  FROM dots d
  JOIN nrm nq ON nq.doc = d.query_id
  JOIN nrm nc ON nc.doc = d.cand_id
),
lexr AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS r
  FROM lex0 QUALIFY r <= 20
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
sem0 AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cs
  FROM q JOIN e ON e.vec_id <> q.query_id
),
semr AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, cand_id) AS r
  FROM sem0 QUALIFY r <= 20
),
j AS (
  SELECT coalesce(l.query_id, s.query_id) AS qq,
         coalesce(l.cand_id, s.cand_id) AS d,
         coalesce(1.0 / (60.0 + CAST(l.r AS DOUBLE)), 0.0)
           + coalesce(1.0 / (60.0 + CAST(s.r AS DOUBLE)), 0.0) AS rrf
  FROM lexr l
  FULL OUTER JOIN semr s ON l.query_id = s.query_id AND l.cand_id = s.cand_id
)
SELECT qq AS query_id, d AS cand_id, rrf,
       CAST(row_number() OVER (PARTITION BY qq ORDER BY rrf DESC, d) AS BIGINT) AS rank
FROM j QUALIFY rank <= 10""",
)
def hybrid_search_q(spark, sf_dir):
    """Hybrid retrieval (the RAG-corpus classic): lexical TF·IDF
    more-like-this ranks fused with semantic embedding-cosine ranks by
    reciprocal-rank fusion — score-free combination of incomparable
    retrievers (Cormack et al. 2009). Both sides rank on bit-identical
    doubles with integer-rank output; the fusion is one fixed float
    expression over integer ranks, so the fused ordering is
    deterministic end to end. Five query ids, 20 candidates per side,
    top-10 fused."""
    from ..operators import retrieval as RT
    from ..operators import similarity as SIM

    qids = [0, 1, 2, 3, 4]
    lex = RT.tfidf_topk(_docs(spark, sf_dir), qids, k=20)
    sem = SIM.ann_brute_topk(_embs(spark, sf_dir), qids, k=20)
    return RT.rrf_fuse(lex, sem, k=10)



@query(
    "tfidf_index_topk",
    _TOKS
    + """
, th AS (SELECT doc_id AS doc, unnest(t) AS h FROM toks),
tf AS (SELECT doc, h, CAST(count(*) AS BIGINT) AS tf FROM th GROUP BY doc, h),
dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY h),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
w AS (
  SELECT tf.doc, tf.h,
         CAST(floor(1000.0 * tf.tf * nn.n_total / dfq.df + 0.5) AS BIGINT) AS wq
  FROM tf JOIN dfq USING (h) CROSS JOIN nn
),
nrm AS (SELECT doc, sum(CAST(wq AS HUGEINT) * wq) AS n2 FROM w GROUP BY doc),
qw AS (SELECT doc AS query_id, h, wq AS qwq FROM w WHERE doc < 5),
dots AS (
  SELECT qw.query_id, w.doc AS cand_id, sum(CAST(w.wq AS HUGEINT) * qw.qwq) AS dot
  FROM w JOIN qw USING (h) WHERE w.doc <> qw.query_id
  GROUP BY 1, 2
),
lex0 AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.dot AS DOUBLE)
           / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos_sim
  FROM dots d
  JOIN nrm nq ON nq.doc = d.query_id
  JOIN nrm nc ON nc.doc = d.cand_id
)
SELECT query_id, cand_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rank
FROM lex0 QUALIFY rank <= 10""",
)
def tfidf_index_topk_q(spark, sf_dir):
    """The materialized retrieval index, oracle-gated end-to-end (the
    ``store_upsert`` posture applied to retrieval): persist the integer
    TF-IDF weight table once (``materialize_lexical_weights``), read it
    back, and rank query-vs-corpus cosine top-k from the STORED
    weights. The oracle replays the inline corpus build, so the driver
    gate proves index-served == inline-built value-for-value — the
    production query path (skip the corpus tokenize at query time) is
    what gets verified, not a replica of it. IO-bound like
    store_upsert: the cost is the one-off index write + read-back the
    SQL oracle does not perform."""
    import os
    import tempfile

    from ..operators import retrieval as RT

    docs = _docs(spark, sf_dir)
    # deterministic per-process path (see store_meta_sidecar note)
    path = os.path.join(tempfile.gettempdir(), f"fmk_lexw_{os.getpid()}")
    RT.materialize_lexical_weights(docs, path)
    w = RT.read_lexical_weights(spark, path)
    return RT.tfidf_topk(docs, [0, 1, 2, 3, 4], k=10, weights=w)


@query(
    "embedding_outliers",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qq AS (SELECT vec_id, v,
              list_transform(v, x -> CAST(floor(x * 1000000.0e0 + 0.5e0) AS BIGINT)) AS q
       FROM e),
x AS (SELECT vec_id,
             CAST(unnest(range(len(q))) AS INT) AS j,
             unnest(q) AS qv
      FROM qq),
st AS (SELECT j, sum(CAST(qv AS HUGEINT)) AS sq,
              sum(CAST(qv AS HUGEINT) * qv) AS sq2,
              CAST(count(*) AS BIGINT) AS n
       FROM x GROUP BY j),
ms AS (SELECT j,
              CAST(sq AS DOUBLE) / (n * 1000000.0e0) AS mu,
              CAST(n * sq2 - sq * sq AS DOUBLE)
                / ((CAST(n AS DOUBLE) * n) * 1000000000000.0e0) AS var
       FROM st),
t AS (
  SELECT qq.vec_id,
         CASE WHEN ms.var > 0.0e0
              THEN CAST(floor(least(
                     ((qq.v[ms.j + 1] - ms.mu) * (qq.v[ms.j + 1] - ms.mu))
                       / ms.var * 1000000000.0e0,
                     1000000000000000.0e0) + 0.5e0) AS BIGINT)
              ELSE 0 END AS tq
  FROM qq CROSS JOIN ms
),
sc AS (SELECT vec_id, sum(tq) AS score_q FROM t GROUP BY vec_id),
top AS (SELECT * FROM sc ORDER BY score_q DESC, vec_id LIMIT 20)
SELECT vec_id,
       CAST(score_q AS DOUBLE) / 1000000000.0e0 AS score,
       CAST(row_number() OVER (ORDER BY score_q DESC, vec_id) AS BIGINT) AS rank
FROM top""",
)
def embedding_outliers_q(spark, sf_dir):
    """Embedding QC: top-20 outlier vectors by diagonal Mahalanobis
    distance (Σ (x−μ)²/σ² over positive-variance dims) — the corpus
    hygiene screen before ANN/cluster stages. Per-dim stats from exact
    quantized-int sums; per-element z² terms (identical doubles in both
    engines) quantize to 1e9 units before the per-vector sum, so the
    score is an exact integer in any aggregation order and the ranking
    never touches float fold order."""
    from ..operators import similarity as SIM

    # dim=64 (fixed-width embeddings table) skips the one-row probe
    # job at plan-build time (the kmeans_clusters posture)
    return SIM.embedding_outliers(_embs(spark, sf_dir), k=20, dim=64)


@query(
    "weighted_sample",
    _TOKS
    + """
, w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS w FROM toks WHERE len(t) > 0),
cum AS (
  SELECT doc_id, w,
         SUM(w) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS hi
  FROM w
),
tot AS (SELECT SUM(w) AS W FROM w),
draws AS (
  SELECT CAST(j AS BIGINT) AS draw_id,
         ((j + 7) * 2654435761 + 7 * 40503)
           % 2305843009213693951 % (SELECT W FROM tot) AS p
  FROM (SELECT unnest(range(64)) AS j) jj
)
SELECT d.draw_id, c.doc_id, CAST(c.w AS BIGINT) AS weight
FROM draws d JOIN cum c ON d.p >= c.hi - c.w AND d.p < c.hi""",
)
def weighted_sample_q(spark, sf_dir):
    """Exact weighted sampling with replacement (64 draws, weight =
    whitespace token count): each draw inverts the integer cumulative
    weight function at a deterministic avalanche point, so both
    engines select byte-identical (draw, doc) rows. The oracle uses a
    plain global window cumsum; the Spark side computes the SAME
    integer prefix sums via the bounded chunk-axis form — value
    equality across the two shapes is the point of the check."""
    from ..operators import sampling as SP

    return SP.weighted_sample(_docs(spark, sf_dir), k=64)


@query(
    "gopher_repetition",
    _TOKS
    + """
, base AS (
  SELECT doc_id,
         list_transform(t, tok -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(tok, ''), ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % 1000000007)) AS th,
         list_transform(t, x -> CAST(length(x) AS BIGINT)) AS lens,
         CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
              AS BIGINT) AS total_chars
  FROM toks
),
grams AS (
  SELECT doc_id, CAST(nn.n AS INT) AS n,
         unnest(list_transform(
           range(1, greatest(len(th) - nn.n + 1, 0) + 1),
           i -> struct_pack(
             h := list_reduce(th[CAST(i AS INT) : CAST(i + nn.n - 1 AS INT)],
                              (a, b) -> (a * 31 + b) % 1000000007),
             c := CAST(list_sum(lens[CAST(i AS INT) : CAST(i + nn.n - 1 AS INT)])
                       AS BIGINT)
           ))) AS hc
  FROM base, (SELECT unnest(range(2, 11)) AS n) nn
),
cnts AS (
  SELECT doc_id, n, hc.h AS h, hc.c AS c, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, n, hc.h, hc.c
),
per_n AS (
  SELECT doc_id, n, top_cov, dup_cov FROM (
    SELECT doc_id, n,
           CAST(CASE WHEN cnt >= 2 THEN cnt * c ELSE 0 END AS BIGINT) AS top_cov,
           CAST(SUM(CASE WHEN cnt >= 2 THEN cnt * c ELSE 0 END)
                OVER (PARTITION BY doc_id, n) AS BIGINT) AS dup_cov,
           row_number() OVER (PARTITION BY doc_id, n
                              ORDER BY cnt DESC, h ASC, c ASC) AS rk
    FROM cnts
  ) WHERE rk = 1
),
wide AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 2 THEN top_cov END) AS t2,
         MAX(CASE WHEN n = 3 THEN top_cov END) AS t3,
         MAX(CASE WHEN n = 4 THEN top_cov END) AS t4,
         MAX(CASE WHEN n = 5 THEN dup_cov END) AS d5,
         MAX(CASE WHEN n = 6 THEN dup_cov END) AS d6,
         MAX(CASE WHEN n = 7 THEN dup_cov END) AS d7,
         MAX(CASE WHEN n = 8 THEN dup_cov END) AS d8,
         MAX(CASE WHEN n = 9 THEN dup_cov END) AS d9,
         MAX(CASE WHEN n = 10 THEN dup_cov END) AS d10
  FROM per_n GROUP BY doc_id
)
SELECT b.doc_id, b.total_chars,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(t2, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS top_2gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(t3, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS top_3gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(t4, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS top_4gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d5, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_5gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d6, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_6gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d7, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_7gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d8, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_8gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d9, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_9gram_share,
       ROUND(CASE WHEN b.total_chars > 0
             THEN CAST(coalesce(d10, 0) AS DOUBLE) / b.total_chars ELSE 0 END, 6)
         AS dup_10gram_share,
       (100 * coalesce(t2, 0) <= 20 * b.total_chars
        AND 100 * coalesce(t3, 0) <= 18 * b.total_chars
        AND 100 * coalesce(t4, 0) <= 16 * b.total_chars
        AND 100 * coalesce(d5, 0) <= 15 * b.total_chars
        AND 100 * coalesce(d6, 0) <= 14 * b.total_chars
        AND 100 * coalesce(d7, 0) <= 13 * b.total_chars
        AND 100 * coalesce(d8, 0) <= 12 * b.total_chars
        AND 100 * coalesce(d9, 0) <= 11 * b.total_chars
        AND 100 * coalesce(d10, 0) <= 10 * b.total_chars) AS keep
FROM base b LEFT JOIN wide USING (doc_id)""",
)
def gopher_repetition_q(spark, sf_dir):
    """Gopher REPETITION rules (Rae et al. 2021 Table A1 — the other
    half of gopher_filter): top n-gram character share for n=2..4 and
    duplicated n-gram character share for n=5..10, plus the combined
    keep decision. Shares round to 6 digits; the keep decision is
    exact-integer on both engines."""
    from ..operators import corpus as CP

    par = (
        spark.sparkContext.defaultParallelism
        if parquet_rows_below(f"{sf_dir}/documents.parquet", SMALL_CORPUS_DOCS)
        else None
    )
    out = CP.gopher_repetition(_docs(spark, sf_dir), parallelism=par)
    share_cols = [c for c in out.columns if c.endswith("gram_share")]
    return out.select(
        "doc_id",
        "total_chars",
        *[F.round(c, 6).alias(c) for c in share_cols],
        "keep",
    )


@query(
    "ann_pq_topk",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT CAST(js.j AS INT) AS j, CAST(s.vec_id AS INT) AS code,
         s.v[CAST(js.j*8+1 AS INT) : CAST(js.j*8+8 AS INT)] AS cv
  FROM (SELECT vec_id, v FROM e WHERE vec_id < 16) s,
       (SELECT unnest(range(8)) AS j) js
),
encd AS (
  SELECT e.vec_id, cb.j, cb.code, CAST(floor(list_dot_product(list_transform(range(1, 9), i -> e.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)]), list_transform(range(1, 9), i -> e.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)])) * 1000000.0e0 + 0.5e0) AS BIGINT) AS dq
  FROM e, cb
),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dq, code) AS rk
    FROM encd
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, cb.j, cb.code, CAST(floor(list_dot_product(list_transform(range(1, 9), i -> q.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)]), list_transform(range(1, 9), i -> q.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)])) * 1000000.0e0 + 0.5e0) AS BIGINT) AS dq
  FROM (SELECT vec_id, v FROM e WHERE vec_id < 10) q, cb
),
s AS (
  SELECT lut.query_id, enc.vec_id AS cand_id, SUM(lut.dq) AS dqs
  FROM enc JOIN lut ON enc.j = lut.j AND enc.code = lut.code
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, cand_id, CAST(dqs AS DOUBLE) / 1000000.0e0 AS adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dqs, cand_id) AS rank
  FROM s WHERE query_id <> cand_id
)
SELECT query_id, cand_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",
)
def ann_pq_topk_q(spark, sf_dir):
    """Product-quantization ANN (Jégou et al. 2011 — the FAISS IVF-PQ
    memory-compression path): each vector encodes to m=8 one-byte-class
    subspace codes against sampled codebooks (subvectors of vec_ids
    0..15, the deterministic iters=0 form), queries score the CODES via
    an additive distance table — the corpus crosses the plan as m codes
    per vector instead of dim floats, which is what makes 100 TB of
    embeddings searchable. Partial distances are 1e-6-quantized int64
    (sequential diff² folds both engines), so the ADC sum is
    order-independent and the ranking matches the oracle exactly."""
    return SIM.ann_pq_topk(_embs(spark, sf_dir), n_queries=10, k=5, m=8, ksub=16)


@query(
    "ann_ivf_pq",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, c.cv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.cid) AS rk
  FROM e, cent c
),
cells AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
probe AS (SELECT vec_id AS query_id, cid FROM asg WHERE vec_id < 10 AND rk <= 2),
cb AS (
  SELECT CAST(js.j AS INT) AS j, CAST(s.vec_id AS INT) AS code,
         s.v[CAST(js.j*8+1 AS INT) : CAST(js.j*8+8 AS INT)] AS cv
  FROM (SELECT vec_id, v FROM e WHERE vec_id < 16) s,
       (SELECT unnest(range(8)) AS j) js
),
encd AS (
  SELECT e.vec_id, cb.j, cb.code, CAST(floor(list_dot_product(list_transform(range(1, 9), i -> e.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)]), list_transform(range(1, 9), i -> e.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)])) * 1000000.0e0 + 0.5e0) AS BIGINT) AS dq
  FROM e, cb
),
enc AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY dq, code) AS rk
    FROM encd
  ) WHERE rk = 1
),
lut AS (
  SELECT q.vec_id AS query_id, cb.j, cb.code, CAST(floor(list_dot_product(list_transform(range(1, 9), i -> q.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)]), list_transform(range(1, 9), i -> q.v[CAST(cb.j*8 + i AS INT)] - cb.cv[CAST(i AS INT)])) * 1000000.0e0 + 0.5e0) AS BIGINT) AS dq
  FROM (SELECT vec_id, v FROM e WHERE vec_id < 10) q, cb
),
s AS (
  SELECT p.query_id, enc.vec_id AS cand_id, SUM(lut.dq) AS dqs
  FROM enc
  JOIN cells ON enc.vec_id = cells.vec_id
  JOIN probe p ON p.cid = cells.cid
  JOIN lut ON enc.j = lut.j AND enc.code = lut.code AND lut.query_id = p.query_id
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, cand_id, CAST(dqs AS DOUBLE) / 1000000.0e0 AS adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dqs, cand_id) AS rank
  FROM s WHERE query_id <> cand_id
)
SELECT query_id, cand_id, adc_dist, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",
)
def ann_ivf_pq_q(spark, sf_dir):
    """IVF×PQ composed ANN (the full FAISS IVFPQ search, Jégou et al.
    2011 §IV) — the coarse IVF cells and the PQ codes composed into one
    index: the corpus builds it in ONE map-only pass
    (coarse cell + m PQ codes together), each query probes its
    nprobe=2 nearest of 8 coarse cells, and ONLY those cells'
    candidates are ADC-scored (a JVM fold over the packed broadcast
    LUT — no explode, no per-code shuffle). The scored set shrinks
    ~nprobe/k_coarse-fold vs ann_pq_topk's full ADC scan, which is
    what makes the compressed index SEARCHABLE, not just storable, at
    100 TB."""
    return SIM.ann_ivf_pq(
        _embs(spark, sf_dir), n_queries=10, k=5, k_coarse=8, nprobe=2,
        m=8, ksub=16,
    )


@query(
    "token_counts",
    r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text,
           '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+'
           )) AS BIGINT) AS bpe_tokens
FROM documents""",
)
def token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish token counts (the LLM budget estimator;
    GPT-2-style pre-tokenizer approximation, identical regex semantics
    in Java regex and RE2)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.token_count().alias("ws_tokens"),
        TX.bpe_token_count().alias("bpe_tokens"),
    )


# --- sampling / packing / cluster dedup -------------------------------------

_PH_TEXT = _PH.format(e="text")


@query(
    "stratified_sample",
    f"""
WITH h AS (SELECT doc_id, lang, {_PH_TEXT} AS sample_hash FROM documents),
rk AS (
  SELECT doc_id, lang, sample_hash,
         row_number() OVER (PARTITION BY lang ORDER BY sample_hash, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang, sample_hash FROM rk WHERE rk <= 30""",
)
def stratified_sample_q(spark, sf_dir):
    """Deterministic content-keyed stratified sample: 30 docs per
    language, chosen by smallest (poly_hash(text), doc_id) — exact
    per-stratum counts, stable under resharding."""
    return SMP.stratified_sample(
        _docs(spark, sf_dir), n_per_stratum=30, strata_cols=["lang"]
    ).select("doc_id", "lang", "sample_hash")


@query(
    "hash_split",
    f"""
WITH h AS (SELECT doc_id, {_PH_TEXT} AS ph FROM documents)
SELECT doc_id,
       CASE WHEN ((ph * 2654435761) % 4294967296) * 1000 // 4294967296 < 100
            THEN 'test' ELSE 'train' END AS split
FROM h""",
)
def hash_split_q(spark, sf_dir):
    """Content-keyed train/test split (10% test): duplicate texts land
    on the same side, so exact dups can never straddle the split."""
    return SMP.hash_split(_docs(spark, sf_dir), test_permille=100).select(
        "doc_id", "split"
    )


_PACK_BUDGET = 256


@query(
    "sequence_packing",
    f"""
WITH RECURSIVE d AS MATERIALIZED (
  SELECT source AS grp, doc_id,
         CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS nt,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
rec AS (
  SELECT grp, doc_id, rn, nt,
         CAST(0 AS BIGINT) AS pack_id, nt AS cum
  FROM d WHERE rn = 1
  UNION ALL
  SELECT n.grp, n.doc_id, n.rn, n.nt,
         CASE WHEN rec.cum + n.nt > {_PACK_BUDGET} THEN rec.pack_id + 1 ELSE rec.pack_id END,
         CASE WHEN rec.cum + n.nt > {_PACK_BUDGET} THEN n.nt ELSE rec.cum + n.nt END
  FROM rec JOIN d n ON n.grp = rec.grp AND n.rn = rec.rn + 1
)
SELECT grp AS "group", doc_id, nt AS n_tokens, pack_id FROM rec""",
)
def sequence_packing_q(spark, sf_dir):
    """Greedy first-fit sequence packing per source (token budget 256):
    the training-sequence assembly step. Oracle = lockstep recursive
    replay per group (integer token counts -> engine-exact)."""
    return SMP.sequence_packing(_docs(spark, sf_dir), budget=_PACK_BUDGET)


@query(
    "dedup_clusters",
    _SHQ.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, sg AS (SELECT doc_id, sh, {_SIG.replace('hs', _HS)} AS sig FROM shq),
bk AS (
  SELECT doc_id, sh,
         unnest(list_transform(range(0, 4), b ->
           concat(CAST(b AS VARCHAR), ':',
                  array_to_string(list_slice(sig, CAST(b AS INT) * 4 + 1, CAST(b AS INT) * 4 + 4), '-')))) AS key
  FROM sg
),
prs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION ALL
  SELECT doc_b, doc_a FROM prs
),
reach AS (
  SELECT a, b AS r FROM edges
  UNION
  SELECT reach.a, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT a AS doc_id, least(a, min(r)) AS cluster_id FROM reach GROUP BY a)
SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comp c USING (doc_id)""",
)
def dedup_clusters_q(spark, sf_dir):
    """Connected components over MinHash-LSH near-dup pairs (threshold
    0.5) -> full corpus (doc_id, cluster_id) mapping; singletons map to
    themselves. Oracle = transitive closure via recursive UNION
    fixpoint. Below the 2M-edge crossover the components come
    from a driver union-find over the LIMIT-probed edge list
    (bit-identical, pinned); `dedup_clusters_star` below keeps the pure
    distributed O(log n) form as the at-scale measurement."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    return D.dedup_clusters(pairs, docs)


@query("dedup_clusters_star", ORACLES["dedup_clusters"])
def dedup_clusters_star_q(spark, sf_dir):
    """The same component mapping via alternating large-star/small-star
    rounds (``dedup.dedup_clusters_star``, Kiveris et al. SoCC'14):
    O(log n) rounds instead of diameter-many — the escalation for deep
    near-dup chains, verified against the identical recursive-closure
    oracle and a union-find ground truth (incl. a 300-link chain that
    exhausts min-label propagation's round cap)."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    return D.dedup_clusters_star(pairs, docs)


@query(
    "doc_quality_signals",
    _TOKS
    + """
, g AS (
  SELECT d.doc_id, d.text, t.t, greatest(len(t.t) - 2, 1) AS m,
         list_transform(range(1, greatest(len(t.t) - 2, 1) + 1),
                        i -> concat(t.t[i], ' ', t.t[i + 1], ' ', t.t[i + 2])) AS grams
  FROM documents d JOIN toks t USING (doc_id)
)
SELECT doc_id,
       CASE WHEN len(t) - 2 >= 1
            THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / m
            ELSE 0.0 END AS rep3,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text, '[0-9]{8,}')) AS BIGINT) AS n_long_nums
FROM g""",
)
def doc_quality_signals(spark, sf_dir):
    """Within-doc repetition (duplicated trigram ratio) + scrub-target
    pattern counts (emails/URLs/long digit runs) — the RefinedWeb-style
    quality/redaction signals as pure projections."""
    pii = TX.pii_counts()
    return _docs(spark, sf_dir).select(
        "doc_id",
        TX.repetition_ratio(n=3).alias("rep3"),
        *[c.alias(k) for k, c in pii.items()],
    )


@query(
    "decontamination",
    _SHQ
    + """
, bmk AS (SELECT DISTINCT unnest(sh) AS g FROM shq WHERE doc_id % 97 = 0),
e AS (SELECT doc_id, unnest(sh) AS g FROM shq WHERE doc_id % 97 <> 0)
SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM e JOIN bmk USING (g)
GROUP BY e.doc_id
HAVING count(*) >= 1""",
)
def decontamination_q(spark, sf_dir):
    """Benchmark decontamination: training docs (id % 97 != 0) sharing
    any token-trigram shingle with the held-out 'benchmark' slice
    (id % 97 == 0). Benchmark shingles broadcast; the corpus never
    self-joins."""
    docs = _docs(spark, sf_dir)
    bmk = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return D.decontaminate(train, bmk, min_shared=1)


@query(
    "decontamination_bloom",
    _SHQ
    + """
, bmk AS (SELECT DISTINCT unnest(sh) AS g FROM shq WHERE doc_id % 97 = 0),
e AS (SELECT doc_id, unnest(sh) AS g FROM shq WHERE doc_id % 97 <> 0)
SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM e JOIN bmk USING (g)
GROUP BY e.doc_id
HAVING count(*) >= 1""",
)
def decontamination_bloom_q(spark, sf_dir):
    """The same decontamination through a fixed-size Bloom sketch
    (``dedup.decontaminate_bloom``): the benchmark folds into a
    ``bloom_filter_agg`` binary (bounded bytes however large the
    benchmark), corpus shingles prefilter via ``might_contain``, and
    only survivors take the exact verify join — identical output to
    `decontamination` (same oracle), usable when the benchmark side is
    itself corpus-scale and cannot broadcast."""
    docs = _docs(spark, sf_dir)
    bmk = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return D.decontaminate_bloom(train, bmk, min_shared=1)


@query(
    "mixture_sample",
    f"""
WITH h AS (SELECT doc_id, source, {_PH_TEXT} AS ph FROM documents),
tw AS (
  SELECT doc_id, source, ph,
         CAST((CAST(substring(source, 4) AS INT) % 4) + 1 AS DOUBLE) AS w
  FROM h
),
grp AS (SELECT source, count(*) AS n, any_value(w) AS w FROM tw GROUP BY source),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn, CAST(sum(w) AS DOUBLE) AS ww FROM grp),
r AS (SELECT source, (w / ww) / (n / nn) AS ratio FROM grp, tot),
rm AS (SELECT max(ratio) AS rmax FROM r),
rates AS (SELECT source, ratio / rmax AS keep_rate FROM r, rm)
SELECT t.doc_id, t.source
FROM tw t JOIN rates USING (source)
WHERE CAST((t.ph * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0 < rates.keep_rate""",
)
def mixture_sample_q(spark, sf_dir):
    """Domain-mixture rebalancing (DoReMi/Pile-style source weighting):
    downsample each source toward a target weight ((src# % 4) + 1), the
    dominant source keeping rate 1.0 and nothing ever upsampled. The
    keep decision hashes the document text (avalanche bucket), so the
    drawn corpus is deterministic and reshard-stable; the arithmetic is
    exact-integer sums + IEEE division, so DuckDB reproduces it
    bit-for-bit."""
    docs = _docs(spark, sf_dir)
    w = ((F.substring("source", 4, 8).cast("int") % 4) + 1).cast("double")
    return SMP.mixture_sample(docs, w).select("doc_id", "source")


@query(
    "dup_spans",
    _SHQ
    + """
, e AS (SELECT doc_id AS doc, unnest(sh) AS g FROM shq),
dfc AS (SELECT g, count(*) AS n_docs FROM e GROUP BY g),
pd AS (
  SELECT doc, count(*) AS n_shingles,
         sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM e JOIN dfc USING (g) GROUP BY doc
)
SELECT d.doc_id,
       CAST(coalesce(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(pd.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN pd.n_shingles IS NOT NULL
            THEN CAST(pd.n_shared AS DOUBLE) / pd.n_shingles ELSE 0.0 END AS dup_frac
FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc""",
)
def dup_spans_q(spark, sf_dir):
    """Cross-document duplicated-span fraction per doc (the distributed
    suffix-array-dedup analog): share of a doc's distinct token
    trigrams that occur in any other document."""
    return D.dup_span_fraction(_docs(spark, sf_dir))


@query(
    "dup_span_ranges",
    _TOKS
    + """
, thq AS (SELECT doc_id, """
    + _TH
    + """ AS th FROM toks),
pl AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(th) - 2, 0) + 1),
           i -> ((((th[i] * 31 + th[i + 1]) % 1000000007) * 31 + th[i + 2]) % 1000000007)) AS gl
  FROM thq
),
pe AS (
  SELECT doc_id, unnest(gl) AS g, generate_subscripts(gl, 1) - 1 AS p FROM pl
),
dg AS (SELECT g FROM pe GROUP BY g HAVING min(doc_id) <> max(doc_id)),
dp AS (SELECT doc_id, p FROM pe WHERE g IN (SELECT g FROM dg)),
il AS (
  SELECT doc_id, p,
         CASE WHEN p > lag(p) OVER w + 3 THEN 1 ELSE 0 END AS nw
  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
ic AS (
  SELECT doc_id, p,
         SUM(nw) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS isl
  FROM il
)
SELECT doc_id, MIN(p) AS span_start, MAX(p) + 2 AS span_end,
       COUNT(*) AS n_grams
FROM ic GROUP BY doc_id, isl""",
)
def dup_span_ranges_q(spark, sf_dir):
    """Maximal cross-document duplicated token spans (the suffix-array-
    dedup output analog, Lee et al. 2021) — positional trigram hashes,
    one k-gram-key exchange to mark duplicated positions, per-doc
    gaps-and-islands merge. Integer arithmetic end-to-end."""
    out = D.dup_span_ranges(_docs(spark, sf_dir), k=3)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "n_grams",
    )


@query(
    "remove_dup_spans",
    _TOKS
    + """
, thq AS (SELECT doc_id, """
    + _TH
    + """ AS th FROM toks),
pl AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(th) - 2, 0) + 1),
           i -> ((((th[i] * 31 + th[i + 1]) % 1000000007) * 31 + th[i + 2]) % 1000000007)) AS gl
  FROM thq
),
pe AS (
  SELECT doc_id, unnest(gl) AS g, generate_subscripts(gl, 1) - 1 AS p FROM pl
),
dg AS (SELECT g FROM pe GROUP BY g HAVING min(doc_id) <> max(doc_id)),
dp AS (SELECT doc_id, p FROM pe WHERE g IN (SELECT g FROM dg)),
il AS (
  SELECT doc_id, p,
         CASE WHEN p > lag(p) OVER w + 3 THEN 1 ELSE 0 END AS nw
  FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)
),
ic AS (
  SELECT doc_id, p,
         SUM(nw) OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS isl
  FROM il
),
sp AS (SELECT doc_id, MIN(p) AS s0, MAX(p) + 2 AS e0 FROM ic GROUP BY doc_id, isl),
spl AS (SELECT doc_id, list(struct_pack(s := s0, e := e0)) AS sps FROM sp GROUP BY doc_id),
cl AS (
  SELECT d.doc_id, toks.t AS t, spl.sps
  FROM documents d JOIN toks USING (doc_id) LEFT JOIN spl USING (doc_id)
),
kept AS (
  SELECT doc_id, t,
         list_filter(t, (tok, i) ->
           len(list_filter(coalesce(sps, []), s -> i - 1 >= s.s AND i - 1 <= s.e)) = 0) AS kt
  FROM cl
)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL while Spark's array_join
       -- is '' — a FULLY duplicated doc (every token in a span) keeps
       -- zero tokens, so coalesce to the empty string like Spark; a
       -- NULL token list (NULL text) stays NULL in both engines
       CASE WHEN kt IS NULL THEN NULL
            ELSE md5(coalesce(array_to_string(kt, ' '), '')) END AS clean_md5,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(kt) AS BIGINT) AS n_kept
FROM kept""",
)
def remove_dup_spans_q(spark, sf_dir):
    """The consuming half of dup_span_ranges (Lee et al. 2021): cut the
    duplicated token spans out of every document and return the cleaned
    corpus (compared by md5 — full strings would work too, the digest
    keeps the gate row narrow). Token positions are the contract, so
    whitespace normalizes to single spaces in both engines."""
    out = D.remove_dup_spans(_docs(spark, sf_dir), k=3)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_tokens",
        "n_kept",
    )


@query(
    "vocab_topk",
    _TOKS
    + """
, e AS (SELECT doc_id, unnest(t) AS token FROM toks),
pd AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
c AS (
  SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM pd GROUP BY token
),
r AS (SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank FROM c)
SELECT token, n_occurrences, n_docs, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 100""",
)
def vocab_topk_q(spark, sf_dir):
    """Top-100 corpus vocabulary (occurrences + document frequency) —
    the tokenizer-training word-count table."""
    return CP.vocab_topk(_docs(spark, sf_dir), k=100)


@query(
    "tfidf_keywords",
    _TOKS
    + """
, e AS (SELECT doc_id AS doc, unnest(t) AS token FROM toks),
tf AS (SELECT doc, token, count(*) AS tf FROM e GROUP BY doc, token),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents),
s AS (
  SELECT tf.doc, tf.token, tf.tf, dfq.df,
         CAST(tf.tf AS DOUBLE) * n.n_total / dfq.df AS score
  FROM tf JOIN dfq USING (token), n
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc ORDER BY score DESC, token) AS rank FROM s)
SELECT doc AS doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 3""",
)
def tfidf_keywords_q(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords with a rational idf (N/df) so
    scores are exact integer ratios — deterministic cross-engine
    ranking (log-idf differs in the last ulp between libm builds)."""
    return CP.tfidf_keywords(_docs(spark, sf_dir), top_per_doc=3)


@query(
    "doc_chunks",
    _TOKS
    + """
, d1 AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE 1 + CAST(floor((len(t) - 64 + 47) / 48.0) AS INT) END AS nc
  FROM toks
),
e AS (SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM d1),
c AS (
  SELECT doc_id, chunk_id,
         array_to_string(list_slice(t, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ') AS ctext
  FROM e
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(string_split(ctext, ' ')) AS BIGINT) AS n_tokens,
       md5(ctext) AS chunk_md5
FROM c""",
)
def doc_chunks_q(spark, sf_dir):
    """Pretraining chunker: 64-token chunks, 16-token overlap (stride
    48); chunks are md5-fingerprinted so the compare proves the exact
    chunk text without hauling it through the hash."""
    return SMP.doc_chunks(_docs(spark, sf_dir), chunk_tokens=64, overlap=16)


@query(
    "dedup_keep_best",
    _SHQ.replace("WITH ", "WITH RECURSIVE ", 1)
    + f"""
, sg AS (SELECT doc_id, sh, {_SIG.replace('hs', _HS)} AS sig FROM shq),
bk AS (
  SELECT doc_id, sh,
         unnest(list_transform(range(0, 4), b ->
           concat(CAST(b AS VARCHAR), ':',
                  array_to_string(list_slice(sig, CAST(b AS INT) * 4 + 1, CAST(b AS INT) * 4 + 4), '-')))) AS key
  FROM sg
),
prs AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.key = b.key AND a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
),
edges AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION ALL
  SELECT doc_b, doc_a FROM prs
),
reach AS (
  SELECT a, b AS r FROM edges
  UNION
  SELECT reach.a, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT a AS doc_id, least(a, min(r)) AS cluster_id FROM reach GROUP BY a),
cl AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
qs AS (
  SELECT doc_id,
         (CASE WHEN len(t) >= 10 AND len(t) <= 100000 THEN 0.4 ELSE 0.0 END
          + CASE WHEN CAST(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) AS DOUBLE) / len(t) >= 2.0
                 AND CAST(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) AS DOUBLE) / len(t) <= 12.0
                 THEN 0.3 ELSE 0.0 END
          + CASE WHEN CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
                      / len(t) > 0.0 THEN 0.3 ELSE 0.0 END) AS quality
  FROM toks
),
rk AS (
  SELECT cl.doc_id, cl.cluster_id, qs.quality,
         row_number() OVER (PARTITION BY cl.cluster_id ORDER BY qs.quality DESC, cl.doc_id) AS rk
  FROM cl JOIN qs USING (doc_id)
)
SELECT doc_id, cluster_id, quality FROM rk WHERE rk = 1""",
)
def dedup_keep_best_q(spark, sf_dir):
    """Canonical-doc selection: highest-quality doc per MinHash-LSH
    near-dup cluster (ties -> lowest id) — the keep-policy step after
    clustering; singletons keep themselves."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, threshold=0.5)
    clusters = D.dedup_clusters(pairs, docs)
    quality = docs.select("doc_id", TX.quality_score().alias("quality"))
    return D.keep_best_per_cluster(clusters, quality)


@query(
    "segment_dedup",
    _TOKS
    + """
, d1 AS (SELECT doc_id, t, CAST(ceil(len(t) / 8.0) AS INT) AS nseg FROM toks),
ex AS (SELECT doc_id, t, unnest(range(0, nseg)) AS seg_no FROM d1),
segs AS (
  SELECT doc_id, CAST(seg_no AS INT) AS seg_no,
         array_to_string(list_slice(t, CAST(seg_no AS INT) * 8 + 1, CAST(seg_no AS INT) * 8 + 8), ' ') AS seg
  FROM ex
),
rk AS (
  SELECT doc_id, seg_no, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, seg_no) AS rk
  FROM segs
),
kept AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         md5(string_agg(seg, ' ' ORDER BY seg_no)) AS clean_md5
  FROM rk WHERE rk = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments FROM segs GROUP BY doc_id)
SELECT tot.doc_id, tot.n_segments,
       coalesce(kept.n_kept, 0) AS n_kept,
       coalesce(kept.clean_md5, md5('')) AS clean_md5
FROM tot LEFT JOIN kept USING (doc_id)""",
)
def segment_dedup_q(spark, sf_dir):
    """C4-style exact segment dedup: every repeated 8-token segment
    keeps only its first corpus occurrence; docs are reassembled from
    the surviving segments (md5-fingerprinted for the compare).

    Below ``SEGDEDUP_SMALL_DOCS`` docs (parquet footer count, no Spark
    job) the operator takes its one-partition fused form: there the
    digest-parallel window buys nothing, and its extra exchanges are 3
    of the scale plan's 4 AQE job barriers. sf1 (50k docs) and beyond
    keep the at-scale digest-partitioned plan."""
    return CP.segment_dedup(
        _docs(spark, sf_dir), seg_tokens=8,
        onepart=parquet_rows_below(f"{sf_dir}/documents.parquet", SEGDEDUP_SMALL_DOCS),
    )


@query(
    "c4_filter",
    _TOKS
    + """
, fr AS (
  SELECT doc_id, unnest(t) AS token FROM toks
),
topf AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_token_freq
  FROM (SELECT doc_id, token, count(*) AS c FROM fr GROUP BY doc_id, token)
  GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(list_max(list_transform(t, x -> length(x))) AS BIGINT) AS max_token_len,
         (contains(lower(d.text), 'lorem ipsum') OR contains(lower(d.text), 'javascript')
          OR contains(lower(d.text), '{')) AS has_bad_substring,
         CAST(len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) AS BIGINT) AS stop_hits
  FROM documents d JOIN toks USING (doc_id)
)
SELECT sig.doc_id, n_tokens, max_token_len, has_bad_substring, stop_hits,
       topf.top_token_freq,
       (n_tokens >= 5 AND max_token_len <= 20 AND NOT has_bad_substring
        AND stop_hits > 0
        AND CAST(topf.top_token_freq AS DOUBLE) / n_tokens <= 0.3) AS keep
FROM sig JOIN topf USING (doc_id)""",
)
def c4_filter_q(spark, sf_dir):
    """C4-style quality filter signals (Raffel et al. 2020 §2.2 rules
    adapted to single-line docs) + the combined keep decision."""
    return CP.c4_filter_signals(_docs(spark, sf_dir))


@query(
    "unigram_logprob",
    _TOKS
    + """
, e AS (SELECT doc_id AS doc, unnest(t) AS token FROM toks),
cnt AS (SELECT token, count(*) AS tf FROM e GROUP BY token),
tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS t_total FROM cnt),
lp AS (
  SELECT e.doc, ln(cnt.tf / tot.t_total) AS lp
  FROM e JOIN cnt USING (token), tot
)
SELECT doc AS doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lp), 6) AS mean_logprob,
       round(exp(-avg(lp)), 6) AS perplexity
FROM lp GROUP BY doc""",
)
def unigram_logprob_q(spark, sf_dir):
    """Corpus unigram-LM mean token log-probability per doc (the cheap
    perplexity-style quality score; trig-free but libm ln/exp, so both
    sides round to 6 decimals like TimeCues)."""
    return CP.unigram_logprob(_docs(spark, sf_dir))


@query(
    "token_length_stats",
    _TOKS
    + """
, L AS (SELECT lang, CAST(len(t) AS BIGINT) AS l
        FROM toks JOIN documents USING (doc_id))
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(l), 6) AS mean_tokens,
       max(l) AS max_tokens,
       round(quantile_cont(l, 0.1), 6) AS p10,
       round(quantile_cont(l, 0.25), 6) AS p25,
       round(quantile_cont(l, 0.5), 6) AS p50,
       round(quantile_cont(l, 0.75), 6) AS p75,
       round(quantile_cont(l, 0.9), 6) AS p90,
       round(quantile_cont(l, 0.99), 6) AS p99
FROM L GROUP BY lang""",
)
def token_length_stats_q(spark, sf_dir):
    """Per-language token-length distribution (exact interpolated
    percentiles + mean/max/count) — the sequence-budget planning table.
    Spark percentile() and DuckDB quantile_cont() share the linear-
    interpolation definition and agree bit-for-bit on int64 inputs."""
    return CP.token_length_stats(_docs(spark, sf_dir))


@query(
    "bigram_logprob",
    _TOKS
    + """
, pr AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
             i -> struct_pack(l := t[CAST(i AS INT)], r := t[CAST(i AS INT) + 1]))) AS p
  FROM toks
),
pairs AS (SELECT doc, p.l AS l, p.r AS r FROM pr),
uni AS (SELECT token AS l, count(*) AS cl
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token),
vsz AS (SELECT count(*) AS v FROM uni),
bi AS (SELECT l, r, count(*) AS cbi FROM pairs GROUP BY l, r),
lp AS (
  SELECT pairs.doc,
         ln(CAST(bi.cbi + 1 AS DOUBLE) / (uni.cl + vsz.v)) AS lp
  FROM pairs JOIN bi USING (l, r) JOIN uni USING (l), vsz
)
SELECT doc AS doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(lp), 6) AS mean_logprob,
       round(exp(-avg(lp)), 6) AS perplexity
FROM lp GROUP BY doc""",
)
def bigram_logprob_q(spark, sf_dir):
    """Corpus bigram-LM (add-one smoothed) mean transition log-prob per
    doc — scores word ORDER on top of unigram_logprob's vocabulary
    score. Docs shorter than two tokens emit no row."""
    return CP.bigram_logprob(_docs(spark, sf_dir))


@query(
    "perplexity_buckets",
    _TOKS
    + """
, pr AS (
  SELECT doc_id AS doc,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
             i -> struct_pack(l := t[CAST(i AS INT)], r := t[CAST(i AS INT) + 1]))) AS p
  FROM toks
),
pairs AS (SELECT doc, p.l AS l, p.r AS r FROM pr),
uni AS (SELECT token AS l, count(*) AS cl
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token),
vsz AS (SELECT count(*) AS v FROM uni),
bi AS (SELECT l, r, count(*) AS cbi FROM pairs GROUP BY l, r),
lp AS (
  SELECT pairs.doc,
         ln(CAST(bi.cbi + 1 AS DOUBLE) / (uni.cl + vsz.v)) AS lp
  FROM pairs JOIN bi USING (l, r) JOIN uni USING (l), vsz
),
mlp AS (SELECT doc AS doc_id, round(avg(lp), 6) AS m FROM lp GROUP BY doc),
cuts AS (
  SELECT quantile_cont(m, 0.1) c1, quantile_cont(m, 0.2) c2,
         quantile_cont(m, 0.3) c3, quantile_cont(m, 0.4) c4,
         quantile_cont(m, 0.5) c5, quantile_cont(m, 0.6) c6,
         quantile_cont(m, 0.7) c7, quantile_cont(m, 0.8) c8,
         quantile_cont(m, 0.9) c9
  FROM mlp
),
b AS (
  SELECT CAST((CASE WHEN m > c1 THEN 1 ELSE 0 END
             + CASE WHEN m > c2 THEN 1 ELSE 0 END
             + CASE WHEN m > c3 THEN 1 ELSE 0 END
             + CASE WHEN m > c4 THEN 1 ELSE 0 END
             + CASE WHEN m > c5 THEN 1 ELSE 0 END
             + CASE WHEN m > c6 THEN 1 ELSE 0 END
             + CASE WHEN m > c7 THEN 1 ELSE 0 END
             + CASE WHEN m > c8 THEN 1 ELSE 0 END
             + CASE WHEN m > c9 THEN 1 ELSE 0 END) AS BIGINT) AS bucket, m
  FROM mlp CROSS JOIN cuts
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
       min(m) AS lo, max(m) AS hi,
       (CAST(sum(CAST(floor(m * 1000000.0e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
        / count(*)) / 1000000.0e0 AS bucket_mean_lp
FROM b GROUP BY bucket""",
)
def perplexity_buckets_q(spark, sf_dir):
    """CCNet-style LM quality bucketing: decile buckets of the per-doc
    bigram-LM mean log-prob — the standard curation split (keep the
    head, down-sample or drop the tail). NO global ntile: nine exact
    interpolated percentile cutpoints fold to ONE broadcast row (the
    price_histogram_equidepth discipline), bucket assignment is a
    narrow projection, the summary a 10-group aggregate. Bucket means
    fold as 1e-6-quantized exact int64 sums (the kmeans integer-mean
    discipline) so no float fold order leaks; bucketing keys on the
    ROUNDED per-doc score both engines already agree on
    (bigram_logprob's green row)."""
    from .. import cache

    # the per-doc score frame feeds the cutpoint aggregate AND the
    # bucket assignment — one storage boundary keeps the whole
    # bigram-LM pipeline (pair explode + two count joins) from running
    # twice. cache.cut, not keep: with materialization timed, the cut
    # costs 0.87 s, keep 1.15 s and no boundary 0.86 s at sf0.1; the
    # cut stays over none because at 100 TB two runs of the data-scale
    # bigram pipeline cost far more than one doc-scale checkpoint write.
    lp = cache.cut(
        CP.bigram_logprob(_docs(spark, sf_dir)).select("doc_id", "mean_logprob")
    )
    cuts = lp.agg(
        F.percentile(
            "mean_logprob", F.array(*[F.lit(q / 10) for q in range(1, 10)])
        ).alias("_cs")
    ).select(*[F.get("_cs", q - 1).alias(f"c{q}") for q in range(1, 10)])
    b = lp.crossJoin(F.broadcast(cuts)).select(
        sum(
            [
                F.when(F.col("mean_logprob") > F.col(f"c{q}"), 1).otherwise(0)
                for q in range(1, 10)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias("bucket"),
        F.col("mean_logprob").alias("m"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("m").alias("lo"),
        F.max("m").alias("hi"),
        (
            F.sum(F.floor(F.col("m") * 1000000.0 + F.lit(0.5)).cast("long")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0)
        ).alias("bucket_mean_lp"),
    )


def _km_sim(v: str, c: str) -> str:
    return (
        f"list_dot_product({v}, {c}) / "
        f"(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product({c}, {c})))"
    )


def _km_iter(i: int) -> str:
    """One Lloyd iteration: assign to max-cosine centroid, then per-dim
    INTEGER-scaled mean update (mirrors similarity.kmeans_assign):
    components quantized to 1e-6 units as BIGINT, summed exactly
    (order-independent), divided by the count — bit-identical to the
    Spark iteration regardless of fold order."""
    p = i - 1
    return f"""
s{i} AS (SELECT e.vec_id, e.v, c.cid, {_km_sim('e.v', 'c.cv')} AS sim FROM e, c{p} c),
a{i} AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM s{i}),
b{i} AS (SELECT vec_id, v, cid FROM a{i} WHERE rk = 1),
u{i} AS (SELECT cid, i,
                ((CAST(sum(CAST(floor((v[CAST(i AS INT)] * 1000000.0e0) + 0.5e0) AS BIGINT)) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE)) / 1000000.0e0) AS val
         FROM b{i}, range(1, 65) t(i) GROUP BY cid, i),
c{i} AS (SELECT cid, list(val ORDER BY i) AS cv FROM u{i} GROUP BY cid)"""


@query(
    "kmeans_clusters",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv FROM e WHERE vec_id < 8),"
    + _km_iter(1)
    + ","
    + _km_iter(2)
    + f""",
sf AS (SELECT e.vec_id, c.cid, {_km_sim('e.v', 'c.cv')} AS sim FROM e, c2 c),
af AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM sf)
SELECT vec_id, cid AS cluster_id, sim AS cos_sim FROM af WHERE rk = 1""",
)
def kmeans_clusters_q(spark, sf_dir):
    """Lloyd k-means (k=8, 2 iterations, max-cosine assignment) over the
    embeddings table — the trained coarse quantizer for IVF search.
    Centroid updates use integer-scaled sums (order-independent) so both
    engines iterate from bit-identical state; no output rounding."""
    # dim=64 (fixed-width embeddings table) skips the one-row probe
    # job at plan-build time
    return SIM.kmeans_assign(_embs(spark, sf_dir), k=8, iters=2, dim=64)


@query(
    "curation_pipeline",
    _TOKS
    + f"""
, fr AS (SELECT doc_id, unnest(t) AS token FROM toks),
topf AS (
  SELECT doc_id, max(c) AS top_token_freq
  FROM (SELECT doc_id, token, count(*) AS c FROM fr GROUP BY doc_id, token)
  GROUP BY doc_id
),
c4k AS (
  SELECT d.doc_id
  FROM documents d JOIN toks USING (doc_id) JOIN topf USING (doc_id)
  WHERE len(t) >= 5 AND list_max(list_transform(t, x -> length(x))) <= 20
    AND NOT (contains(lower(d.text), 'lorem ipsum') OR contains(lower(d.text), 'javascript')
             OR contains(lower(d.text), '{{'))
    AND len(list_filter(t, x -> list_contains(['the','a','of','and','to'], x))) > 0
    AND CAST(topf.top_token_freq AS DOUBLE) / len(t) <= 0.3
),
d1 AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN c4k USING (doc_id)),
ek AS (SELECT min(doc_id) AS doc_id FROM d1 GROUP BY md5(text)),
d2 AS (SELECT d1.* FROM d1 JOIN ek USING (doc_id)),
th2 AS (SELECT d2.doc_id, {_TH} AS th FROM d2 JOIN toks USING (doc_id)),
sh2 AS (SELECT doc_id, {_SHH} AS sh FROM th2),
bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh2 WHERE doc_id % 97 = 0),
tr AS (SELECT * FROM sh2 WHERE doc_id % 97 <> 0),
cont AS (
  SELECT DISTINCT e.doc_id
  FROM (SELECT doc_id, unnest(sh) AS g FROM tr) e JOIN bench USING (g)
),
d3 AS (
  SELECT d2.* FROM d2 JOIN tr USING (doc_id)
  WHERE d2.doc_id NOT IN (SELECT doc_id FROM cont)
),
ph AS (
  SELECT doc_id, ({_PH.format(e='text')} * 2654435761) % 4294967296 AS mixed
  FROM d3
)
SELECT d3.doc_id, d3.source, CAST(len(toks.t) AS BIGINT) AS n_tokens
FROM d3 JOIN ph USING (doc_id) JOIN toks USING (doc_id)
WHERE floor(mixed * 1000 / 4294967296) >= 100""",
)
def curation_pipeline_q(spark, sf_dir):
    """CurationKit end-to-end: C4 filter -> exact dedup ->
    decontamination (bench slice id %% 97 == 0) -> content-hash train
    split, declared as a JSON-round-trippable recipe and folded into ONE
    lazy plan (filters push down through every stage)."""
    from ..plans import curation as CK

    kit = CK.CurationKit(
        [
            CK.C4Filter(),
            CK.ExactDedup(),
            CK.Decontaminate(bench_filter="doc_id % 97 = 0", min_shared=1),
            CK.HashSplit(test_permille=100, side="train"),
        ]
    )
    # prune the kit input to the columns the stages + output touch:
    # Decontaminate's input cut materializes its full schema, so
    # lang/n_chars would be written and re-read by its three branches
    out = kit.run(_docs(spark, sf_dir).select("doc_id", "text", "source"))
    return out.select("doc_id", "source", TX.token_count().alias("n_tokens"))


@query(
    "semantic_dedup",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv FROM e WHERE vec_id < 8),"
    + _km_iter(1)
    + ","
    + _km_iter(2)
    + f""",
sf AS (SELECT e.vec_id, e.v, c.cid, {_km_sim('e.v', 'c.cv')} AS sim FROM e, c2 c),
af AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM sf),
m AS (SELECT vec_id, v, cid FROM af WHERE rk = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_km_sim('a.v', 'b.v')} AS cos_sim
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.4""",
)
def semantic_dedup_q(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means partitions the embedding
    space, cosine near-dup pairs are found only within clusters —
    candidates shrink from |corpus|^2 to sum(|cluster|^2). Threshold
    0.4 here because the synthetic embeddings are near-orthogonal
    (max pairwise cos ~0.51); production text embeddings use ~0.95."""
    return SIM.semantic_dup_pairs(_embs(spark, sf_dir), k=8, iters=2, threshold=0.4, dim=64)


# --- retrieval tier ----------------------------------------------------------

@query(
    "inverted_index",
    _TOKS
    + """
, tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
tfs AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token <> '' GROUP BY token, doc_id
),
stats AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tfs GROUP BY token
),
topn AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM tfs
),
post AS (
  SELECT token, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM topn WHERE rn <= 32 GROUP BY token
)
SELECT s.token, s.df, s.total_tf, p.postings
FROM stats s JOIN post p USING (token)""",
)
def inverted_index_q(spark, sf_dir):
    """Inverted-index build: term -> (df, total_tf, capped champion
    list). The postings cap rides WindowGroupLimit (partial per-task
    limit before the final), so a stopword's posting list crosses the
    shuffle as <= 32 rows at any corpus size."""
    return RT.inverted_index(_docs(spark, sf_dir), postings_cap=32)


#: fixed BM25 benchmark query: one rare term (df ~5%) + two common ones
BM25_TERMS = ["dup", "join", "table"]


def _bm25_oracle_sql(terms: list[str], k: int, k1: float, b: float) -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(t, x -> x = '{w}')) AS BIGINT) AS tf{i}"
        for i, w in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"""CASE WHEN p.tf{i} > 0 THEN
          ln(1.0 + (st.n - CAST(st.df{i} AS DOUBLE) + 0.5) / (CAST(st.df{i} AS DOUBLE) + 0.5))
          * CAST(p.tf{i} AS DOUBLE) * {k1 + 1.0}
          / (CAST(p.tf{i} AS DOUBLE) + {k1} * (1.0 - {b} + {b} * p.dl / (CAST(st.sumdl AS DOUBLE) / st.n)))
        ELSE 0.0 END"""
        for i in range(len(terms))
    )
    return (
        _TOKS
        + f"""
, proj AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, {tf_cols} FROM toks),
st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl, {df_cols} FROM proj)
SELECT p.doc_id, ({score_terms}) AS score
FROM proj p CROSS JOIN st
ORDER BY score DESC, p.doc_id
LIMIT {k}"""
    )


@query("bm25_topk", _bm25_oracle_sql(BM25_TERMS, 10, 1.2, 0.75))
def bm25_topk_q(spark, sf_dir):
    """BM25 ranked retrieval for a 3-term query (one discriminative
    term, two common): fixed-order float score sum (cross-engine ulp
    stability), TakeOrderedAndProject top-k — no SinglePartition sort."""
    return RT.bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=10, k1=1.2, b=0.75)


def _pagerank_oracle_sql(iters: int, unit: int) -> str:
    # simhash near-pair edges (the simhash_near_pairs oracle as CTEs)
    edges = (
        _SHQ
        + """
, hsq AS (SELECT doc_id, sh AS hs FROM shq),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32), i ->
           CASE WHEN list_sum(list_transform(hs, h -> 2 * ((h >> CAST(i AS INT)) & 1) - 1)) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fingerprint
  FROM hsq
),
k AS (SELECT doc_id, fingerprint, unnest(range(0, 4)) AS band FROM fp),
kk AS (
  SELECT doc_id, fingerprint, band,
         (fingerprint >> CAST(band * 8 AS INT)) & 255 AS segv
  FROM k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fingerprint AS fp_a, b.fingerprint AS fp_b
  FROM kk a JOIN kk b ON a.band = b.band AND a.segv = b.segv AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
)"""
    )
    body = """
, und AS (SELECT doc_a AS src, doc_b AS dst FROM edges
          UNION ALL SELECT doc_b, doc_a FROM edges),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
pr0 AS (SELECT deg.src AS id, CAST({u} // st.n AS BIGINT) AS r, deg.d FROM deg CROSS JOIN st)"""
    for it in range(1, iters + 1):
        body += f""",
m{it} AS (SELECT u.dst AS id, CAST(sum(p.r // p.d) AS BIGINT) AS s
         FROM und u JOIN pr{it - 1} p ON u.src = p.id GROUP BY u.dst),
pr{it} AS (SELECT m.id,
                 CAST(({{u}} * 15) // (100 * st.n) + (85 * m.s) // 100 AS BIGINT) AS r,
                 deg.d
          FROM m{it} m CROSS JOIN st JOIN deg ON m.id = deg.src)"""
    body += f"""
SELECT id AS doc_id, r AS rank_fp FROM pr{iters}"""
    return edges + body.replace("{u}", str(unit))


@query("dup_graph_pagerank", _pagerank_oracle_sql(5, RT.PR_UNIT))
def dup_graph_pagerank_q(spark, sf_dir):
    """PageRank centrality (5 integer fixed-point rounds, damping
    0.85) over the SimHash near-dup graph — rank the canonical doc in
    each near-dup chain. Int64 micro-unit arithmetic end-to-end, so
    partial-sum order (executors, AQE) cannot move a bit and the
    unrolled DuckDB recurrence matches exactly."""
    edges = D.simhash_near_pairs(_docs(spark, sf_dir)).select("doc_a", "doc_b")
    return RT.pagerank(edges, iters=5, a_col="doc_a", b_col="doc_b").select(
        F.col("id").alias("doc_id"), "rank_fp"
    )


@query(
    "ann_sq8_topk",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
smp AS (SELECT v FROM e ORDER BY vec_id LIMIT 262144),
dims AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS d),
mm AS (SELECT d, min(v[d + 1]) AS vmin, max(v[d + 1]) AS vmax
       FROM smp CROSS JOIN dims GROUP BY d),
qc AS (SELECT d, CAST(floor(vmin * 1000000 + 0.5) AS BIGINT) AS vminq,
              CAST(floor(((vmax - vmin) / 255.0) * 1000000 + 0.5) AS BIGINT) AS deltaq,
              vmin, vmax FROM mm),
codes AS (
  SELECT e.vec_id, qc.d, qc.vminq, qc.deltaq,
         CASE WHEN qc.vmax > qc.vmin
              THEN CAST(least(greatest(floor((e.v[qc.d + 1] - qc.vmin) / ((qc.vmax - qc.vmin) / 255.0) + 0.5), 0), 255) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS code
  FROM e CROSS JOIN qc
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
sc AS (
  SELECT q.query_id, c.vec_id AS cand_id,
         sum((CAST(floor(q.qv[c.d + 1] * 1000000.0 + 0.5) AS BIGINT) - (c.vminq + c.code * c.deltaq))
           * (CAST(floor(q.qv[c.d + 1] * 1000000.0 + 0.5) AS BIGINT) - (c.vminq + c.code * c.deltaq))) AS dq
  FROM q JOIN codes c ON q.query_id <> c.vec_id
  GROUP BY q.query_id, c.vec_id
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dq, cand_id) AS rank FROM sc)
SELECT query_id, cand_id, CAST(dq AS DOUBLE) / 1000000000000.0 AS sq_dist,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5""",
)
def ann_sq8_topk_q(spark, sf_dir):
    """SQ8 (8-bit scalar quantizer) asymmetric top-k — the FAISS
    ScalarQuantizer search path: per-dim min/max trained on a bounded
    sample, map-only encode to dim uint8 codes (8× payload shrink),
    exact-query-vs-dequantized-candidate squared L2 in 1e-6-quantized
    int64 (rank-exact vs the oracle). This registration pins the
    LABELED full-scan baseline so the oracle stays total; user code
    should call ``similarity.ann_sq8_search``, which routes onto
    ``ann_ivf_sq8`` above the corpus-size crossover — the scale path
    this baseline exists to be measured against."""
    return SIM.ann_sq8_topk(_embs(spark, sf_dir), n_queries=10, k=5)


def _keep_central_oracle_sql(iters: int, unit: int) -> str:
    # pagerank oracle body + recursive transitive closure over the same
    # simhash edges, then the per-cluster centrality election
    base = _pagerank_oracle_sql(iters, unit)
    head, tail = base.rsplit("\nSELECT id AS doc_id", 1)
    assert tail.startswith(f", r AS rank_fp FROM pr{iters}")
    return (
        head.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
reach AS (
  SELECT src AS a, dst AS r FROM und
  UNION
  SELECT reach.a, u.dst AS r FROM reach JOIN und u ON reach.r = u.src
),
comp AS (SELECT a AS id, least(a, min(r)) AS cluster_id FROM reach GROUP BY a),
jr AS (SELECT comp.cluster_id, comp.id, pr{iters}.r AS rank_fp
       FROM comp JOIN pr{iters} ON comp.id = pr{iters}.id),
rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                    ORDER BY rank_fp DESC, id) AS rk FROM jr)
SELECT cluster_id, id AS rep_id, rank_fp FROM rk WHERE rk = 1"""
    )


@query("keep_central", _keep_central_oracle_sql(5, RT.PR_UNIT))
def keep_central_q(spark, sf_dir):
    """Canonical-representative election: connected components over the
    SimHash near-dup graph, representative = the max-PageRank node per
    cluster (lowest id on exact integer ties) — keep the best exemplar
    of a boilerplate chain, not whichever page crawled first."""
    edges = D.simhash_near_pairs(_docs(spark, sf_dir)).select("doc_a", "doc_b")
    return RT.central_reps(edges, iters=5, a_col="doc_a", b_col="doc_b")


@query(
    "hashed_features",
    _TOKS
    + f"""
, th AS (SELECT doc_id, unnest({_TH}) AS h FROM toks)
SELECT doc_id, CAST(h % 16 AS BIGINT) AS dim,
       CAST(sum(1 - 2 * ((h // 16) % 2)) AS BIGINT) AS weight
FROM th GROUP BY doc_id, dim""",
)
def hashed_features_q(spark, sf_dir):
    """Feature-hashing vectorizer (the hashing trick): tokens fold into
    16 signed buckets via their polynomial hash — the vocabulary-free
    fixed-width featurization; sparse long-form output, exact int64
    weights."""
    return CP.hashed_features(_docs(spark, sf_dir), d=16)


@query(
    "knn_graph",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),\n"
    "c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, v AS cv FROM e WHERE vec_id < 8),"
    + _km_iter(1)
    + ","
    + _km_iter(2)
    + f""",
sf AS (SELECT e.vec_id, e.v, c.cid, {_km_sim('e.v', 'c.cv')} AS sim FROM e, c2 c),
af AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM sf),
m AS (SELECT vec_id, v, cid FROM af WHERE rk = 1),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_km_sim('a.v', 'b.v')} AS cos_sim
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
und AS (SELECT id_a AS src_id, id_b AS dst_id, cos_sim FROM p
        UNION ALL SELECT id_b, id_a, cos_sim FROM p),
rk AS (SELECT *, row_number() OVER (PARTITION BY src_id
                                    ORDER BY cos_sim DESC, dst_id) AS rank FROM und)
SELECT src_id, dst_id, cos_sim, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3""",
)
def knn_graph_q(spark, sf_dir):
    """Cluster-restricted k-NN graph (SemDeDup candidate restriction):
    each vector's 3 nearest within-cell neighbors by cosine — the input
    graph for semantic clustering / diversity sampling / centrality."""
    return SIM.knn_graph(_embs(spark, sf_dir), k=8, iters=2, k_neighbors=3, dim=64)


@query(
    "normalized_dedup",
    """
WITH n AS (
  SELECT doc_id, md5(text) AS raw_md5,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5
  FROM documents
)
SELECT norm_md5, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT raw_md5) AS BIGINT) AS n_exact_forms
FROM n GROUP BY norm_md5""",
)
def normalized_dedup_q(spark, sf_dir):
    """Exact dedup on the canonical normal form (lowercase, punct→space,
    collapsed whitespace) — the C4-style normalization step; rows with
    n_exact_forms > 1 are the wins over raw content-hash dedup."""
    return D.normalized_dedup(_docs(spark, sf_dir))


@query(
    "source_length_trim",
    """
WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS l FROM documents),
q AS (SELECT source, quantile_cont(l, 0.01) AS p_lo, quantile_cont(l, 0.99) AS p_hi
      FROM d GROUP BY source)
SELECT d.doc_id, d.source, d.l AS n_chars, q.p_lo, q.p_hi
FROM d JOIN q USING (source)
WHERE d.l >= q.p_lo AND d.l <= q.p_hi""",
)
def source_length_trim_q(spark, sf_dir):
    """Adaptive per-source length trimming: keep docs inside the
    source's own [p01, p99] exact percentiles — Gopher's length rule
    without per-source tuning; the percentile table is k rows,
    broadcast back."""
    return CP.source_length_trim(_docs(spark, sf_dir))


@query(
    "ann_ivf_sq8",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
asg AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, c.cv)
             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
           c.cid) AS rk
  FROM e, cent c
),
cells AS (SELECT vec_id, cid FROM asg WHERE rk = 1),
probe AS (SELECT vec_id AS query_id, cid FROM asg WHERE vec_id < 10 AND rk <= 2),
smp AS (SELECT v FROM e ORDER BY vec_id LIMIT 262144),
dims AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS d),
mm AS (SELECT d, min(v[d + 1]) AS vmin, max(v[d + 1]) AS vmax
       FROM smp CROSS JOIN dims GROUP BY d),
qc AS (SELECT d, CAST(floor(vmin * 1000000 + 0.5) AS BIGINT) AS vminq,
              CAST(floor(((vmax - vmin) / 255.0) * 1000000 + 0.5) AS BIGINT) AS deltaq,
              vmin, vmax FROM mm),
codes AS (
  SELECT e.vec_id, qc.d, qc.vminq, qc.deltaq,
         CASE WHEN qc.vmax > qc.vmin
              THEN CAST(least(greatest(floor((e.v[qc.d + 1] - qc.vmin) / ((qc.vmax - qc.vmin) / 255.0) + 0.5), 0), 255) AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS code
  FROM e CROSS JOIN qc
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
sc AS (
  SELECT p.query_id, c.vec_id AS cand_id,
         sum((CAST(floor(q.qv[c.d + 1] * 1000000.0 + 0.5) AS BIGINT) - (c.vminq + c.code * c.deltaq))
           * (CAST(floor(q.qv[c.d + 1] * 1000000.0 + 0.5) AS BIGINT) - (c.vminq + c.code * c.deltaq))) AS dq
  FROM codes c
  JOIN cells ON c.vec_id = cells.vec_id
  JOIN probe p ON p.cid = cells.cid
  JOIN q ON q.query_id = p.query_id
  WHERE q.query_id <> c.vec_id
  GROUP BY 1, 2
),
rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dq, cand_id) AS rank FROM sc)
SELECT query_id, cand_id, CAST(dq AS DOUBLE) / 1000000000000.0 AS sq_dist,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5""",
)
def ann_ivf_sq8_q(spark, sf_dir):
    """IVF×SQ8 composed ANN: one map-only (cell, SQ8-codes) index pass,
    nprobe=2 cell probe, int64 asymmetric distance over only the probed
    cells' candidates — the scalar-quantizer sibling of ann_ivf_pq."""
    return SIM.ann_ivf_sq8(
        _embs(spark, sf_dir), n_queries=10, k=5, k_coarse=8, nprobe=2
    )


def _diverse_oracle_sql(k: int) -> str:
    def cos(a: str, b: str) -> str:
        return (
            f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
        )

    sql = """
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
s1 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
d1 AS (SELECT e.id, e.v, 1.0 - {c} AS md FROM e, s1 s WHERE e.id <> s.id)""".format(
        c=cos("e.v", "s.v")
    )
    for i in range(2, k + 1):
        sql += f""",
p{i} AS (SELECT *, row_number() OVER (ORDER BY md DESC, id) AS rk FROM d{i - 1}),
s{i} AS (SELECT id, v, md FROM p{i} WHERE rk = 1)"""
        if i < k:
            sql += f""",
d{i} AS (SELECT d.id, d.v, least(d.md, 1.0 - {cos('d.v', 's.v')}) AS md
        FROM d{i - 1} d, s{i} s WHERE d.id <> s.id)"""
    parts = ["SELECT CAST(1 AS BIGINT) AS sel_order, s1.id AS vec_id, 0.0 AS min_dist FROM s1"]
    for i in range(2, k + 1):
        parts.append(f"SELECT {i}, s{i}.id, s{i}.md FROM s{i}")
    return sql + "\n" + "\nUNION ALL ".join(parts)


@query("diverse_sample", _diverse_oracle_sql(8))
def diverse_sample_q(spark, sf_dir):
    """Greedy k-center (Gonzalez) max-min diversity selection: 8
    maximally spread exemplars by cosine distance — the coreset /
    diverse-subset curation primitive. Below the driver gate's byte
    bound the projection crosses to the driver once and the k greedy
    steps run in numpy; above it, k map-only Arrow argmax passes over
    the lineage-cut frame — byte-identical by the side A/B test."""
    return SIM.diverse_sample(_embs(spark, sf_dir), k=8)


def _wordpiece_oracle_sql(vocab_size: int = 48, max_len: int = 4) -> str:
    # NB: no list_reduce — DuckDB v1.0.0 mis-executes the greedy fold
    # lambda under some plan shapes (same list, different results when
    # the surrounding projection changes; reproduced on the documents
    # table, correct standalone). The greedy walk is replayed with the
    # repo's lockstep recursive-CTE pattern instead: plen per (word
    # instance, position) is a plain projection, the recursion jumps
    # pos -> pos + plen(pos), and the piece count is the step count.
    plen = "1"
    for l in range(2, max_len + 1):
        plen = (
            f"CASE WHEN t.i + {l - 1} <= length(w) "
            f"AND list_contains(vv.voc, substr(w, CAST(t.i AS INT), {l})) "
            f"THEN {l} ELSE {plen} END"
        )
    return (
        _TOKS.replace("WITH ", "WITH RECURSIVE ", 1)
        + f"""
, words AS (
  SELECT doc_id, w, row_number() OVER (ORDER BY doc_id, w) AS wid,
         CAST(length(w) AS BIGINT) AS len
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
),
subs AS (
  SELECT unnest(flatten(list_transform(range(2, {max_len + 1}), l ->
    list_transform(range(1, greatest(length(w) - CAST(l AS INT) + 1, 0) + 1),
      i -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS sub
  FROM words
),
cnt AS (SELECT sub, count(*) AS c FROM subs GROUP BY sub),
topv AS (SELECT sub FROM (SELECT *, row_number() OVER (ORDER BY c DESC, sub) AS rk FROM cnt)
         WHERE rk <= {vocab_size}),
vv AS (SELECT list(sub) AS voc FROM topv),
pls AS (
  SELECT words.wid, CAST(t.i AS BIGINT) AS pos, CAST(({plen}) AS BIGINT) AS plen
  FROM words CROSS JOIN vv, unnest(range(1, length(w) + 1)) t(i)
),
rec AS (
  SELECT wid, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS c, len FROM words
  UNION ALL
  SELECT r.wid, r.pos + p.plen, r.c + 1, r.len
  FROM rec r JOIN pls p ON p.wid = r.wid AND p.pos = r.pos
  WHERE r.pos <= r.len
),
done AS (SELECT wid, max(c) AS pieces FROM rec GROUP BY wid)
SELECT w.doc_id, CAST(sum(d.pieces) AS BIGINT) AS n_pieces,
       CAST(count(*) AS BIGINT) AS n_words
FROM words w JOIN done d USING (wid)
GROUP BY w.doc_id"""
    )


@query("wordpiece_stats", _wordpiece_oracle_sql(48, 4))
def wordpiece_stats_q(spark, sf_dir):
    """WordPiece-style greedy longest-match subword segmentation (Wu et
    al. 2016 inference rule): top-48 frequent substrings (len 2-4) +
    single-char fallback; per-doc piece counts via an integer-encoded
    greedy fold both engines replay exactly."""
    return CP.wordpiece_stats(_docs(spark, sf_dir), vocab_size=48, max_len=4)


@query(
    "zipf_fit",
    _TOKS
    + """
, e AS (SELECT doc_id, unnest(t) AS token FROM toks),
pd AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences FROM pd GROUP BY token),
r AS (SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank FROM c),
xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(n_occurrences AS DOUBLE)) AS y
       FROM r WHERE rank <= 100),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy)
SELECT CAST(n AS BIGINT) AS n_terms,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM s""",
)
def zipf_fit_q(spark, sf_dir):
    """Zipf rank-frequency OLS over the top-100 vocabulary — slope ≈ −1
    for natural text; the corpus-quality audit scalar."""
    return CP.zipf_fit(_docs(spark, sf_dir), k=100)


@query(
    "pii_redact",
    f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TX.EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{TX.URL_RE}')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(text, '{TX.LONG_NUM_RE}')) AS BIGINT) AS n_long_nums,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{TX.EMAIL_RE}', '<EMAIL>', 'g'),
             '{TX.URL_RE}', '<URL>', 'g'),
             '{TX.LONG_NUM_RE}', '<NUM>', 'g')) AS redacted_md5
FROM documents""",
)
def pii_redact_q(spark, sf_dir):
    """PII redaction (the consuming half of the pii counters): emails/
    URLs/long digit runs replaced by typed placeholders in a fixed
    order; output carries the counts and the md5 of the rewritten text
    so the byte-level rewrite is value-checked, not just counted."""
    d = _docs(spark, sf_dir)
    counts = TX.pii_counts()
    return d.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_urls"].alias("n_urls"),
        counts["n_long_nums"].alias("n_long_nums"),
        F.md5(TX.redact_pii()).alias("redacted_md5"),
    )


@query(
    "oov_rate",
    _TOKS
    + """
, e AS (SELECT doc_id, unnest(t) AS token FROM toks),
pd AS (SELECT doc_id, token, count(*) AS tf FROM e GROUP BY doc_id, token),
c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS n FROM pd GROUP BY token),
topv AS (SELECT token FROM (SELECT *, row_number() OVER (ORDER BY n DESC, token) AS rk FROM c)
         WHERE rk <= 24),
vv AS (SELECT list(token) AS voc FROM topv)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(t.t, x -> NOT list_contains(vv.voc, x))) AS BIGINT) AS n_oov,
       CAST(len(list_filter(t.t, x -> NOT list_contains(vv.voc, x))) AS DOUBLE) / len(t.t) AS oov_rate
FROM toks t CROSS JOIN vv""",
)
def oov_rate_q(spark, sf_dir):
    """Per-doc out-of-vocabulary rate vs the top-24 corpus vocabulary —
    the tokenizer-coverage audit; one let-bound HOF projection against
    the collected k-string vocab (no join)."""
    return CP.oov_rate(_docs(spark, sf_dir), k=24)


@query(
    "cross_source_dup_matrix",
    _SHQ
    + """
, hsq AS (SELECT doc_id, sh AS hs FROM shq),
fp AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32), i ->
           CASE WHEN list_sum(list_transform(hs, h -> 2 * ((h >> CAST(i AS INT)) & 1) - 1)) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS fingerprint
  FROM hsq
),
k AS (SELECT doc_id, fingerprint, unnest(range(0, 4)) AS band FROM fp),
kk AS (
  SELECT doc_id, fingerprint, band,
         (fingerprint >> CAST(band * 8 AS INT)) & 255 AS segv
  FROM k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.fingerprint AS fp_a, b.fingerprint AS fp_b
  FROM kk a JOIN kk b ON a.band = b.band AND a.segv = b.segv AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM edges e
JOIN documents da ON e.doc_a = da.doc_id
JOIN documents db ON e.doc_b = db.doc_id
GROUP BY 1, 2""",
)
def cross_source_dup_matrix_q(spark, sf_dir):
    """Cross-source duplication matrix: SimHash near-dup pairs labeled
    by the (unordered) source pair — which corpora copy from each
    other, the provenance audit behind source-level dedup decisions.
    The doc→source joins broadcast the narrow (id, source) projection;
    output is a |sources|² grid at most."""
    docs = _docs(spark, sf_dir)
    edges = D.simhash_near_pairs(docs).select("doc_a", "doc_b")
    src = docs.select("doc_id", "source")
    # no broadcast hint on src: it is the CORPUS-scale side (one row
    # per document); edges is the small output-scale relation, so AQE
    # broadcasts that end when it fits and plain hash joins otherwise
    j = (
        edges.join(
            src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "_sa"),
            "doc_a",
        ).join(
            src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "_sb"),
            "doc_b",
        )
    )
    return j.groupBy(
        F.least("_sa", "_sb").alias("source_a"),
        F.greatest("_sa", "_sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "pmi_top_pairs",
    _TOKS
    + """
, pr AS (
  SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
      i -> struct_pack(l := t[CAST(i AS INT)], r := t[CAST(i AS INT) + 1]))) AS p
  FROM toks
),
pairs AS (SELECT p.l AS l, p.r AS r FROM pr),
bi AS (SELECT l, r, CAST(count(*) AS BIGINT) AS c_ab FROM pairs GROUP BY l, r),
uni AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT l AS tok FROM pairs UNION ALL SELECT r FROM pairs
  ) GROUP BY tok
),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM pairs),
sc AS (
  SELECT bi.l, bi.r, bi.c_ab,
         CAST(bi.c_ab AS DOUBLE) * 2.0 * n.total / (ul.c * ur.c) AS ratio
  FROM bi JOIN uni ul ON bi.l = ul.tok JOIN uni ur ON bi.r = ur.tok
  CROSS JOIN n
  WHERE bi.c_ab >= 5
)
SELECT l, r, c_ab, ln(ratio) AS pmi,
       CAST(row_number() OVER (ORDER BY ratio DESC, l, r) AS BIGINT) AS rank
FROM sc QUALIFY rank <= 20""",
)
def pmi_top_pairs_q(spark, sf_dir):
    """Top-20 adjacent-token collocations by pointwise mutual
    information (min count 5). RANKED BY THE EXACT RATIONAL RATIO
    c_ab·2N/(c_l·c_r) — one IEEE division, identical in both engines —
    not by ln(ratio), whose last-ulp libm differences could flip
    near-tie ranks (the tfidf_keywords discipline); pmi = ln(ratio) is
    exposed for reading only. Narrow (l, r) keys, map-side combined;
    the unigram side counts PAIR-SLOT occurrences (2N total) so the
    ratio is the textbook PMI estimator."""
    docs = _docs(spark, sf_dir)
    t = TX.tokens()
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        ).alias("p")
    ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    bi = pairs.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_ab"))
    uni = (
        pairs.select(F.col("l").alias("tok"))
        .unionAll(pairs.select(F.col("r").alias("tok")))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = pairs.agg(F.count(F.lit(1)).alias("total"))
    sc = (
        bi.join(uni.withColumnRenamed("tok", "l").withColumnRenamed("c", "_cl"), "l")
        .join(uni.withColumnRenamed("tok", "r").withColumnRenamed("c", "_cr"), "r")
        .crossJoin(F.broadcast(n))
        .where(F.col("c_ab") >= 5)
        .withColumn(
            "ratio",
            F.col("c_ab").cast("double") * 2.0 * F.col("total") / (F.col("_cl") * F.col("_cr")),
        )
    )
    # TakeOrderedAndProject over the unbounded bigram aggregate, then
    # re-rank the surviving 20 rows: a global row_number() window over
    # the aggregate would force an Exchange SinglePartition of EVERY
    # distinct bigram with c_ab >= 5; the re-rank window single-
    # partitions exactly 20 rows.
    top = sc.orderBy(F.col("ratio").desc(), F.col("l"), F.col("r")).limit(20)
    w = Window.orderBy(F.col("ratio").desc(), F.col("l"), F.col("r"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .select("l", "r", "c_ab", F.log("ratio").alias("pmi"), "rank")
    )


@query(
    "tfidf_cosine_pairs",
    _TOKS
    + f"""
, th AS (SELECT doc_id AS doc, unnest({_TH}) AS h FROM toks),
tf AS (SELECT doc, h, CAST(count(*) AS BIGINT) AS tf FROM th GROUP BY doc, h),
dfq AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY h),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
w AS (
  SELECT tf.doc, tf.h, dfq.df,
         CAST(floor(1000.0 * tf.tf * nn.n_total / dfq.df + 0.5) AS BIGINT) AS wq
  FROM tf JOIN dfq USING (h) CROSS JOIN nn
),
nrm AS (SELECT doc, sum(CAST(wq AS HUGEINT) * wq) AS n2 FROM w GROUP BY doc),
cand AS (SELECT * FROM w WHERE df <= 256),
dots AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, sum(CAST(a.wq AS HUGEINT) * b.wq) AS dot
  FROM cand a JOIN cand b ON a.h = b.h AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b,
       CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cos_sim
FROM dots d
JOIN nrm na ON d.doc_a = na.doc
JOIN nrm nb ON d.doc_b = nb.doc
WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.5""",
)
def tfidf_cosine_pairs_q(spark, sf_dir):
    """TF·IDF-weighted lexical cosine pairs (Bayardo et al. all-pairs
    similarity): rare shared terms score high where raw Jaccard stays
    modest. Integer-quantized rational weights → exact int64 dots and
    norms → one deterministic sqrt/divide; stop-term df cap bounds the
    token self-join (the ngram_jaccard discipline)."""
    return D.tfidf_cosine_pairs(_docs(spark, sf_dir), threshold=0.5, max_doc_freq=256)


@query(
    "lsh_recall_audit",
    """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
sc AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos_sim
  FROM q JOIN e ON q.query_id <> e.vec_id
),
topk AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rk
    FROM sc
  ) WHERE rk <= 5
),
b AS (
  SELECT vec_id, v,
         CAST(list_sum(list_transform(range(0, 16), j ->
           CASE WHEN list_sum(list_transform(range(0, 64), i ->
                  v[CAST(i AS INT) + 1] *
                  (CAST((1103515245 * (j * 64 + i + 1) + 12345) % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)
                )) >= 0
                THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM e
),
cand AS (
  SELECT bq.vec_id AS query_id, bc.vec_id AS cand_id
  FROM b bq JOIN b bc ON bq.bucket = bc.bucket AND bq.vec_id <> bc.vec_id
  WHERE bq.vec_id < 10
)
SELECT t.query_id,
       CAST(count(c.cand_id) AS BIGINT) AS n_found,
       CAST(count(c.cand_id) AS DOUBLE) / 5.0 AS recall_at_5
FROM topk t LEFT JOIN cand c
  ON t.query_id = c.query_id AND t.cand_id = c.cand_id
GROUP BY t.query_id""",
)
def lsh_recall_audit_q(spark, sf_dir):
    """Approximation-quality audit: recall@5 of the 16-hyperplane LSH
    bucket candidates against the exact brute-force cosine top-5, per
    query — the number an ANN deployment monitors before trusting the
    cheap path. Brute side restricted to the 10 query rows (broadcast
    against the corpus, never corpus²); candidate side is the bucket
    equi-join."""
    embs = _embs(spark, sf_dir)
    from pyspark.sql import Window as W

    exact = SIM.ann_brute_topk(embs, query_ids=list(range(10)), k=5).select(
        "query_id", "cand_id"
    )
    d = embs.select(
        F.col("vec_id").alias("id"), SIM.as_double("embedding").alias("v")
    ).withColumn("bucket", SIM.lsh_bucket_arrow(F.col("v")))
    bq = d.where(F.col("id") < 10).select(
        F.col("id").alias("query_id"), F.col("bucket").alias("_bq")
    )
    bc = d.select(F.col("id").alias("cand_id"), F.col("bucket").alias("_bc"))
    cand = bq.join(bc, bq["_bq"] == bc["_bc"]).where(
        F.col("query_id") != F.col("cand_id")
    ).select("query_id", "cand_id").withColumn("_hit", F.lit(1))
    j = exact.join(cand, ["query_id", "cand_id"], "left")
    return j.groupBy("query_id").agg(
        F.count("_hit").alias("n_found"),
        (F.count("_hit").cast("double") / 5.0).alias("recall_at_5"),
    )
