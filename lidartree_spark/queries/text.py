"""Text and embedding gates over `documents` and `embeddings`: analysis,
fingerprints, near-dup finders and clusters, statistical filters, BPE,
the training-data pipeline, sampling, as-of join, rollups and ANN
search."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lidartree_spark.queries import Query, load_views
from lidartree_spark.queries.shared import _lat_seq


# Dedup: exact duplicate groups by content hash (md5 identical across
# engines). Canonical doc = min doc_id. Keyed on an 80-char normalized
# prefix so the synthetic corpus actually produces duplicate groups; at
# scale this is one hash-aggregate shuffle with map-side partials.
_EXACT_DEDUP = """
SELECT md5(SUBSTR(text, 1, 80)) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(SUBSTR(text, 1, 80))
HAVING COUNT(*) > 1
"""

# Text quality scoring: integer-exact token/char stats.
_TEXT_QUALITY = """
SELECT doc_id,
       n_chars,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS BIGINT)
           AS n_periods,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6)
           AS mean_token_len
FROM documents
"""

# BPE-ish token counting (GPT-2-style pre-tokenizer classes, simplified to
# ASCII): optional-leading-space letter runs / digit runs / punctuation
# runs. Complements the whitespace count in text_quality — the pair is the
# brief's "token counting (whitespace + a BPE-ish regex)". regexp dialects:
# Spark string literals process backslash escapes (Java regex), DuckDB's
# don't (RE2) — the pattern itself is compatible with both engines.
_BPE_SPARK = r"""
SELECT doc_id,
       CAST(size(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0)) AS BIGINT)
           AS n_bpe,
       CAST(size(regexp_extract_all(text, ' ?[A-Za-z]+', 0)) AS BIGINT)
           AS n_word,
       CAST(size(regexp_extract_all(text, ' ?[0-9]+', 0)) AS BIGINT)
           AS n_num,
       CAST(size(regexp_extract_all(text, ' ?[^A-Za-z0-9\\s]+', 0))
            AS BIGINT) AS n_punct
FROM documents
"""

_BPE_DUCK = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+')) AS BIGINT)
           AS n_word,
       CAST(len(regexp_extract_all(text, ' ?[0-9]+')) AS BIGINT) AS n_num,
       CAST(len(regexp_extract_all(text, ' ?[^A-Za-z0-9\s]+')) AS BIGINT)
           AS n_punct
FROM documents
"""


# Rabin-style rolling polynomial fingerprint (the brief's "document
# fingerprinting (rolling hash)"): fp(doc) = sum_i ascii(c_i) * B^(n-i)
# mod M with B=131, M=2^31-1 — the polynomial form whose windowed variant
# is the rolling shingle hash. Merged with the md5 token-bag fingerprint
# (the standalone doc_fingerprint, an extended gate) into one per-doc
# row.
#
# Spark computes the polynomial by Horner's rule in a SINGLE per-row
# `aggregate(split(text, ''))` higher-order expression — one JVM-side
# pass, zero row inflation (the r2 plan exploded one row PER CHARACTER,
# multiplying scan-stage rows ~10^3x at corpus scale, then joined a powers
# table). The char source is split('') rather than substr(text, i, 1):
# per-index substr re-walks the string from the start (UTF8 offsets), an
# O(len^2)-per-doc hot path measured 4x slower; split materializes the
# chars once. Empty docs agree: split('','') = [''] and ascii('') = 0, so
# Horner yields 0 exactly like the empty sequence. Horner: acc = (acc*B +
# a_i) mod M left-to-right gives a_i * B^(n-i) exactly; every step stays
# < M*B + 127 ~ 2.8e11 << 2^63. DuckDB re-derives the SAME value by the
# structurally different powers-table route (recursive CTE +
# per-character join), so the modular arithmetic is cross-checked between
# two independent formulations.
_RABIN_SPARK = """
SELECT doc_id,
       aggregate(split(text, ''), CAST(0 AS BIGINT),
                 (acc, c) -> (acc * 131 + ascii(c)) % 2147483647) AS fp,
       md5(array_join(array_sort(array_distinct(split(text, ' '))), '|'))
           AS bag_fp
FROM documents
"""

_RABIN_DUCK = """
WITH RECURSIVE powers(k, p) AS (
  SELECT 1, CAST(1 AS BIGINT)
  UNION ALL
  SELECT k + 1, (p * 131) % 2147483647 FROM powers
  WHERE k < (SELECT MAX(LENGTH(text)) FROM documents)
), idx AS (
  SELECT i FROM UNNEST(generate_series(
    1, (SELECT MAX(LENGTH(text)) FROM documents))) t(i)
), chars AS (
  SELECT doc_id, LENGTH(text) AS n, idx.i,
         ascii(substr(text, CAST(idx.i AS INT), 1)) AS a
  FROM documents JOIN idx ON idx.i <= LENGTH(text)
), fps AS (
  SELECT doc_id,
         CAST(SUM(a * p.p) % 2147483647 AS BIGINT) AS fp
  FROM chars JOIN powers p ON p.k = n - i + 1
  GROUP BY doc_id
)
SELECT d.doc_id, f.fp,
       md5(array_to_string(list_sort(list_distinct(string_split(d.text, ' '))),
                           '|')) AS bag_fp
FROM documents d JOIN fps f ON f.doc_id = d.doc_id
"""


# Distributed word count + top-k per group (§2.8's sort/top-k shape as an
# explicit gate): explode tokens -> two-level aggregation (map-side
# partials both levels) -> per-lang rank window, k=10, ties broken by
# token text so the cut is deterministic.
_TOKEN_TOPK_SPARK = """
WITH toks AS (
  SELECT lang, tok FROM documents
  LATERAL VIEW explode(split(text, ' ')) t AS tok
  WHERE tok != ''
), counts AS (
  SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok
), ranked AS (
  SELECT lang, tok, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n DESC, tok) AS rk
  FROM counts
)
SELECT lang, tok, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 10
"""

_TOKEN_TOPK_DUCK = """
WITH toks AS (
  SELECT lang, t.tok FROM documents, UNNEST(string_split(text, ' ')) t(tok)
  WHERE t.tok != ''
), counts AS (
  SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY lang, tok
), ranked AS (
  SELECT lang, tok, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n DESC, tok) AS rk
  FROM counts
)
SELECT lang, tok, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 10
"""


# Language-ID heuristic: stopword-hit ratio over whitespace tokens.
_LANGID_SPARK = """
SELECT doc_id,
       ROUND(CAST(size(filter(split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE) / size(split(text, ' ')), 6) AS stop_ratio,
       CASE WHEN size(filter(split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             * 50 >= size(split(text, ' ')) THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""
_LANGID_DUCK = """
SELECT doc_id,
       ROUND(CAST(len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
       CASE WHEN len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             * 50 >= len(string_split(text, ' ')) THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""

# Document fingerprint: md5 of the sorted distinct token bag — exact string
# machinery on both engines.
_FINGERPRINT_SPARK = """
SELECT doc_id,
       md5(array_join(array_sort(array_distinct(split(text, ' '))), '|'))
           AS fingerprint
FROM documents
"""
_FINGERPRINT_DUCK = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|'))
           AS fingerprint
FROM documents
"""

# Merged per-doc text-analysis gate (language-ID + quality scoring + BPE-ish
# token counting in one row — the three standalone queries are extended
# gates). One scan, all columns integer-/string-exact.
_TEXT_ANALYSIS_SPARK = r"""
SELECT doc_id,
       n_chars,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS BIGINT)
           AS n_periods,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6)
           AS mean_token_len,
       ROUND(CAST(size(filter(split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE) / size(split(text, ' ')), 6) AS stop_ratio,
       CASE WHEN size(filter(split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             * 50 >= size(split(text, ' ')) THEN 'en' ELSE 'other' END
           AS lang_guess,
       CAST(size(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+', 0)) AS BIGINT)
           AS n_bpe,
       CAST(size(regexp_extract_all(text, ' ?[A-Za-z]+', 0)) AS BIGINT)
           AS n_word,
       CAST(size(regexp_extract_all(text, ' ?[0-9]+', 0)) AS BIGINT)
           AS n_num,
       CAST(size(regexp_extract_all(text, ' ?[^A-Za-z0-9\\s]+', 0))
            AS BIGINT) AS n_punct
FROM documents
"""

_TEXT_ANALYSIS_DUCK = r"""
SELECT doc_id,
       n_chars,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
           AS n_tokens,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, '.', '')) AS BIGINT)
           AS n_periods,
       ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6)
           AS mean_token_len,
       ROUND(CAST(len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE) / len(string_split(text, ' ')), 6) AS stop_ratio,
       CASE WHEN len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on','for','with')))
             * 50 >= len(string_split(text, ' ')) THEN 'en' ELSE 'other' END
           AS lang_guess,
       CAST(len(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe,
       CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+')) AS BIGINT)
           AS n_word,
       CAST(len(regexp_extract_all(text, ' ?[0-9]+')) AS BIGINT) AS n_num,
       CAST(len(regexp_extract_all(text, ' ?[^A-Za-z0-9\s]+')) AS BIGINT)
           AS n_punct
FROM documents
"""

# ---------------------------------------------------------------------------
# Training-data-pipeline dedup ops (graft requirement): MinHash+LSH banding,
# n-gram Jaccard, SimHash — all on md5 (identical across engines) and
# integer-exact arithmetic. Spark side uses posexplode; DuckDB uses
# unnest WITH ORDINALITY (dialect pair); shingle/band logic is shared.

# word 3-shingles by 1-based array indexing — no window/ordinality, so both
# engines generate byte-identical (doc_id, shingle) sets.
_SHINGLES_SPARK = """
  SELECT doc_id,
         explode(CASE WHEN size(split(text, ' ')) >= 3 THEN
           transform(sequence(1, size(split(text, ' ')) - 2),
                     i -> concat(element_at(split(text, ' '), i), ' ',
                                 element_at(split(text, ' '), i + 1), ' ',
                                 element_at(split(text, ' '), i + 2)))
           ELSE array() END) AS shingle
  FROM documents WHERE doc_id < 200
"""
_SHINGLES_DUCK = """
  SELECT doc_id,
         l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS l
        FROM documents WHERE doc_id < 200),
       UNNEST(generate_series(1, GREATEST(len(l) - 2, 0))) AS g(i)
"""


def _minhash_sql(shingles: str, dialect: str) -> str:
    bands = _lat_seq(dialect, "0", "3", "bands", "b")
    return f"""
WITH shingles AS ({shingles}),
sig AS (
  SELECT doc_id, b,
         MIN(md5(CONCAT(CAST(b AS STRING), '|', shingle))) AS band_sig
  FROM shingles{bands}
  GROUP BY doc_id, b
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_bands
FROM sig a JOIN sig c ON a.b = c.b AND a.band_sig = c.band_sig
                      AND a.doc_id < c.doc_id
GROUP BY a.doc_id, c.doc_id
"""


def _jaccard_sql(shingles: str) -> str:
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM ({shingles})
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS DOUBLE) AS ninter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(ninter / (sa.sz + sb.sz - ninter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ninter / (sa.sz + sb.sz - ninter) >= 0.12
"""


def _ngram_jaccard_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard with the shingle self-join SALTED through
    grid.salted_join (the round-2 verdict's known hot-shingle skew risk: a
    stop-phrase shingle shared by a large doc fraction funnels its whole
    candidate block through one reducer). The heavy side salts on doc_a so
    a hot shingle's rows spread over 8 reducers; the light side is
    replicated x8 — the standard skew rewrite, semantics-preserving for
    inner joins. The DuckDB oracle stays the PLAIN join (_jaccard_sql), so
    the gate proves the physical rewrite changes nothing."""
    from lidartree_spark.operators.grid import salted_join
    load_views(spark, sf_dir)
    sh = spark.sql(
        f"SELECT DISTINCT doc_id, shingle FROM ({_SHINGLES_SPARK})")
    sizes = sh.groupBy("doc_id").agg(
        F.count("*").cast("double").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (salted_join(a, b, on=["shingle"], salt_buckets=8,
                         salt_src="doc_a", shuffle=True)
             .where("doc_a < doc_b")
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").cast("double").alias("ninter")))
    jac = F.col("ninter") / (F.col("sa") + F.col("sb") - F.col("ninter"))
    return (inter
            .join(sizes.selectExpr("doc_id AS doc_a", "sz AS sa"), "doc_a")
            .join(sizes.selectExpr("doc_id AS doc_b", "sz AS sb"), "doc_b")
            .where(jac >= 0.12)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


def _text_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged text near-dup pair gate (one driver row pins BOTH
    shingle-based pair finders). section='minhash' = MinHash+LSH band
    collisions; section='jaccard' = exact n-gram Jaccard >= 0.12 with the
    shingle self-join salted through grid.salted_join (the oracle stays
    the plain join — the physical rewrite must change nothing)."""
    load_views(spark, sf_dir)
    mh = spark.sql(_minhash_sql(_SHINGLES_SPARK, "spark"))
    jac = _ngram_jaccard_salted(spark, sf_dir)
    return (mh.select(F.lit("minhash").alias("section"), "doc_a", "doc_b",
                      F.col("shared_bands").cast("double").alias("val"))
            .unionByName(
                jac.select(F.lit("jaccard").alias("section"), "doc_a",
                           "doc_b", F.col("jaccard").alias("val"))))


def _text_neardup_duck() -> str:
    mh = _minhash_sql(_SHINGLES_DUCK, "duck").replace("AS STRING",
                                                      "AS VARCHAR")
    jc = _jaccard_sql(_SHINGLES_DUCK)
    return f"""
SELECT 'minhash' AS section, doc_a, doc_b,
       CAST(shared_bands AS DOUBLE) AS val
FROM ({mh}) mh_rows
UNION ALL
SELECT 'jaccard' AS section, doc_a, doc_b, jaccard AS val
FROM ({jc}) jac_rows
"""


_SIMHASH_SPARK = """
WITH toks AS (
  SELECT doc_id, explode(split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 200
), bits AS (
  SELECT doc_id, i,
         SUM(CASE WHEN SUBSTR(md5(tok), i + 1, 1) IN
                  ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
  FROM toks LATERAL VIEW explode(sequence(0, 31)) it AS i
  GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, i) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""
_SIMHASH_DUCK = """
WITH toks AS (
  SELECT doc_id, u.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS u(tok)
  WHERE doc_id < 200
), bits AS (
  SELECT doc_id, i,
         SUM(CASE WHEN SUBSTR(md5(tok), i + 1, 1) IN
                  ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s
  FROM toks, UNNEST(generate_series(0, 31)) it(i)
  GROUP BY doc_id, i
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, i) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""

# Embedding cosine top-k: integer-quantized (x10000) dot/norms so the
# arithmetic is order-independent and engine-exact; division of identical
# integers -> identical doubles. Brute-force baseline (LSH variant is
# q_ann_lsh, rows-only).
_TOPK_SPARK = """
WITH q AS (
  SELECT vec_id AS qid,
         transform(embedding, x -> CAST(ROUND(x * 10000, 0) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 8
), base AS (
  SELECT vec_id,
         transform(embedding, x -> CAST(ROUND(x * 10000, 0) AS BIGINT)) AS bv
  FROM embeddings
), scored AS (
  SELECT q.qid, base.vec_id,
         aggregate(zip_with(q.qv, base.bv, (a, b) -> a * b), 0L,
                   (acc, v) -> acc + v) AS dot,
         aggregate(transform(q.qv, a -> a * a), 0L, (acc, v) -> acc + v) AS nq,
         aggregate(transform(base.bv, b -> b * b), 0L, (acc, v) -> acc + v) AS nb
  FROM q CROSS JOIN base
  WHERE q.qid != base.vec_id
), ranked AS (
  SELECT qid, vec_id, dot, nq, nb,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
            CAST(dot AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nb AS DOUBLE))
            DESC, vec_id) AS rk
  FROM ranked_src
)
SELECT qid, vec_id, rk,
       ROUND(CAST(dot AS DOUBLE)
             / SQRT(CAST(nq AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine
FROM ranked WHERE rk <= 5
"""


def _topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    sql = _TOPK_SPARK.replace("ranked_src", "scored")
    return spark.sql(sql)


_TOPK_DUCK = """
WITH q AS (
  SELECT vec_id AS qid,
         list_transform(embedding, x -> CAST(ROUND(x * 10000) AS BIGINT)) AS qv
  FROM embeddings WHERE vec_id < 8
), base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(ROUND(x * 10000) AS BIGINT)) AS bv
  FROM embeddings
), scored AS (
  SELECT q.qid, base.vec_id,
         list_sum(list_transform(range(1, len(q.qv) + 1),
                  i -> q.qv[i] * base.bv[i])) AS dot,
         list_sum(list_transform(q.qv, a -> a * a)) AS nq,
         list_sum(list_transform(base.bv, b -> b * b)) AS nb
  FROM q CROSS JOIN base
  WHERE q.qid != base.vec_id
), ranked AS (
  SELECT qid, vec_id, dot, nq, nb,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
            CAST(dot AS DOUBLE) / SQRT(CAST(nq AS DOUBLE) * CAST(nb AS DOUBLE))
            DESC, vec_id) AS rk
  FROM scored
)
SELECT qid, vec_id, rk,
       ROUND(CAST(dot AS DOUBLE)
             / SQRT(CAST(nq AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine
FROM ranked WHERE rk <= 5
"""


# SimHash near-dup pairing: Hamming-band LSH over the 32-bit simhash —
# candidates come from an equi-join on (band, byte value), then the exact
# bit_count(xor) filter runs only on candidates. Pigeonhole over 4 bands
# guarantees COMPLETE recall for Hamming distance <= 3 (some band must
# match exactly); the <= 8 report threshold beyond that is the standard
# LSH recall tradeoff — both engines run the SAME banding, so the oracle
# check pins the semantics either way. At corpus scale this is the
# standard simhash dedup join: one shuffle on the band key instead of an
# O(n^2) cross. Integer-exact end-to-end.
def _simhash_neardup(simhash_sql: str, bitcount: str, dialect: str) -> str:
    bs = _lat_seq(dialect, "0", "3", "bs", "b")
    return f"""
WITH sh AS ({simhash_sql}),
bands AS (
  SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS band_val
  FROM sh{bs}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
         a.simhash AS ha, c.simhash AS hb
  FROM bands a JOIN bands c
    ON a.b = c.b AND a.band_val = c.band_val AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b,
       CAST({bitcount} AS BIGINT) AS hamming
FROM cand
WHERE {bitcount} <= 8
"""


_SIMHASH_ND_SPARK = _simhash_neardup(
    "%%SIMHASH%%", "bit_count(ha ^ hb)", "spark")
_SIMHASH_ND_DUCK = _simhash_neardup(
    "%%SIMHASH%%", "bit_count(CAST(xor(ha, hb) AS BIGINT))", "duck")


# Embedding-cosine near-dup: corpus = originals UNION mildly perturbed
# copies (v'[i] = v[i] + v[(i mod 64) + 1] div 10 over the QUANTIZED
# integers — quantize-then-perturb keeps everything integer-exact; a
# pre-quantization float mix hits ROUND half-boundaries because the source
# embeddings live on a 1e-4 grid and the engines' ROUND differs there);
# report pairs with exact cosine >= 0.95 — planted pairs score ~0.995,
# random pairs cosine ~0 on this corpus.
#
# SCALE PATH (not a cartesian): candidates come from sign-random-projection
# LSH — 64 SRP bits per vector against DETERMINISTIC integer hyperplanes
# (an LCG over the plane x dim index, identical in both engines, all
# arithmetic in exact int64), banded 8 bands x 8 bits; candidate pairs are
# an equi-join on (band, band_value); the exact integer cosine reranks
# candidates only. One shuffle on the band key instead of O(n^2). A pair
# at cosine 0.995 flips each SRP bit w.p. acos(.995)/pi ~ 0.032, so the
# probability of missing all 8 bands is ~(1-(1-.032)^8)^8 ~ 7e-6; random
# pairs (cosine ~ 0) match a band w.p. ~0.5^8. Both engines run the SAME
# banding so the DuckDB oracle pins the full pipeline; the parity of this
# LSH+rerank result with the old brute-force gate on this corpus is
# asserted in tests (test_queries_gate.py).
_NEARDUP_PLANES = (
    "(CAST(1103515245 AS BIGINT) * (p * 64 + {j} + 7) + 12345) "
    "% 2147483648 - 1073741824")


def _neardup_sql(dialect: str) -> str:
    """Shared SRP-LSH + rerank skeleton; dialect in {'spark', 'duck'}."""
    if dialect == "spark":
        quant = """
WITH orig AS (
  SELECT vec_id AS id,
         transform(sequence(1, 64),
                   i -> CAST(ROUND(element_at(embedding, i) * 10000, 0)
                             AS BIGINT)) AS v
  FROM embeddings WHERE vec_id < 300
), pert AS (
  SELECT id + 100000 AS id,
         transform(sequence(1, 64),
                   i -> element_at(v, i)
                        + CAST(FLOOR(CAST(element_at(v, i % 64 + 1) AS DOUBLE)
                                     / 10.0) AS BIGINT)) AS v
  FROM orig
), corpus AS (
  SELECT * FROM orig UNION ALL SELECT * FROM pert
)"""
        w = _NEARDUP_PLANES.format(j="i")
        bits_body = f"""
  SELECT id, p,
         CASE WHEN aggregate(
                zip_with(v,
                         transform(sequence(0, 63), i -> {w}),
                         (x, w) -> x * w),
                0L, (acc, t) -> acc + t) > 0
              THEN 1 ELSE 0 END AS bit
  FROM corpus LATERAL VIEW explode(sequence(0, 63)) pt AS p"""
        rerank = """
  SELECT cd.doc_a, cd.doc_b,
         aggregate(zip_with(x.v, y.v, (a, b) -> a * b), 0L,
                   (acc, t) -> acc + t) AS dot,
         aggregate(transform(x.v, a -> a * a), 0L, (acc, t) -> acc + t) AS na,
         aggregate(transform(y.v, a -> a * a), 0L, (acc, t) -> acc + t) AS nb
  FROM cand cd
  JOIN corpus x ON x.id = cd.doc_a
  JOIN corpus y ON y.id = cd.doc_b"""
    else:
        quant = """
WITH orig AS (
  SELECT vec_id AS id,
         list_transform(range(1, 65),
                        i -> CAST(ROUND(embedding[i] * 10000) AS BIGINT)) AS v
  FROM embeddings WHERE vec_id < 300
), pert AS (
  SELECT id + 100000 AS id,
         list_transform(range(1, 65),
                        i -> v[i]
                             + CAST(FLOOR(CAST(v[i % 64 + 1] AS DOUBLE)
                                          / 10.0) AS BIGINT)) AS v
  FROM orig
), corpus AS (
  SELECT * FROM orig UNION ALL SELECT * FROM pert
)"""
        w = _NEARDUP_PLANES.format(j="(i - 1)")
        bits_body = f"""
  SELECT id, p,
         CASE WHEN list_sum(
                list_transform(range(1, 65),
                               i -> v[i] * ({w}))) > 0
              THEN 1 ELSE 0 END AS bit
  FROM corpus, range(0, 64) pt(p)"""
        rerank = """
  SELECT cd.doc_a, cd.doc_b,
         list_sum(list_transform(range(1, 65), i -> x.v[i] * y.v[i])) AS dot,
         list_sum(list_transform(x.v, a -> a * a)) AS na,
         list_sum(list_transform(y.v, a -> a * a)) AS nb
  FROM cand cd
  JOIN corpus x ON x.id = cd.doc_a
  JOIN corpus y ON y.id = cd.doc_b"""
    return f"""{quant}, bits AS ({bits_body}
), bands AS (
  SELECT id, CAST(FLOOR(p / 8.0) AS INT) AS b,
         SUM(CASE WHEN bit = 1 THEN CAST(POW(2, p % 8) AS BIGINT)
                  ELSE 0 END) AS band_val
  FROM bits GROUP BY id, CAST(FLOOR(p / 8.0) AS INT)
), cand AS (
  SELECT a.id AS doc_a, c.id AS doc_b
  FROM bands a JOIN bands c ON a.b = c.b AND a.band_val = c.band_val
  WHERE a.id < c.id
  GROUP BY a.id, c.id
), scored AS ({rerank}
)
SELECT doc_a, doc_b,
       ROUND(CAST(dot AS DOUBLE)
             / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine
FROM scored
WHERE CAST(dot AS DOUBLE)
      / SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= 0.95
"""


_NEARDUP_SPARK = _neardup_sql("spark")
_NEARDUP_DUCK = _neardup_sql("duck")


# Deterministic proportional stratified sampling — the training-data
# pipeline's "sample X% per (lang, source) stratum, reproducibly"
# primitive. Hash-ordered ROW_NUMBER per stratum makes the sample a pure
# function of the data (no RNG state, rerun-stable, cluster-size
# independent); CEIL keeps every non-empty stratum represented. At scale
# this is one window over the stratum-partitioned shuffle — no
# collect, no global sort. (`doc_id || ''` is the string coercion both
# dialects accept.)
_STRATIFIED_SAMPLE = """
WITH ranked AS (
  SELECT lang, source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY md5(doc_id || '')) AS rk,
         COUNT(*) OVER (PARTITION BY lang, source) AS stratum_n
  FROM documents
)
SELECT lang, source, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rk AS BIGINT) AS rk, CAST(stratum_n AS BIGINT) AS stratum_n
FROM ranked
WHERE rk <= CEIL(0.2 * stratum_n)
"""


def _ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search driver gate: the REAL lsh_topk operator
    (mapInPandas SRP bucketize -> one (table, bucket) equi-join -> exact
    rerank -> window top-k) AND the exact brute-force baseline, side by
    side as method='lsh' / method='exact' rows — the gate IS the recall
    evidence. Exactly re-derivable because (a) vectors are quantized to
    int64 (integer sums are exact in f64 in any order), (b) hyperplanes
    are the deterministic integer LCG that the DuckDB oracle rebuilds in
    SQL (srp_planes_int == the _ANN_LSH_DUCK bits CTE), and (c) cosine is
    composed as dot/(sqrt(na)*sqrt(nb)) in BOTH engines (same IEEE ops ->
    identical doubles)."""
    from lidartree_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        srp_planes_int,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(ROUND(x * 10000, 0) AS BIGINT))"
        " AS embedding")
    q = emb.where("vec_id < 8")
    planes = srp_planes_int(n_tables=8, n_bits=8, dim=64)
    lsh = lsh_topk(emb, q, k=5, n_tables=8, n_bits=8, planes=planes) \
        .select(F.lit("lsh").alias("method"), "qid", "vec_id",
                F.col("rk").cast("long").alias("rk"),
                F.round("cosine", 6).alias("cosine"))
    exact = brute_force_topk(emb, q, k=5) \
        .select(F.lit("exact").alias("method"), "qid", "vec_id",
                F.col("rk").cast("long").alias("rk"),
                F.round("cosine", 6).alias("cosine"))
    return exact.unionByName(lsh)


_ANN_LSH_DUCK = """
WITH corpus AS (
  SELECT vec_id AS id,
         list_transform(range(1, 65),
                        i -> CAST(ROUND(embedding[i] * 10000) AS BIGINT)) AS v
  FROM embeddings
), q AS (
  SELECT * FROM corpus WHERE id < 8
), scored_exact AS (
  SELECT q.id AS qid, c.id AS vec_id,
         CAST(list_sum(list_transform(range(1, 65),
                                      i -> q.v[i] * c.v[i])) AS DOUBLE)
         / (SQRT(CAST(list_sum(list_transform(q.v, a -> a * a)) AS DOUBLE))
            * SQRT(CAST(list_sum(list_transform(c.v, a -> a * a)) AS DOUBLE)))
           AS cosine
  FROM q JOIN corpus c ON c.id != q.id
), exact_rk AS (
  SELECT 'exact' AS method, qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id) AS rk,
         cosine
  FROM scored_exact
), bits AS (
  SELECT id, p,
         CASE WHEN list_sum(list_transform(range(1, 65),
                i -> v[i] * ((1103515245 * (p * 64 + (i - 1) + 7) + 12345)
                             % 2147483648 - 1073741824))) > 0
              THEN 1 ELSE 0 END AS bit
  FROM corpus, range(0, 64) pt(p)
), bands AS (
  SELECT id, CAST(FLOOR(p / 8.0) AS INT) AS b,
         SUM(CASE WHEN bit = 1 THEN CAST(POW(2, p % 8) AS BIGINT)
                  ELSE 0 END) AS band_val
  FROM bits GROUP BY id, CAST(FLOOR(p / 8.0) AS INT)
), cand AS (
  SELECT qb.id AS qid, cb.id AS vec_id
  FROM bands qb JOIN bands cb
    ON cb.b = qb.b AND cb.band_val = qb.band_val
  WHERE qb.id < 8 AND cb.id != qb.id
  GROUP BY qb.id, cb.id
), scored_lsh AS (
  SELECT cd.qid, cd.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
                                      i -> x.v[i] * y.v[i])) AS DOUBLE)
         / (SQRT(CAST(list_sum(list_transform(x.v, a -> a * a)) AS DOUBLE))
            * SQRT(CAST(list_sum(list_transform(y.v, a -> a * a)) AS DOUBLE)))
           AS cosine
  FROM cand cd
  JOIN corpus x ON x.id = cd.qid
  JOIN corpus y ON y.id = cd.vec_id
), lsh_rk AS (
  SELECT 'lsh' AS method, qid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id) AS rk,
         cosine
  FROM scored_lsh
)
SELECT method, qid, vec_id, CAST(rk AS BIGINT) AS rk,
       ROUND(cosine, 6) AS cosine
FROM (SELECT * FROM exact_rk UNION ALL SELECT * FROM lsh_rk) u
WHERE rk <= 5
"""


def _ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF driver gate: the REAL ivf_topk operator (vectorized cell
    assignment, nprobe cell pruning, broadcast candidate join, exact
    rerank, window top-k) with a FIXED deterministic codebook — the
    operator's own md5-ordered init (train_centroids, iters=0) — so DuckDB
    re-derives codebook selection, nearest-cell assignment (all-integer
    d2, ties to the lowest cell id), the nprobe probe set, and the rerank.
    Lloyd training itself is pinned separately by pytest (full-probe ==
    brute force + recall floor, tests/test_similarity_multimodal_
    checkpoint.py); this gate pins the search path the 100 TB plan relies
    on."""
    from lidartree_spark.operators.similarity import (
        ivf_topk,
        train_centroids,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(ROUND(x * 10000, 0) AS BIGINT))"
        " AS embedding")
    cen = train_centroids(emb, n_centroids=16, iters=0, seed=131)
    out = ivf_topk(emb, emb.where("vec_id < 8"), k=5, nprobe=4,
                   centroids=cen)
    return out.select("qid", "vec_id", F.col("rk").cast("long").alias("rk"),
                      F.round("cosine", 6).alias("cosine"))


_ANN_IVF_DUCK = """
WITH corpus AS (
  SELECT vec_id AS id,
         list_transform(range(1, 65),
                        i -> CAST(ROUND(embedding[i] * 10000) AS BIGINT)) AS v
  FROM embeddings
), cen AS (
  SELECT v AS cv, cid FROM (
    SELECT v, ROW_NUMBER() OVER (
             ORDER BY md5('131|' || CAST(id AS VARCHAR))) - 1 AS cid
    FROM corpus) t
  WHERE cid < 16
), d2 AS (
  SELECT c.id, n.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (c.v[i] - n.cv[i]) * (c.v[i] - n.cv[i]))) AS d2
  FROM corpus c, cen n
), ranked AS (
  SELECT id, cid,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
  FROM d2
), base_cells AS (
  SELECT id AS vec_id, cid FROM ranked WHERE rn = 1
), query_cells AS (
  SELECT id AS qid, cid FROM ranked WHERE rn <= 4 AND id < 8
), cand AS (
  SELECT q.qid, b.vec_id
  FROM query_cells q JOIN base_cells b ON b.cid = q.cid
  WHERE b.vec_id != q.qid
  GROUP BY q.qid, b.vec_id
), scored AS (
  SELECT cd.qid, cd.vec_id,
         CAST(list_sum(list_transform(range(1, 65),
                                      i -> x.v[i] * y.v[i])) AS DOUBLE)
         / (SQRT(CAST(list_sum(list_transform(x.v, a -> a * a)) AS DOUBLE))
            * SQRT(CAST(list_sum(list_transform(y.v, a -> a * a)) AS DOUBLE)))
           AS cosine
  FROM cand cd
  JOIN corpus x ON x.id = cd.qid
  JOIN corpus y ON y.id = cd.vec_id
)
SELECT qid, vec_id, CAST(rk AS BIGINT) AS rk, ROUND(cosine, 6) AS cosine
FROM (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, vec_id) AS rk
  FROM scored) t
WHERE rk <= 5
"""


# Near-dup dedup CLUSTERS: MinHash-LSH candidate pairs -> distributed
# connected components (operators/gaps.connected_components — the same
# min-label + pointer-jumping engine that merges cross-tile gaps) -> one
# canonical doc per cluster. This is the "keep one copy per near-dup
# cluster" primitive of a training-data pipeline. Oracle: DuckDB transitive
# closure by recursive CTE over the identical candidate pairs. Node ids are
# zero-padded so the operator's lexicographic min-label equals numeric min.
def _dedup_clusters_duck() -> str:
    mh = _minhash_sql(_SHINGLES_DUCK, "duck").replace("AS STRING",
                                                      "AS VARCHAR")
    return f"""
WITH RECURSIVE mh AS ({mh}),
e AS (SELECT doc_a AS a, doc_b AS b FROM mh WHERE shared_bands >= 2),
sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e
        UNION SELECT a, a FROM e UNION SELECT b, b FROM e),
cc AS (
  SELECT u, v FROM sym
  UNION
  SELECT c.u, s.v FROM cc c JOIN sym s ON s.u = c.v
), lab AS (
  SELECT u AS doc_id, MIN(v) AS canonical FROM cc GROUP BY u
)
SELECT doc_id, canonical,
       CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT)
           AS cluster_size,
       doc_id = canonical AS keep
FROM lab
"""


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster dedup: LSH pairs -> the real distributed CC operator
    -> canonical selection. Oracle = recursive-CTE transitive closure
    (_dedup_clusters_duck)."""
    from pyspark.sql import Window

    from lidartree_spark.operators.gaps import cc_min_labels

    load_views(spark, sf_dir)
    pairs = (spark.sql(_minhash_sql(_SHINGLES_SPARK, "spark"))
             .where("shared_bands >= 2"))
    # NO driver_threshold here on purpose: this driver gate is the one
    # that exercises the pure distributed pointer-jumping loop end to end
    lab = cc_min_labels(pairs, "doc_a", "doc_b").selectExpr(
        "node AS doc_id", "comp AS canonical")
    w = Window.partitionBy("canonical")
    return lab.select(
        "doc_id", "canonical",
        F.count("*").over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("canonical")).alias("keep"))


# --- training_data_pipeline -----------------------------------------------
# Stage 1 (exact dedup) is the exact_dedup gate's keep-side: one canonical
# per md5 content hash. Shared dialect.
_TD_EXACT = """
  SELECT doc_id, text, lang, source FROM (
    SELECT doc_id, text, lang, source,
           MIN(doc_id) OVER (PARTITION BY md5(SUBSTR(text, 1, 80))) AS canon
    FROM documents) dedup_keep
  WHERE doc_id = canon
"""

# Thresholds chosen so every stage provably acts on the sf0.01 corpus
# (500 docs): exact dedup removes 23, near-dup clustering removes 5 more
# (five 2-clusters), lang_guess='en' (stop_ratio >= 2%) drops ~20%, the
# BPE-token and token-length bounds trim both tails, the sampler keeps a
# deterministic 20% per (lang, source) stratum.
_TD_FILTER = ("lang_guess = 'en' AND n_bpe BETWEEN 25 AND 90 "
              "AND mean_token_len <= 5.0")


def _td_shingles(dialect: str) -> str:
    """The minhash_lsh shingle fragment re-pointed at the exact-dedup
    survivors (td_exact) instead of the raw capped table."""
    src = _SHINGLES_SPARK if dialect == "spark" else _SHINGLES_DUCK
    return src.replace("FROM documents WHERE doc_id < 200", "FROM td_exact")


_TD_PIPELINE_DUCK = f"""
WITH RECURSIVE td_exact AS ({_TD_EXACT}),
mh AS ({_minhash_sql(_td_shingles("duck"), "duck").replace("AS STRING",
                                                           "AS VARCHAR")}),
e AS (SELECT doc_a AS a, doc_b AS b FROM mh WHERE shared_bands >= 2),
sym AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e
        UNION SELECT a, a FROM e UNION SELECT b, b FROM e),
cc AS (
  SELECT u, v FROM sym
  UNION
  SELECT c.u, s.v FROM cc c JOIN sym s ON s.u = c.v
),
lab AS (SELECT u AS doc_id, MIN(v) AS canonical FROM cc GROUP BY u),
csizes AS (SELECT canonical, COUNT(*) AS csz FROM lab GROUP BY canonical),
kept AS (
  SELECT d.doc_id, d.text, d.lang, d.source,
         CAST(COALESCE(s.csz, 1) AS BIGINT) AS cluster_size
  FROM td_exact d
  LEFT JOIN lab l ON l.doc_id = d.doc_id
  LEFT JOIN csizes s ON s.canonical = l.canonical
  WHERE l.doc_id IS NULL OR l.doc_id = l.canonical
),
scored AS (
  SELECT doc_id, lang, source, cluster_size,
         CAST(len(regexp_extract_all(text,
              ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe,
         ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6)
             AS mean_token_len,
         CASE WHEN len(list_filter(string_split(text, ' '),
               t -> t IN ('the','a','of','and','to','in','is','on','for',
                          'with')))
               * 50 >= len(string_split(text, ' ')) THEN 'en' ELSE 'other'
             END AS lang_guess
  FROM kept
),
ranked AS (
  SELECT lang, source, doc_id, n_bpe, cluster_size,
         ROW_NUMBER() OVER (PARTITION BY lang, source
                            ORDER BY md5(doc_id || '')) AS rk,
         COUNT(*) OVER (PARTITION BY lang, source) AS stratum_n
  FROM scored WHERE {_TD_FILTER}
)
SELECT lang, source, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_bpe AS BIGINT) AS n_bpe, cluster_size,
       CAST(rk AS BIGINT) AS rk, CAST(stratum_n AS BIGINT) AS stratum_n
FROM ranked WHERE rk <= CEIL(0.2 * stratum_n)
"""


def _training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep over `documents`, every stage the REAL
    operator: exact dedup (hash-window keep-one) -> MinHash-LSH candidate
    pairs -> distributed connected components (operators/gaps, the same
    pointer-jumping engine that merges cross-tile gaps) -> one canonical doc
    per near-dup cluster -> language-ID + quality + BPE-token-count filters
    (all JVM expressions) -> deterministic md5-ranked stratified sample.
    One lineage-carrying plan, no collect between stages. The DuckDB oracle
    (_TD_PIPELINE_DUCK) re-derives the whole chain with a recursive-CTE
    transitive closure standing in for the distributed CC."""
    from pyspark.sql import Window

    from lidartree_spark.operators.gaps import cc_min_labels

    load_views(spark, sf_dir)
    surv = spark.sql(f"SELECT * FROM ({_TD_EXACT}) s")
    surv.createOrReplaceTempView("td_exact")
    pairs = (spark.sql(_minhash_sql(_td_shingles("spark"), "spark"))
             .where("shared_bands >= 2"))
    lab = cc_min_labels(pairs, "doc_a", "doc_b",
                        driver_threshold=2_000_000).selectExpr(
        "node AS m_doc", "comp AS canonical")
    sizes = lab.groupBy("canonical").agg(F.count("*").alias("csz"))
    lab = lab.join(sizes, "canonical")
    kept = (surv.join(lab, surv.doc_id == lab.m_doc, "left")
            .where("m_doc IS NULL OR m_doc = canonical")
            .selectExpr("doc_id", "text", "lang", "source",
                        "CAST(COALESCE(csz, 1) AS BIGINT) AS cluster_size"))
    scored = kept.selectExpr(
        "doc_id", "lang", "source", "cluster_size",
        "CAST(size(regexp_extract_all(text,"
        " ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\\\s]+', 0)) AS BIGINT)"
        " AS n_bpe",
        "ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)"
        " / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1), 6)"
        " AS mean_token_len",
        "CASE WHEN size(filter(split(text, ' '),"
        " t -> t IN ('the','a','of','and','to','in','is','on','for','with')))"
        " * 50 >= size(split(text, ' ')) THEN 'en' ELSE 'other' END"
        " AS lang_guess")
    filtered = scored.where(_TD_FILTER)
    w = (Window.partitionBy("lang", "source")
         .orderBy(F.md5(F.col("doc_id").cast("string"))))
    wn = Window.partitionBy("lang", "source")
    ranked = filtered.select(
        "lang", "source", "doc_id", "n_bpe", "cluster_size",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wn).alias("stratum_n"))
    return ranked.where("rk <= CEIL(0.2 * stratum_n)").selectExpr(
        "lang", "source", "CAST(doc_id AS BIGINT) AS doc_id",
        "CAST(n_bpe AS BIGINT) AS n_bpe", "cluster_size",
        "CAST(rk AS BIGINT) AS rk", "CAST(stratum_n AS BIGINT) AS stratum_n")

# --- BPE tokenizer training gate ---------------------------------------------
# The REAL distributed trainer (operators/tokenize.train_bpe_merges: one
# vocab shuffle + per-merge map-side pair-count partials, driver keeps only
# the K-row merge table) on a PLANTED corpus whose merge sequence is
# closed-form: words abab x16, abc x8, cc x4, dd x3, de x2 give pair
# counts (a,b)=40 > (b,a)=16 ..., and each of the six merges has a unique
# winner — (a,b,40), (ab,ab,16), (ab,c,8), (c,c,4), (d,d,3), (d,e,2) —
# derivable by hand (no tie-breaks exercised; determinism under ties is
# pytest-pinned vs the local replica on the REAL documents corpus,
# tests/test_bpe.py). A second section pins apply_bpe: after all six
# merges every planted word re-segments to exactly one token.

def _bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from lidartree_spark.operators.tokenize import (apply_bpe,
                                                    train_bpe_merges)
    words = [("abab", 16), ("abc", 8), ("cc", 4), ("dd", 3), ("de", 2)]
    rows = [{"doc_id": i, "text": w}
            for i, w in enumerate(w for w, n in words for _ in range(n))]
    docs = spark.createDataFrame(pd.DataFrame(rows),
                                 schema="doc_id long, text string")
    merges = train_bpe_merges(docs, 6)
    mrows = [{"section": "merge", "step": i, "a": a, "b": b, "cnt": n}
             for i, (a, b, n) in enumerate(merges)]
    distinct = spark.createDataFrame(
        pd.DataFrame([{"doc_id": i, "text": w}
                      for i, (w, _) in enumerate(words)]),
        schema="doc_id long, text string")
    toks = apply_bpe(distinct, merges).collect()
    trows = [{"section": "tok", "step": int(r.doc_id),
              "a": r.tokens[0], "b": "", "cnt": int(r.n_tokens)}
             for r in toks]
    return spark.createDataFrame(
        pd.DataFrame(mrows + trows,
                     columns=["section", "step", "a", "b", "cnt"]),
        schema="section string, step long, a string, b string, cnt long")


_BPE_TRAIN_DUCK = """
SELECT * FROM (VALUES
  ('merge', CAST(0 AS BIGINT), 'a', 'b', CAST(40 AS BIGINT)),
  ('merge', 1, 'ab', 'ab', 16),
  ('merge', 2, 'ab', 'c', 8),
  ('merge', 3, 'c', 'c', 4),
  ('merge', 4, 'd', 'd', 3),
  ('merge', 5, 'd', 'e', 2),
  ('tok', 0, 'abab', '', 1),
  ('tok', 1, 'abc', '', 1),
  ('tok', 2, 'cc', '', 1),
  ('tok', 3, 'dd', '', 1),
  ('tok', 4, 'de', '', 1)
) AS t(section, step, a, b, cnt)
"""


# --- IVF-PQ ANN gate ---------------------------------------------------------
# The FAISS-style third ANN path beside ann_lsh/ann_ivf: coarse cells
# prune the corpus, then ADC scores m-byte PQ codes without touching the
# full vectors. Both codebooks are the operators' own deterministic
# md5-ordered inits (iters=0) over integer-quantized vectors, so DuckDB
# re-derives coarse assignment, every per-(vector, subspace, codeword)
# distance (the same table serves as PQ code argmin AND query LUT), the
# ADC sums, and the top-5 — all integer-exact.

def _ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pq_topk operator (operators/similarity): coarse-cell
    equi-join pruning (nprobe=4 of 16 cells) + JVM-side ADC aggregate
    over array<int> codes + window top-k. Lloyd training and the refine
    stage are pinned by pytest (tests/test_pq.py); this gate pins the
    search path."""
    from lidartree_spark.operators.similarity import (
        pq_topk,
        train_centroids,
        train_pq_codebook,
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(ROUND(x * 10000, 0) AS BIGINT))"
        " AS embedding")
    book = train_pq_codebook(emb, m=4, ksub=8, iters=0, seed=151)
    cen = train_centroids(emb, n_centroids=16, iters=0, seed=131)
    out = pq_topk(emb, emb.where("vec_id < 8"), k=5, codebook=book,
                  coarse_centroids=cen, nprobe=4)
    return out.select("qid", "vec_id",
                      F.col("rk").cast("long").alias("rk"),
                      F.round("adc", 6).alias("adc"))


_ANN_PQ_DUCK = """
WITH corpus AS (
  SELECT vec_id AS id,
         list_transform(range(1, 65),
                        i -> CAST(ROUND(embedding[i] * 10000) AS BIGINT)) AS v
  FROM embeddings
), cen AS (
  SELECT v AS cv, cid FROM (
    SELECT v, ROW_NUMBER() OVER (
             ORDER BY md5('131|' || CAST(id AS VARCHAR))) - 1 AS cid
    FROM corpus) t
  WHERE cid < 16
), pqc AS (
  SELECT v AS pv, j FROM (
    SELECT v, ROW_NUMBER() OVER (
             ORDER BY md5('151|' || CAST(id AS VARCHAR))) - 1 AS j
    FROM corpus) t
  WHERE j < 8
), cd2 AS (
  SELECT c.id, n.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (c.v[i] - n.cv[i]) * (c.v[i] - n.cv[i]))) AS d2
  FROM corpus c, cen n
), cranked AS (
  SELECT id, cid,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY d2, cid) AS rn
  FROM cd2
), base_cells AS (
  SELECT id AS vec_id, cid FROM cranked WHERE rn = 1
), query_cells AS (
  SELECT id AS qid, cid FROM cranked WHERE rn <= 4 AND id < 8
), subd2 AS (
  -- per-(vector, subspace, codeword) squared distance: the argmin over j
  -- gives the PQ code; the SAME rows for id < 8 are the query ADC LUTs
  SELECT c.id, s, p.j,
         list_sum(list_transform(range(1, 17),
                  i -> (c.v[s * 16 + i] - p.pv[s * 16 + i])
                     * (c.v[s * 16 + i] - p.pv[s * 16 + i]))) AS d2
  FROM corpus c, range(0, 4) ss(s), pqc p
), codes AS (
  SELECT id, s, j AS code FROM (
    SELECT id, s, j,
           ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d2, j) AS rn
    FROM subd2) t
  WHERE rn = 1
), cand AS (
  SELECT q.qid, b.vec_id
  FROM query_cells q JOIN base_cells b ON b.cid = q.cid
  WHERE b.vec_id != q.qid
  GROUP BY q.qid, b.vec_id
), adc AS (
  SELECT cd.qid, cd.vec_id, SUM(l.d2) AS adc
  FROM cand cd
  JOIN codes k2 ON k2.id = cd.vec_id
  JOIN subd2 l ON l.id = cd.qid AND l.s = k2.s AND l.j = k2.code
  GROUP BY cd.qid, cd.vec_id
)
SELECT qid, vec_id, CAST(rk AS BIGINT) AS rk,
       ROUND(CAST(adc AS DOUBLE), 6) AS adc
FROM (SELECT qid, vec_id, adc,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adc, vec_id) AS rk
      FROM adc) t
WHERE rk <= 5
"""


# --- merge as-of join --------------------------------------------------------
# The classic temporal operator Spark lacks: for each click, the latest
# prior view by the same user. operators/temporal.asof_join re-expresses
# it as union-tag + ONE keyed shuffle + a running last(ignorenulls)
# window over a struct-packed right row — no per-key range explosion, no
# nested loop, AQE skew-split applies. The DuckDB oracle uses the engine's
# NATIVE `ASOF LEFT JOIN` — a structurally independent implementation, so
# the gate pins the merge semantics (<= tie rule, left-join NULLs, exact
# microsecond gaps), not a shared formula.

def _asof_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lidartree_spark.operators.temporal import asof_join

    load_views(spark, sf_dir)
    ev = spark.table("events")
    left = ev.where("event_type = 'click'").select("event_id", "user_id",
                                                   "ts")
    right = ev.where("event_type = 'view'").selectExpr(
        "event_id AS view_id", "user_id", "ts AS view_ts")
    j = asof_join(left, right, "user_id", "ts", "view_ts", "view_id")
    return j.selectExpr(
        "event_id", "CAST(user_id AS BIGINT) AS user_id", "view_id",
        # parquet ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
        # cast reads the same microseconds DuckDB's epoch_us sees
        "unix_micros(CAST(ts AS TIMESTAMP))"
        " - unix_micros(CAST(view_ts AS TIMESTAMP)) AS gap_us")


_ASOF_DUCK = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
r AS (
  -- dedupe to the greatest event_id per (user, ts): DuckDB's native ASOF
  -- picks an ARBITRARY row at timestamp ties, while asof_join's
  -- documented tie rule is greatest right_id — pre-aggregating makes the
  -- oracle deterministic under any future corpus (today no sf corpus has
  -- duplicate (user, ts) pairs, but the gate must not rely on that)
  SELECT MAX(event_id) AS view_id, user_id AS r_user, ts AS view_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
SELECT l.event_id, CAST(l.user_id AS BIGINT) AS user_id,
       r.view_id,
       epoch_us(l.ts) - epoch_us(r.view_ts) AS gap_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.r_user AND l.ts >= r.view_ts
"""


# --- multi-level rollup aggregation ------------------------------------------
# OLAP cube semantics over the corpus dimensions: one ROLLUP pass emits
# (lang, source), (lang), and grand-total rows with GROUPING markers —
# Spark plans this as a single Expand + hash aggregate (one shuffle, rows
# x #levels map-side), identical SQL in both engines.

_ROLLUP_COUNTS = """
SELECT COALESCE(lang, '<all>') AS lang,
       COALESCE(source, '<all>') AS source,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS lvl,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY ROLLUP(lang, source)
"""


# --- statistical text-selection filters: CCNet ppl + DSIR + tf-idf ----------
# Three model-based data-selection operators over the documents corpus,
# merged into one section-tagged driver gate (stat_filters); the standalone
# variants are extended gates. All scores are quantize-then-sum integers:
# each log term is rounded to the 1e-4 grid FIRST and summed as BIGINT
# (coarse on purpose: the LN inputs are engine-computed transcendentals,
# and the odds of a 1-ulp libm disagreement landing on a rounding
# boundary scale with the grid density — 1e4 buys a 100x margin over
# 1e6 while keeping full ranking resolution), so
# aggregation order cannot perturb one output bit in either engine (the
# dem_filtering FIR policy applied to log-space model scores).
#
# 'ppl'   — CCNet-style LM filtering (Wenzek et al. 2020): a bigram LM with
#           add-one smoothing is trained on a designated reference slice
#           (lang='en'; the 100 TB shape — the model is a bounded, hence
#           broadcastable, dim exactly like CCNet's Wikipedia KenLM), every
#           document is scored by mean per-bigram cross-entropy, and the
#           corpus is cut into head/middle/tail at the exact 33/67 RANK
#           positions (integer compares rn*100 <= n*33 — no percentile
#           interpolation, whose a+(b-a)*f float shape is not identical
#           across engines). The rank window is global; at 100 TB the cut
#           comes from percentile_approx on a sample with the same
#           downstream CASE, the standard CCNet deployment.
# 'dsir'  — Data Selection with Importance Resampling (Xie et al. 2023):
#           hashed unigram features (64 buckets from the first two hex
#           digits of md5(word)), bucket weight = log p_target − log q_raw with add-one
#           smoothing, per-document importance weight = integer sum of
#           quantized bucket weights, top-25 selection via ORDER BY + LIMIT
#           (TakeOrderedAndProject at scale — never a one-partition global
#           window).
# 'tfidf' — per-document top-3 keywords by tf·idf with idf quantized to
#           integers (score = tf * qidf stays BIGINT-exact); deterministic
#           lexicographic tie-break.
#
# Plan shape at 100 TB: tokenization is map-side; the LM / bucket-weight /
# idf tables are all bounded (vocab, 64, vocab) -> broadcast joins; the only
# corpus-sized shuffles are the per-doc aggregations on doc_id and one
# bigram LEAD window per doc (Spark side), both keyed and combinable.

_HEX = "instr('0123456789abcdef', {c}) - 1"


def _stat_filters_sql(d: str, section: str | None = None) -> str:
    if d == "spark":
        base = """
toks AS (
  SELECT doc_id, lang, pos, w
  FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, w)"""
        big = """
big AS (
  SELECT doc_id, lang, w,
         LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
  FROM toks)"""
        sub = "substring"
    else:
        base = """
words AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
toks AS (
  SELECT doc_id, lang, i AS pos, l[i] AS w
  FROM words, UNNEST(generate_series(1, len(l))) s(i))"""
        big = """
big AS (
  SELECT doc_id, lang, l[i] AS w, l[i + 1] AS w1
  FROM words, UNNEST(generate_series(1, len(l) - 1)) s(i))"""
        sub = "substr"

    # 64-bucket md5 hashing trick: the first two hex digits, mod 64
    h1 = _HEX.format(c=f"{sub}(md5(w), 1, 1)")
    h2 = _HEX.format(c=f"{sub}(md5(w), 2, 1)")
    bucket = f"((({h1}) * 16 + ({h2})) % 64)"

    ppl = f"""
runi AS (SELECT w, COUNT(*) AS ca FROM toks WHERE lang = 'en' GROUP BY w),
rv AS (SELECT COUNT(*) AS v FROM runi),
rbi AS (SELECT w, w1, COUNT(*) AS cab FROM big
        WHERE lang = 'en' AND w1 IS NOT NULL GROUP BY w, w1),
sc AS (
  SELECT b.doc_id,
         CAST(ROUND(10000 * LN((COALESCE(rb.cab, 0) + 1.0)
              / (COALESCE(ru.ca, 0) + (SELECT v FROM rv))), 0)
              AS BIGINT) AS q
  FROM big b
  LEFT JOIN runi ru ON ru.w = b.w
  LEFT JOIN rbi rb ON rb.w = b.w AND rb.w1 = b.w1
  WHERE b.w1 IS NOT NULL),
ppl AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bi,
         CAST(SUM(q) AS BIGINT) AS sum_q
  FROM sc GROUP BY doc_id),
prk AS (
  SELECT doc_id, n_bi, sum_q,
         (0 - sum_q) / CAST(n_bi AS DOUBLE) / CAST(10000 AS DOUBLE)
             AS xent,
         ROW_NUMBER() OVER (ORDER BY (0 - sum_q) / CAST(n_bi AS DOUBLE),
                            doc_id) AS rn,
         COUNT(*) OVER () AS n
  FROM ppl),
pplb AS (
  SELECT doc_id, n_bi, sum_q, xent,
         CASE WHEN rn * 100 <= n * 33 THEN 'head'
              WHEN rn * 100 <= n * 67 THEN 'middle'
              ELSE 'tail' END AS bucket
  FROM prk)"""

    dsir = f"""
feats AS (
  SELECT doc_id, lang, CAST({bucket} AS BIGINT) AS b FROM toks),
tgt AS (SELECT b, COUNT(*) AS pc FROM feats WHERE lang = 'en' GROUP BY b),
rawc AS (SELECT b, COUNT(*) AS qc FROM feats GROUP BY b),
tots AS (SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                AS pt,
                CAST(COUNT(*) AS BIGINT) AS qt
         FROM feats),
wts AS (
  SELECT r.b,
         CAST(ROUND(10000 *
              (LN((COALESCE(t.pc, 0) + 1.0) / ((SELECT pt FROM tots) + 64))
               - LN((r.qc + 1.0) / ((SELECT qt FROM tots) + 64))), 0)
              AS BIGINT) AS wq
  FROM rawc r LEFT JOIN tgt t ON t.b = r.b),
dw AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(x.wq) AS BIGINT) AS wt
  FROM feats f JOIN wts x ON x.b = f.b
  GROUP BY f.doc_id),
dtop AS (SELECT doc_id, n_tok, wt FROM dw ORDER BY wt DESC, doc_id LIMIT 25),
dsel AS (
  SELECT doc_id, n_tok, wt,
         CAST(ROW_NUMBER() OVER (ORDER BY wt DESC, doc_id) AS BIGINT) AS rk
  FROM dtop)"""

    tfidf = """
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, w),
df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
idf AS (SELECT w, CAST(ROUND(10000 *
                LN(((SELECT n FROM nd) + 1.0) / (df + 1.0)), 0)
                AS BIGINT) AS qidf
        FROM df),
sct AS (SELECT t.doc_id, t.w, t.tf, t.tf * i.qidf AS score
        FROM tf t JOIN idf i ON i.w = t.w),
tk AS (SELECT doc_id, w, tf, score,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, w) AS rk
       FROM sct),
tfk AS (SELECT doc_id, CAST(rk AS BIGINT) AS rk, w, tf,
               CAST(score AS BIGINT) AS score
        FROM tk WHERE rk <= 3)"""

    finals = {
        "ppl": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_bi AS n_bigrams,
       sum_q AS sum_qlp, xent, bucket
FROM pplb""",
        "dsir": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tok, wt AS weight, rk
FROM dsel""",
        "tfidf": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, rk, w AS term, tf, score
FROM tfk""",
    }
    if section == "ppl":
        return "WITH " + ",".join([base, big, ppl]) + finals["ppl"]
    if section == "dsir":
        return "WITH " + ",".join([base, dsir]) + finals["dsir"]
    if section == "tfidf":
        return "WITH " + ",".join([base, tfidf]) + finals["tfidf"]
    return "WITH " + ",".join([base, big, ppl, dsir, tfidf]) + """
SELECT 'ppl' AS section, CAST(doc_id AS BIGINT) AS id, n_bi AS k1,
       sum_q AS k2, xent AS x, bucket AS tag
FROM pplb
UNION ALL
SELECT 'dsir', CAST(doc_id AS BIGINT), n_tok, wt, CAST(rk AS DOUBLE),
       'selected'
FROM dsel
UNION ALL
SELECT 'tfidf', CAST(doc_id AS BIGINT), rk, score, CAST(tf AS DOUBLE), w
FROM tfk"""


def _ann_dual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged ANN driver gate: the SRP-LSH gate (which already carries
    its exact brute-force baseline as method='exact' rows) plus the IVF
    search path as method='ivf' rows — three ANN strategies, one
    section-tagged driver row. The constituents are extended gates."""
    lsh = _ann_lsh(spark, sf_dir)
    ivf = _ann_ivf(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "qid", "vec_id", "rk", "cosine")
    return lsh.unionByName(ivf)


_ANN_DUAL_DUCK = f"""
SELECT method, qid, vec_id, rk, cosine FROM ({_ANN_LSH_DUCK})
UNION ALL
SELECT 'ivf' AS method, qid, vec_id, rk, cosine FROM ({_ANN_IVF_DUCK})
"""


QUERIES = [
    Query("exact_dedup", _EXACT_DEDUP, _EXACT_DEDUP),
    Query("text_quality", _TEXT_QUALITY, _TEXT_QUALITY),
    Query("bpe_token_count", _BPE_SPARK, _BPE_DUCK),
    Query("rabin_fingerprint", _RABIN_SPARK, _RABIN_DUCK, driver=True),
    Query("token_topk", _TOKEN_TOPK_SPARK, _TOKEN_TOPK_DUCK),
    Query("langid_heuristic", _LANGID_SPARK, _LANGID_DUCK),
    Query("doc_fingerprint", _FINGERPRINT_SPARK, _FINGERPRINT_DUCK),
    Query("text_analysis", _TEXT_ANALYSIS_SPARK,
          _TEXT_ANALYSIS_DUCK, driver=True),
    Query("minhash_lsh", _minhash_sql(_SHINGLES_SPARK, "spark"),
          _minhash_sql(_SHINGLES_DUCK, "duck")
          .replace("AS STRING", "AS VARCHAR")),
    Query("ngram_jaccard", _ngram_jaccard_salted,
          _jaccard_sql(_SHINGLES_DUCK)),
    Query("text_neardup", _text_neardup, _text_neardup_duck(), driver=True),
    Query("simhash", _SIMHASH_SPARK, _SIMHASH_DUCK),
    Query("embedding_topk", _topk_spark, _TOPK_DUCK),
    Query("simhash_neardup",
          _SIMHASH_ND_SPARK.replace("%%SIMHASH%%", _SIMHASH_SPARK),
          _SIMHASH_ND_DUCK.replace("%%SIMHASH%%", _SIMHASH_DUCK),
          driver=True),
    Query("embedding_neardup", _NEARDUP_SPARK, _NEARDUP_DUCK, driver=True),
    Query("stratified_sample", _STRATIFIED_SAMPLE, _STRATIFIED_SAMPLE),
    Query("ann_lsh", _ann_lsh, _ANN_LSH_DUCK),
    Query("ann_ivf", _ann_ivf, _ANN_IVF_DUCK),
    Query("dedup_clusters", _dedup_clusters,
          _dedup_clusters_duck(), driver=True),
    Query("training_data_pipeline", _training_pipeline,
          _TD_PIPELINE_DUCK, driver=True),
    Query("bpe_train", _bpe_train, _BPE_TRAIN_DUCK, driver=True),
    Query("ann_pq", _ann_pq, _ANN_PQ_DUCK),
    Query("asof_join", _asof_gate, _ASOF_DUCK),
    Query("rollup_counts", _ROLLUP_COUNTS, _ROLLUP_COUNTS),
    Query("stat_filters", _stat_filters_sql("spark"),
          _stat_filters_sql("duck"), driver=True),
    Query("lm_perplexity", _stat_filters_sql("spark", "ppl"),
          _stat_filters_sql("duck", "ppl")),
    Query("dsir_select", _stat_filters_sql("spark", "dsir"),
          _stat_filters_sql("duck", "dsir")),
    Query("tfidf_keywords", _stat_filters_sql("spark", "tfidf"),
          _stat_filters_sql("duck", "tfidf")),
    Query("ann_dual", _ann_dual, _ANN_DUAL_DUCK, driver=True),
]
