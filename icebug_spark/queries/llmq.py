"""LLM-data-pipeline query entries (driver north-star extension):
dedup, text analysis, embedding similarity over documents/embeddings.

SQL-expressible ops carry DuckDB oracle twins; sketch-based ops
(MinHash-LSH, SimHash, SRP-ANN) hash with Spark's xxhash64 and are
rows-only checked (the exact n-gram Jaccard twin *is* their oracle
baseline: LSH candidates ⊆ exact pairs by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icebug_spark.catalog import table
from icebug_spark.llm import dedup, mixing, multimodal, similarity, textstats, tokenize
from icebug_spark.plans.iterate import checkpoint


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_duplicates(table(spark, sf, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
       COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def dedup_clusters_q(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive dedup clusters + canonical survivor over the exact-dup
    pair graph — FULL value oracle: over md5-fingerprint groups the
    cluster is the group and the survivor its min doc_id."""
    docs = table(spark, sf, "documents")
    pairs = dedup.exact_duplicate_pairs(docs)
    return dedup.dedup_clusters(docs, pairs)


DEDUP_CLUSTERS_SQL = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY fp) AS cluster_id,
       doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep
FROM (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents
)
"""


def text_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.text_stats(table(spark, sf, "documents"))


def fingerprint_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.fingerprint(table(spark, sf, "documents"))


def token_count_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.token_count_by_source(table(spark, sf, "documents"))


TOKEN_COUNT_SQL = """
WITH t AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM t GROUP BY source
"""


def lang_id_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.language_id(table(spark, sf, "documents"))


def _lang_sql() -> str:
    hits = ",\n       ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS hits_{lang}"
        for lang, pat in textstats.LANG_PATTERNS.items()
    )
    langs = sorted(textstats.LANG_PATTERNS)
    best = "GREATEST(" + ", ".join(f"hits_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN best > 0 AND hits_{l} = best THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return f"""
WITH h AS (
  SELECT doc_id,
       {hits}
  FROM documents
), b AS (SELECT *, {best} AS best FROM h)
SELECT doc_id, {case} AS pred_lang, CAST(best AS BIGINT) AS stopword_hits FROM b
"""


def ngram_jaccard_q(spark: SparkSession, sf: str) -> DataFrame:
    # max_doc_freq=100: boilerplate shingles (df > 100) are dropped from
    # both numerator and denominator — kills the hot-shingle quadratic
    # blowup in the self-join; the oracle applies the identical cap.
    return dedup.ngram_jaccard_pairs(
        table(spark, sf, "documents"), n=3, threshold=0.2, max_doc_freq=100
    )


NGRAM_JACCARD_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM toks WHERE len(t) >= 3
  )
),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  WHERE shingle IN (
    SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) <= 100
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6)
           AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.2
"""


def ngram_jaccard_uncapped_q(spark: SparkSession, sf: str) -> DataFrame:
    # max_doc_freq=None: the fully exact small-corpus baseline (every
    # shingle kept) — full-value twin of the capped at-scale default
    return dedup.ngram_jaccard_pairs(
        table(spark, sf, "documents"), n=3, threshold=0.2, max_doc_freq=None
    )


# identical to NGRAM_JACCARD_SQL minus the document-frequency cap CTE
NGRAM_JACCARD_UNCAPPED_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, len(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM toks WHERE len(t) >= 3
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE), 6)
           AS jaccard
FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - common AS DOUBLE) >= 0.2
"""


def embedding_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.cosine_topk(
        table(spark, sf, "embeddings"), query_filter=lambda c: c < 10, k=10
    )


EMBEDDING_TOPK_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id,
         ROUND(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)
             AS cosine
  FROM q CROSS JOIN base WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 10
"""


def minhash_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH certificate (sketches hash with Spark xxhash64, so the
    pair SET is not SQL-reproducible; the checkable claims): every
    reported pair appears in the independently-computed EXACT n-gram
    Jaccard pair set with the SAME jaccard value (precision 1.0 by
    construction — a broken banding/verify stage emits a pair the exact
    join refutes), and all values clear the threshold."""
    docs = table(spark, sf, "documents")
    got = checkpoint(dedup.minhash_lsh_duplicates(
        docs, n=3, num_hashes=16, bands=4, threshold=0.2
    ))
    # max_doc_freq=None: the certificate's ground truth must be the fully
    # exact pair set, not the capped at-scale default
    exact = checkpoint(dedup.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_doc_freq=None
    ))
    joined = got.join(
        exact.withColumnRenamed("jaccard", "exact_j"), ["doc_a", "doc_b"], "left"
    )
    return joined.agg(
        F.min(F.col("exact_j").isNotNull()).alias("subset_of_exact"),
        F.min(F.col("jaccard") == F.col("exact_j")).alias("jaccards_match_exact"),
        F.min(F.col("jaccard") >= 0.2).alias("all_ge_threshold"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


MINHASH_LSH_SQL = (
    "SELECT TRUE AS subset_of_exact, TRUE AS jaccards_match_exact, "
    "TRUE AS all_ge_threshold, TRUE AS nonempty"
)


def simhash_q(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash certificate: doc count is exact (SQL-computable) and every
    EXACT-duplicate group (same normalized text) gets one identical
    signature — bit-majority over identical token streams must agree; a
    broken vote/packing flips the boolean."""
    docs = table(spark, sf, "documents")
    sigs = checkpoint(dedup.simhash(docs))
    fp = docs.select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        ).alias("fp"),
    )
    per_group = (
        sigs.join(fp, "doc_id")
        .groupBy("fp")
        .agg(F.countDistinct("simhash").alias("n_sigs"))
    )
    return sigs.agg(
        F.count(F.lit(1)).alias("n_docs"),
    ).crossJoin(
        per_group.agg(F.min(F.col("n_sigs") == 1).alias("dup_groups_consistent"))
    )


SIMHASH_SQL = (
    "SELECT COUNT(*) AS n_docs, TRUE AS dup_groups_consistent FROM documents"
)


def ann_candidates_q(spark: SparkSession, sf: str) -> DataFrame:
    """SRP-LSH certificate: reported candidates must be a SUBSET of the
    brute-force pair set at the same cosine threshold with matching
    rounded cosines (recomputed via an independent cross-join), pairs
    canonical (a < b). Bucket membership itself hashes with xxhash64 and
    is not SQL-expressible."""
    emb = table(spark, sf, "embeddings")
    got = checkpoint(similarity.ann_candidates(emb, planes=12, min_cosine=0.3))
    exact = checkpoint(_exact_cosine_pairs(emb, 0.3))
    joined = got.join(
        exact.withColumnRenamed("cosine", "exact_c"), ["vec_a", "vec_b"], "left"
    )
    return joined.agg(
        F.min(F.col("exact_c").isNotNull()).alias("subset_of_exact"),
        F.min(F.col("cosine") == F.col("exact_c")).alias("cosines_match"),
        F.min(F.col("vec_a") < F.col("vec_b")).alias("canonical_pairs"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


ANN_CANDIDATES_SQL = (
    "SELECT TRUE AS subset_of_exact, TRUE AS cosines_match, "
    "TRUE AS canonical_pairs, TRUE AS nonempty"
)


def _exact_cosine_pairs(emb: DataFrame, min_cosine: float) -> DataFrame:
    """Brute-force all-pairs cosine ≥ t — the independent witness set for
    the LSH certificates. O(n²) by design: it exists to REFUTE the
    bucketed path, and runs only inside correctness queries."""
    # SAME arithmetic as the operator under test (similarity._dot/_norm2,
    # incl. the per-element double cast): without the cast the products
    # round in float32 and a pair near a 6dp boundary certifies false —
    # observed at sf0.1 (the witness set must differ in SEARCH STRATEGY,
    # not in arithmetic)
    from icebug_spark.llm.similarity import _dot, _norm2

    base = emb.select("vec_id", "embedding")
    a = base.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = base.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    dot = _dot(F.col("ea"), F.col("eb"))
    na = F.sqrt(_norm2(F.col("ea")))
    nb = F.sqrt(_norm2(F.col("eb")))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(dot / (na * nb), 6).alias("cosine"))
        .where(F.col("cosine") >= min_cosine)
    )


def quality_score_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.quality_score(table(spark, sf, "documents"))


# The (doc_id, quality) CTE chain ending in `qscore` — shared by the
# quality-score oracle and the curriculum-stages oracle so the two stay
# textually tied.
_QUALITY_CTE = """s AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE)
             / GREATEST(length(text), 1) AS punct_ratio,
         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / GREATEST(length(text), 1) AS digit_ratio,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1)
             AS avg_token_len
  FROM documents
), qscore AS (
  SELECT doc_id,
         ROUND(0.4 * LEAST(n_tokens / 50.0, 1.0)
             + 0.2 * (1.0 - LEAST(punct_ratio * 5.0, 1.0))
             + 0.2 * (1.0 - LEAST(digit_ratio * 4.0, 1.0))
             + 0.2 * (CASE WHEN avg_token_len >= 2.0 AND avg_token_len <= 12.0
                           THEN 1.0 ELSE 0.25 END), 6) AS quality
  FROM s
)"""

QUALITY_SCORE_SQL = f"""
WITH {_QUALITY_CTE}
SELECT doc_id, quality, quality >= 0.5 AS keep FROM qscore
"""


def media_summary_q(spark: SparkSession, sf: str) -> DataFrame:
    media = multimodal.make_media_table(table(spark, sf, "documents"))
    return multimodal.media_summary(media)


MEDIA_SUMMARY_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text)) AS n_bytes
  FROM documents
)
SELECT kind, COUNT(*) AS n_items, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       ROUND(AVG(n_bytes), 6) AS avg_bytes
FROM m GROUP BY kind
"""


def image_decode_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode (PPM/BMP parsers in llm/codecs.py) over the
    synthesized decodable fixtures. Fixture geometry is closed-form in
    doc_id, so the DuckDB twin value-checks that the decoder actually
    recovered the encoded dimensions."""
    docs = table(spark, sf, "documents").where(F.col("doc_id") % 3 == 0)
    media = multimodal.make_decodable_media_table(docs)
    dec = multimodal.decode_images(media, feature_dim=8, use_real_codecs=True)
    return dec.select("media_id", "width", "height", "channels")


IMAGE_DECODE_SQL = """
SELECT doc_id AS media_id,
       16 + CAST(doc_id % 48 AS INT) AS width,
       16 + CAST((doc_id // 3) % 48 AS INT) AS height,
       3 AS channels
FROM documents WHERE doc_id % 3 = 0
"""


def audio_features_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL WAV header/sample parse; emits (media_id, sample_rate,
    n_samples) where n_samples round-trips duration_s — both closed-form
    in doc_id for the fixtures, so DuckDB value-checks the decoder."""
    docs = table(spark, sf, "documents").where(F.col("doc_id") % 3 == 1)
    media = multimodal.make_decodable_media_table(docs)
    au = multimodal.audio_features(media, n_mfcc=13, use_real_codecs=True)
    return au.select(
        "media_id",
        "sample_rate",
        F.round(F.col("duration_s") * F.col("sample_rate")).cast("long").alias("n_samples"),
    )


AUDIO_FEATURES_SQL = """
WITH a AS (
  SELECT doc_id AS media_id,
         CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000
              WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
         CAST(doc_id % 1000 AS BIGINT) AS extra
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id, sample_rate,
       CAST(sample_rate // 10 + extra AS BIGINT) AS n_samples
FROM a
"""


def frame_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    """REAL ppmseq frame sampling (actual frame-boundary parsing). The
    fixture has 3 + doc_id%3 frames; evenly-strided sample indices and
    fps-derived timestamps are closed-form, value-checked by the twin."""
    docs = table(spark, sf, "documents").where(F.col("doc_id") % 3 == 2)
    media = multimodal.make_decodable_media_table(docs)
    fr = multimodal.sample_frames(media, frames_per_video=4, use_real_codecs=True)
    return fr.select("media_id", "frame_idx", "ts_ms")


FRAME_SAMPLE_SQL = """
WITH v AS (
  SELECT doc_id AS media_id, 3 + CAST(doc_id % 3 AS INT) AS n,
         LEAST(4, 3 + CAST(doc_id % 3 AS INT)) AS k
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST((n - 1) * j // GREATEST(k - 1, 1) AS INT) AS frame_idx,
       CAST(((n - 1) * j // GREATEST(k - 1, 1)) * 1000 // 10 AS BIGINT) AS ts_ms
FROM v, generate_series(0, 3) AS t(j)
WHERE j < k
"""


def ivf_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    """IVF run in its EXACT regime (probe every cell): results must equal
    brute-force cosine top-k, giving the cell-assignment + probe + rank
    pipeline a full value oracle (the partial-probe approximate regime is
    covered by tests/test_multimodal.py::test_ivf_topk_vs_bruteforce)."""
    return similarity.ivf_topk(
        table(spark, sf, "embeddings"),
        query_filter=lambda c: c < 10,
        k=10,
        n_cells=16,
        n_probe=16,
    )


IVF_TOPK_SQL = """
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE vec_id < 10),
scored AS (
  SELECT query_id, vec_id,
         ROUND(list_dot_product(qe, e)
               / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)
             AS cosine
  FROM q CROSS JOIN base WHERE vec_id <> query_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 10
"""


def near_dup_embeddings_q(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup certificate (same witness-set structure as
    ann_candidates, at the near-dup threshold / plane count). Synthetic
    embeddings have no true dups (max pairwise cosine ~0.43); 0.3 keeps
    the high-similarity tail non-empty."""
    emb = table(spark, sf, "embeddings")
    got = checkpoint(similarity.embedding_near_duplicates(
        emb, min_cosine=0.3, planes=8
    ))
    exact = checkpoint(_exact_cosine_pairs(emb, 0.3))
    joined = got.join(
        exact.withColumnRenamed("cosine", "exact_c"), ["vec_a", "vec_b"], "left"
    )
    return joined.agg(
        F.min(F.col("exact_c").isNotNull()).alias("subset_of_exact"),
        F.min(F.col("cosine") == F.col("exact_c")).alias("cosines_match"),
        (F.count(F.lit(1)) > 0).alias("nonempty"),
    )


NEAR_DUP_SQL = (
    "SELECT TRUE AS subset_of_exact, TRUE AS cosines_match, TRUE AS nonempty"
)



def repetition_filter_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.repetition_filter(table(spark, sf, "documents"))


REPETITION_SQL = """
WITH lines AS (
  SELECT doc_id, line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents
  ) WHERE length(trim(line)) > 0
),
lc AS (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY doc_id, line),
lf AS (
  SELECT doc_id, CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_line_frac
  FROM lc GROUP BY doc_id
),
toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(0, len(t) - 1),
                 i -> t[i+1] || ' ' || t[i+2])) AS g
  FROM toks WHERE len(t) >= 2
),
gc AS (SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g),
gf AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_ngram_frac
  FROM gc GROUP BY doc_id
)
SELECT d.doc_id,
       ROUND(COALESCE(lf.dup_line_frac, 0.0), 6) AS dup_line_frac,
       ROUND(COALESCE(gf.top_ngram_frac, 0.0), 6) AS top_ngram_frac,
       COALESCE(lf.dup_line_frac, 0.0) <= 0.3
         AND COALESCE(gf.top_ngram_frac, 0.0) <= 0.2 AS keep
FROM documents d
LEFT JOIN lf ON lf.doc_id = d.doc_id
LEFT JOIN gf ON gf.doc_id = d.doc_id
"""


def contamination_q(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination scan against a deterministic benchmark subset
    (every 100th document poses as a benchmark item): each benchmark doc
    at minimum flags itself; near-dups of benchmark docs surface too."""
    docs = table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return textstats.benchmark_contamination(docs, bench, n=3, min_overlap=2)


CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM toks WHERE len(t) >= 3
  )
),
bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 100 = 0)
SELECT s.doc_id, b.bench_id, COUNT(DISTINCT s.shingle) AS n_shared
FROM sh s JOIN bench b ON b.shingle = s.shingle
GROUP BY s.doc_id, b.bench_id
HAVING COUNT(DISTINCT s.shingle) >= 2
"""


def pii_scrub_q(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (``llm/scrub.py``) — full value oracle. The
    synthetic corpus carries no organic PII, so the certificate INJECTS
    deterministic doc_id-derived PII (emails/phones/IPs/SSNs/CCs on
    overlapping doc_id moduli — varied per-doc combinations), then
    scrubs; Spark's Java-regex chain and DuckDB's RE2 twin must agree on
    every replaced byte and per-category count."""
    from icebug_spark.llm.scrub import scrub_pii

    d = table(spark, sf, "documents").select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" user"), did, F.lit("@mail.example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" from 192.168."), (F.col("doc_id") % 256).cast("string"),
                        F.lit("."), (F.col("doc_id") % 100).cast("string"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" ssn 987-65-4321")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" card 4111-1111-1111-1111")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit(" tel +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                        F.lit("-0199"))).otherwise(F.lit("")),
    )
    s = scrub_pii(d.select("doc_id", injected.alias("text")))
    return s.select(
        "doc_id", "text_scrubbed", "n_email", "n_cc", "n_ssn", "n_phone", "n_ipv4"
    )


_PII_INJECT_SQL = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 100 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ssn 987-65-4321' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-0199'
                 ELSE '' END AS text
  FROM documents
"""

PII_SCRUB_SQL = f"""
WITH t0 AS ({_PII_INJECT_SQL}),
t1 AS (SELECT doc_id,
              len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS n_email,
              regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g') AS text
       FROM t0),
t2 AS (SELECT doc_id, n_email,
              len(regexp_extract_all(text, '\\b[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}\\b')) AS n_cc,
              regexp_replace(text, '\\b[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}-[0-9]{{4}}\\b', '<CC>', 'g') AS text
       FROM t1),
t3 AS (SELECT doc_id, n_email, n_cc,
              len(regexp_extract_all(text, '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b')) AS n_ssn,
              regexp_replace(text, '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b', '<SSN>', 'g') AS text
       FROM t2),
t4 AS (SELECT doc_id, n_email, n_cc, n_ssn,
              len(regexp_extract_all(text, '\\+[0-9]{{1,3}}-[0-9]{{3}}-[0-9]{{3,4}}-[0-9]{{4}}\\b')) AS n_phone,
              regexp_replace(text, '\\+[0-9]{{1,3}}-[0-9]{{3}}-[0-9]{{3,4}}-[0-9]{{4}}\\b', '<PHONE>', 'g') AS text
       FROM t3),
t5 AS (SELECT doc_id, n_email, n_cc, n_ssn, n_phone,
              len(regexp_extract_all(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS n_ipv4,
              regexp_replace(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b', '<IP>', 'g') AS text
       FROM t4)
SELECT doc_id, text AS text_scrubbed, n_email, n_cc, n_ssn, n_phone, n_ipv4
FROM t5
"""


# --- corpus assembly: mixing / packing / boilerplate / split -------------
# Fixed parameters so the query is the same plan at every SF: the 20
# synthetic sources each get a 600-token budget (≈ half a source at
# sf0.01, a stricter cut at sf0.1), sequences are 256 tokens, boilerplate
# is any line shared by ≥2 docs, the holdout is 20%.
_MIX_BUDGETS = {f"src{i}": 600 for i in range(20)}


def mixture_weights_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.temperature_weights(table(spark, sf, "documents"), alpha=0.5)


def mixture_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.mixture_sample(table(spark, sf, "documents"), _MIX_BUDGETS)


def pack_sequences_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.pack_sequences(table(spark, sf, "documents"), seq_len=256)


def boilerplate_removal_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.remove_boilerplate(table(spark, sf, "documents"), min_docs=2)


def train_test_split_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.train_test_split(table(spark, sf, "documents"), test_frac=0.2)


def corpus_assembly_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.corpus_assembly(
        table(spark, sf, "documents"), _MIX_BUDGETS, seq_len=256
    )


def kcenter_select_q(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.kcenter_select(table(spark, sf, "embeddings"), k=8)


def dsir_weights_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.dsir_log_weights(table(spark, sf, "documents"), k=0.5)


def kmeans_assign_q(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.kmeans_assign(table(spark, sf, "embeddings"), k=8, iters=3)


def semdedup_pairs_q(spark: SparkSession, sf: str) -> DataFrame:
    # threshold 2/5 = cosine 0.4 (the synthetic embeddings top out near
    # 0.48 pairwise, so 0.95 would be vacuous); exact rational predicate
    return similarity.semdedup_pairs(
        table(spark, sf, "embeddings"), k=8, iters=3, threshold_num=2, threshold_den=5
    )


def chunk_documents_q(spark: SparkSession, sf: str) -> DataFrame:
    # size 64 / stride 48: adjacent chunks overlap by 16 tokens
    return mixing.chunk_documents(table(spark, sf, "documents"), size=64, stride=48)


def lm_perplexity_q(spark: SparkSession, sf: str) -> DataFrame:
    return textstats.lm_perplexity(table(spark, sf, "documents"), k=0.5)


def bpe_merges_q(spark: SparkSession, sf: str) -> DataFrame:
    return tokenize.bpe_learn(table(spark, sf, "documents"), n_merges=8)


def bpe_token_counts_q(spark: SparkSession, sf: str) -> DataFrame:
    return tokenize.bpe_segment_counts(table(spark, sf, "documents"), n_merges=8)


def stratified_sample_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.stratified_sample(
        table(spark, sf, "documents"), frac=0.2, by=("source", "lang")
    )


def curriculum_stages_q(spark: SparkSession, sf: str) -> DataFrame:
    return mixing.curriculum_stages(table(spark, sf, "documents"), n_stages=4)


def substring_dedup_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    # k=8, min_count=2: a token 8-gram repeated anywhere in the corpus
    # (including within one document) marks its span as duplicated —
    # the ExactSubstr rule of Lee et al. 2022.
    return dedup.duplicated_span_stats(
        table(spark, sf, "documents"), k=8, min_count=2
    )


def substring_dedup_removal_q(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.remove_duplicated_spans(
        table(spark, sf, "documents"), k=8, min_count=2
    )


LLM = {
    "llm_dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "llm_substring_dedup": (
        substring_dedup_stats_q,
        dedup.duplicated_span_stats_sql(8, 2),
    ),
    "llm_substring_removal": (
        substring_dedup_removal_q,
        dedup.remove_duplicated_spans_sql(8, 2),
    ),
    "llm_pii_scrub": (pii_scrub_q, PII_SCRUB_SQL),
    "llm_dedup_clusters": (dedup_clusters_q, DEDUP_CLUSTERS_SQL),
    "llm_text_stats": (text_stats_q, textstats.TEXT_STATS_SQL),
    "llm_fingerprint": (fingerprint_q, textstats.FINGERPRINT_SQL),
    "llm_token_count_by_source": (token_count_q, TOKEN_COUNT_SQL),
    "llm_lang_id": (lang_id_q, _lang_sql()),
    "llm_ngram_jaccard_pairs": (ngram_jaccard_q, NGRAM_JACCARD_SQL),
    "llm_ngram_jaccard_uncapped": (ngram_jaccard_uncapped_q, NGRAM_JACCARD_UNCAPPED_SQL),
    "llm_embedding_topk": (embedding_topk_q, EMBEDDING_TOPK_SQL),
    # sketch-based: certificates vs independent exact witness sets
    "llm_quality_score": (quality_score_q, QUALITY_SCORE_SQL),
    "llm_media_summary": (media_summary_q, MEDIA_SUMMARY_SQL),
    # sketch-based: certificates vs independent exact witness sets
    "llm_minhash_lsh_dups": (minhash_lsh_q, MINHASH_LSH_SQL),
    "llm_simhash": (simhash_q, SIMHASH_SQL),
    "llm_ann_candidates": (ann_candidates_q, ANN_CANDIDATES_SQL),
    # multimodal decode: REAL codecs over synthesized decodable fixtures;
    # geometry is closed-form in doc_id → full value oracles
    "llm_image_decode": (image_decode_q, IMAGE_DECODE_SQL),
    "llm_audio_features": (audio_features_q, AUDIO_FEATURES_SQL),
    "llm_frame_sample": (frame_sample_q, FRAME_SAMPLE_SQL),
    # IVF / near-dup use Spark xxhash64 bucketing → rows-only
    "llm_ivf_topk": (ivf_topk_q, IVF_TOPK_SQL),
    "llm_near_dup_embeddings": (near_dup_embeddings_q, NEAR_DUP_SQL),
    "llm_repetition_filter": (repetition_filter_q, REPETITION_SQL),
    "llm_contamination": (contamination_q, CONTAMINATION_SQL),
    # corpus assembly — all deterministic (md5 / doc_id ordering), all
    # full-value oracles
    "llm_mixture_weights": (mixture_weights_q, mixing.temperature_weights_sql(0.5)),
    "llm_mixture_sample": (mixture_sample_q, mixing.mixture_sample_sql(_MIX_BUDGETS)),
    "llm_pack_sequences": (pack_sequences_q, mixing.pack_sequences_sql(256)),
    "llm_boilerplate_removal": (
        boilerplate_removal_q,
        mixing.REMOVE_BOILERPLATE_SQL_TMPL.format(min_docs=2),
    ),
    "llm_train_test_split": (train_test_split_q, mixing.train_test_split_sql(0.2)),
    "llm_corpus_assembly": (
        corpus_assembly_q,
        mixing.corpus_assembly_sql(_MIX_BUDGETS, 256),
    ),
    "llm_stratified_sample": (
        stratified_sample_q,
        mixing.stratified_sample_sql(0.2, ("source", "lang")),
    ),
    "llm_curriculum_stages": (
        curriculum_stages_q,
        mixing.curriculum_stages_sql(4, _QUALITY_CTE),
    ),
    # tokenizer training: the merge sequence is deterministic (max count,
    # lexicographic tie-break), so the oracle replays the full 8-step
    # loop as a generated materialized-CTE chain
    "llm_bpe_merges": (bpe_merges_q, tokenize.bpe_learn_sql(8)),
    "llm_bpe_token_counts": (bpe_token_counts_q, tokenize.bpe_segment_counts_sql(8)),
    "llm_lm_perplexity": (lm_perplexity_q, textstats.lm_perplexity_sql(0.5)),
    "llm_chunk_overlap": (chunk_documents_q, mixing.chunk_documents_sql(64, 48)),
    # integer-exact k-means / SemDeDup: quantize once, then every
    # distance, argmin, and floor-mean update is bigint arithmetic — the
    # oracle replays the full Lloyd trajectory as a materialized chain
    "llm_kmeans_assign": (kmeans_assign_q, similarity.kmeans_assign_sql(8, 3)),
    "llm_semdedup_pairs": (
        semdedup_pairs_q,
        similarity.semdedup_pairs_sql(8, 3, 1000, 2, 5),
    ),
    "llm_dsir_weights": (
        dsir_weights_q,
        textstats.dsir_log_weights_sql(0.5, _QUALITY_CTE),
    ),
    "llm_kcenter_select": (kcenter_select_q, similarity.kcenter_select_sql(8)),
}
