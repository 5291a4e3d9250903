"""Deduplication operators over the ``documents`` table.

Pipeline extension (driver north-star): exact dedup, n-gram Jaccard
near-dup, MinHash+LSH, SimHash. Exact + n-gram-Jaccard have DuckDB
oracle twins (pure SQL-expressible); MinHash/SimHash depend on Spark's
xxhash64 so the driver records the weaker rows-only check for them.

Scale design: all variants are shuffle-bounded by the shingle/band join —
no driver-side state, no collect. MinHash-LSH is the 100 TB path (the
candidate-pair join keys on (band_id, band_hash), so comparisons scale
with collisions, not with n^2); the exact n-gram join is the small-corpus
oracle baseline.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint


def _norm_tokens(col):
    return F.split(
        F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " "
    )


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Group by content fingerprint → (fp, n_copies, keep_id). Groups of
    size 1 included so the output is a full dedup manifest."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        documents.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def _gram_arrays(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams ARRAY<STRING>): every word n-gram occurrence of the
    normalized text, in position order — the ZERO-shuffle kernel under
    :func:`shingles`, :func:`_kgram_starts` and the MinHash shingle
    sets of :func:`minhash_lsh_duplicates`. The token array is materialized once
    per row at the project level, sliced into n shifted views and
    stitched via ``arrays_zip`` + ``transform`` (the lambda touches only
    the zipped struct).

    Two trip-wires the shape avoids: referencing the token array INSIDE
    a lambda (``transform(sequence(...), i -> element_at(toks, i+j))``)
    re-evaluates the whole regexp+split tokenization per element — no
    common-subexpression elimination through lambda bodies; measured
    15 s vs ~1 s at sf0.1 — while sibling ``slice`` calls at the project
    level share one evaluation. And the slices are aliased in their own
    select BEFORE ``arrays_zip`` so the zipped struct's field names are
    pinned (s0..s{n-1}) at analysis time; the optimizer then collapses
    the projections without renaming."""
    toks = _norm_tokens(F.col("text"))
    length = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    sliced = documents.select(
        "doc_id", *[F.slice(toks, j + 1, length).alias(f"s{j}") for j in range(n)]
    )
    grams = F.transform(
        F.arrays_zip(*[F.col(f"s{j}") for j in range(n)]),
        lambda s: F.concat_ws(" ", *[s[f"s{j}"] for j in range(n)]),
    )
    return sliced.select("doc_id", grams.alias("grams"))


def shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct word n-grams of normalized text.

    ZERO-shuffle: grams are built in-row (:func:`_gram_arrays`),
    deduplicated in-row with ``array_distinct`` (cross-doc duplicates
    are impossible — doc_id differs), and exploded. This replaces the
    posexplode → window ``lead`` over (doc_id, pos) → global
    ``.distinct()`` pipeline, which shuffled the exploded token stream
    once for the window and the shingle table again for the dedup — 2
    exchanges of corpus-sized data that pure column expressions make
    unnecessary."""
    return _gram_arrays(documents, n).select(
        "doc_id", F.explode(F.array_distinct("grams")).alias("shingle")
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs above threshold, jaccard on
    distinct word-n-gram sets, rounded 6dp. Exact (no sketch) — the
    oracle-checkable baseline for near-dup detection.

    ``max_doc_freq``: drop shingles appearing in more than this many
    documents (from numerator AND denominator — "jaccard over
    non-boilerplate shingles"). The standard cap: a single hot
    boilerplate n-gram makes the self-join quadratic in its document
    frequency, so at scale the cap bounds the join's skew; semantics
    stay well-defined and SQL-expressible. The DEFAULT is capped at
    1000 — the uncapped self-join is quadratic in the hottest shingle's
    document frequency, which is the one shape that cannot ship at
    100 TB; pass ``max_doc_freq=None`` explicitly for the fully exact
    small-corpus baseline (the oracle twins do).

    The shingle table feeds three consumers (sizes + both join sides), so
    it is materialized once instead of re-tokenizing the corpus per branch."""
    sh = shingles(documents, n)
    if max_doc_freq is not None:
        # document frequency as a count window over the shingle key: ONE
        # shuffle of the shingle table, vs the groupBy + semijoin pair it
        # replaces (two scans + an extra exchange; measured 1.98 s → 1.67 s
        # at sf0.1). sh is distinct (doc_id, shingle), so the per-shingle
        # row count IS the document frequency.
        from pyspark.sql import Window

        sh = (
            sh.withColumn(
                "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .where(F.col("df") <= max_doc_freq)
            .drop("df")
        )
    sh = checkpoint(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _signatures(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>) from a (doc_id, shingle) table — the
    one MinHash kernel: slot i is ``min(xxhash64(i, shingle))`` over the
    doc's rows, one codegen'd groupBy (map-side partial mins) instead of
    ``num_hashes`` interpreted array folds per row."""
    return sh.groupBy("doc_id").agg(
        F.array(
            *[F.min(F.xxhash64(F.lit(i), F.col("shingle"))) for i in range(num_hashes)]
        ).alias("sig")
    )


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>): MinHash over word-n-gram shingles.
    Hash family: xxhash64 seeded by permutation index (JVM-side).
    ``shingle_df``: pre-computed ``shingles(documents, n)`` (or any
    (doc_id, shingle) table, e.g. a capped one); without it the
    shingles are built from ``documents``. Both paths, and
    :func:`minhash_lsh_duplicates`, aggregate through the same kernel
    (:func:`_signatures`), so a signature depends only on the doc's
    distinct shingle set. Docs with no shingles produce no row."""
    sh = shingles(documents, n) if shingle_df is None else shingle_df
    return _signatures(sh, num_hashes)


def band_buckets(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, bucket) — each doc's banded MinHash bucket keys
    (r = num_hashes/bands signature rows hashed per band). Shared by the
    batch LSH (``minhash_lsh_duplicates``) and the streaming incremental
    dedup (``streaming.dedup.StreamingLshDedup``) so stream/batch
    candidate parity holds by construction."""
    sig = minhash_signatures(documents, n, num_hashes, shingle_df=shingle_df)
    return _bands_from_sig(sig, num_hashes, bands)


def _bands_from_sig(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket) from a (doc_id, sig) table — one banded
    bucket key per band, r = num_hashes/bands signature slots hashed."""
    r = num_hashes // bands
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(*[F.col("sig")[bi * r + j] for j in range(r)]).alias(
                            "bucket"
                        ),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_duplicates(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, verified with exact
    shingle Jaccard → (doc_a, doc_b, jaccard).

    Bands of r = num_hashes/bands rows are hashed to buckets; pairs
    colliding in >= 1 band become candidates (probability 1-(1-s^r)^b for
    true similarity s). Candidates are then verified exactly, so output
    precision is 1.0 and only recall depends on the sketch.

    Each per-document quantity is computed once: one checkpointed table
    of distinct shingle SETS ``(doc_id, s)`` feeds both the signatures
    (exploded into the shared :func:`_signatures` kernel, the same path
    :func:`band_buckets` takes) and the verify, which joins each
    candidate pair to both docs' sets and scores it in-row —
    ``common = size(array_intersect(sa, sb))``, Jaccard
    ``common / (|sa| + |sb| - common)`` rounded 6 dp. No shingle
    self-join: verify cost scales with the candidate count, not with
    shingle co-occurrences."""
    sets = checkpoint(
        _gram_arrays(documents, n)
        .where(F.size("grams") > 0)
        .select("doc_id", F.array_distinct("grams").alias("s"))
    )
    sig = _signatures(sets.select("doc_id", F.explode("s").alias("shingle")), num_hashes)
    band_rows = _bands_from_sig(sig, num_hashes, bands)
    a = band_rows.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = band_rows.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    candidates = (
        a.join(b, ["band", "bucket"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    scored = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("common"),
            F.size("sa").alias("na"),
            F.size("sb").alias("nb"),
        )
    )
    # a pair sharing no shingle is not a duplicate, whatever the threshold
    return (
        scored.where(F.col("common") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash BIGINT): per-token 64-bit hash, bitwise majority
    vote. Near-dups share most bits (compare via hamming distance).

    The vote matrix is computed by ONE Arrow-vectorized pandas_udf over
    just the per-row token-hash array (guide §4.2: hand whole batches to
    numpy): `bits` interpreted higher-order folds per row — Spark HOFs
    are not codegen'd, so the previous in-row shape paid `bits`·|tokens|
    lambda interpretations per document — become a single vectorized
    bit-matrix popcount. Still zero shuffles, and every operation is
    two's-complement integer arithmetic identical to the JVM expressions
    (bit i of an arithmetic-shifted long, wrap-around packing of bit 63),
    so the signatures are bit-identical.

    Output contract: EVERY document emits a row. Documents whose
    normalized text has no tokens (empty / whitespace-only / null) emit
    ``simhash = 0`` — the empty majority vote — so the certificate's
    n_docs == COUNT(*) holds exactly (the pre-round-10 explode+groupBy
    shape silently dropped token-less docs; consumers wanting the old
    behavior filter ``size(hs) > 0`` upstream)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _sim(hs: pd.Series) -> pd.Series:
        import numpy as np

        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(hs), dtype=np.int64)
        for i, arr in enumerate(hs):
            if arr is None or len(arr) == 0:
                continue
            a = np.asarray(arr, dtype=np.int64).view(np.uint64)
            ones = ((a[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
            votes = 2 * ones.astype(np.int64) - np.int64(len(a))
            packed = (np.uint64(1) << shifts[votes > 0]).sum(dtype=np.uint64)
            # reinterpret, don't cast: astype on an out-of-int64-range
            # uint64 is C-cast-defined and may warn/change across NumPy
            # versions; view() guarantees the two's-complement wrap the
            # JVM expressions produce for bit 63
            out[i] = packed.view(np.int64)
        return pd.Series(out)

    hashed = documents.select(
        "doc_id",
        F.transform(_norm_tokens(F.col("text")), lambda t: F.xxhash64(t)).alias(
            "hs"
        ),
    )
    return hashed.select("doc_id", _sim(F.col("hs")).alias("simhash"))


def dedup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Transitive duplicate clustering + canonical selection — the step
    after any pairwise dedup (exact / MinHash-LSH / SimHash / embedding
    near-dup): duplicate PAIRS form a graph; a training pipeline must drop
    per connected CLUSTER (A~B and B~C must not keep both A and C just
    because the pair scorer missed (A, C)).

    ``pairs``: (a, b) doc-id pairs from any of this module's pair
    producers. → manifest (doc_id, cluster_id, keep): cluster_id = min
    doc id of the transitive cluster (its canonical survivor), keep =
    this doc is the survivor. Docs in no pair are their own singleton
    cluster. Distributed shape: min-label connected components over the
    pair graph (O(cluster-diameter) rounds — near-dup clusters are
    shallow), then one left join onto the corpus."""
    from icebug_spark.operators.components import connected_components

    e = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    eu = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    comp = connected_components(eu).withColumnRenamed("id", "doc_id")
    present = documents.select("doc_id").join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
    # canonical survivor = min PRESENT doc of the component: pairs may
    # reference docs filtered out of `documents` upstream, and pinning
    # the survivor to the raw component label would leave such clusters
    # with keep=false on every remaining copy (the whole document would
    # be dropped instead of deduplicated).
    canon = present.groupBy("component").agg(F.min("doc_id").alias("cluster_id"))
    return (
        present.join(canon, "component")
        .select("doc_id", "cluster_id")
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def exact_duplicate_pairs(documents: DataFrame) -> DataFrame:
    """(a, b) pairs linking every duplicate doc to its group's canonical
    min-id doc (star edges per fingerprint group) — the exact-dedup feed
    for :func:`dedup_clusters`."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    fp = documents.select("doc_id", F.md5(norm).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("a"))
    return (
        fp.join(keep, "fp")
        .where(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )


def _kgram_starts(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): every token k-gram occurrence of the
    normalized text with its 0-based start position — ``posexplode`` of
    the in-row gram array (:func:`_gram_arrays`), whose index IS the
    start position. Keeps every occurrence (no de-duplication —
    ExactSubstr needs them all) and, like :func:`shingles`, removes the
    doc_id window shuffle the old posexplode + lead stitch paid (see
    the _gram_arrays docstring for the lambda re-evaluation trip-wire
    the array shape must avoid)."""
    return (
        _gram_arrays(documents, k)
        .select(
            "doc_id",
            F.posexplode("grams").alias("pos", "gram"),
        )
        .select("doc_id", "pos", "gram")
    )


def _covered_positions(documents: DataFrame, k: int, min_count: int) -> DataFrame:
    """(doc_id, cpos): distinct token positions covered by at least one
    duplicated k-gram (a k-gram occurring ≥ ``min_count`` times anywhere
    in the corpus — within-document repetition counts, matching the
    ExactSubstr rule of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better")."""
    if k < 1 or min_count < 1:
        raise ValueError(
            f"k and min_count must be >= 1, got k={k}, min_count={min_count}"
        )
    grams = _kgram_starts(documents, k)
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= int(min_count))
        .select("gram")
    )
    # one-to-one join back (each occurrence matches its gram's single
    # surviving group row) — no pair blow-up, unlike a doc×doc self-join
    return (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(int(k) - 1))
            ).alias("cpos"),
        )
        .distinct()
    )


def duplicated_span_stats(
    documents: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact-substring duplication profile (ExactSubstr dedup, the
    suffix-array step of Lee et al. 2022 re-expressed relationally):
    (doc_id, n_tokens, dup_tokens, dup_frac) where ``dup_tokens`` counts
    token positions covered by any k-gram that occurs ≥ ``min_count``
    times corpus-wide. The reference engine has no text surface; this is
    the training-data-pipeline extension.

    Scale: the suffix array of the literature is replaced by a k-gram
    groupBy — one shuffle keyed by gram text (hot grams are exactly the
    groups being counted, no join amplification), one coverage expansion
    bounded by k×occurrences, one per-doc groupBy. All shuffles are
    fine-grained (gram / doc_id); nothing is per-source or collected."""
    cov = _covered_positions(documents, k, min_count)
    per = cov.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_tokens"))
    n_tokens = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
    )
    return (
        documents.select("doc_id", n_tokens.alias("n_tokens"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.when(F.col("n_tokens") == 0, F.lit(0.0)).otherwise(
                    F.coalesce(F.col("dup_tokens"), F.lit(0))
                    / F.col("n_tokens").cast("double")
                ),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    documents: DataFrame, k: int = 8, min_count: int = 2
) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed): drop every token covered
    by a duplicated k-gram span (see :func:`duplicated_span_stats`),
    keeping survivors in original order — the destructive half of
    ExactSubstr dedup. Documents whose every token is covered survive
    with empty text; blank documents survive blank.

    Plan: coverage positions anti-joined against the token table, then
    one order-restoring reassembly groupBy(doc_id) — the same
    sort-inside-aggregate shape as :func:`mixing.remove_boilerplate`."""
    toks = documents.select(
        "doc_id", F.posexplode(_norm_tokens(F.col("text"))).alias("pos", "tok")
    ).where(F.length(F.trim(F.col("tok"))) > 0)
    cov = _covered_positions(documents, k, min_count).withColumnRenamed(
        "cpos", "pos"
    )
    kept = toks.join(cov, ["doc_id", "pos"], "left_anti")
    per = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_tokens = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
    )
    return (
        documents.select("doc_id", n_tokens.alias("n_tokens"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def duplicated_span_stats_sql(k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin of :func:`duplicated_span_stats`."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), g AS (
  SELECT doc_id, i AS pos, array_to_string(t[i+1:i+{k}], ' ') AS gram
  FROM toks, unnest(range(0, len(t) - {k - 1})) AS u(i)
  WHERE len(t) >= {k}
), d AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= {min_count}
), cov AS (
  SELECT DISTINCT g.doc_id, c.cpos
  FROM g JOIN d USING (gram), unnest(range(g.pos, g.pos + {k})) AS c(cpos)
), nt AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), per AS (
  SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id
)
SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       ROUND(CASE WHEN nt.n_tokens = 0 THEN 0.0
            ELSE COALESCE(per.dup_tokens, 0) / CAST(nt.n_tokens AS DOUBLE) END,
            6) AS dup_frac
FROM nt LEFT JOIN per USING (doc_id)
"""


def remove_duplicated_spans_sql(k: int = 8, min_count: int = 2) -> str:
    """DuckDB twin of :func:`remove_duplicated_spans`."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), tok AS (
  SELECT doc_id, i AS pos, t[i+1] AS tok
  FROM toks, unnest(range(0, len(t))) AS u(i)
  WHERE length(trim(t[i+1])) > 0
), g AS (
  SELECT doc_id, i AS pos, array_to_string(t[i+1:i+{k}], ' ') AS gram
  FROM toks, unnest(range(0, len(t) - {k - 1})) AS u(i)
  WHERE len(t) >= {k}
), d AS (
  SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= {min_count}
), cov AS (
  SELECT DISTINCT g.doc_id, c.cpos AS pos
  FROM g JOIN d USING (gram), unnest(range(g.pos, g.pos + {k})) AS c(cpos)
), kept AS (
  SELECT tok.doc_id, tok.pos, tok.tok
  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
  WHERE cov.doc_id IS NULL
), per AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
), nt AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT nt.doc_id, COALESCE(per.clean_text, '') AS clean_text,
       CAST(COALESCE(per.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(nt.n_tokens - COALESCE(per.n_kept, 0) AS BIGINT) AS n_removed
FROM nt LEFT JOIN per USING (doc_id)
"""
