"""Queries over the ``documents`` input table that compare documents
with each other: exact and near-duplicate detection (shingle Jaccard,
MinHash, SimHash, winnowing), duplicate clusters, contamination and
n-gram overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.bloom import (
    exact_membership,
    prefix_fingerprint,
)
from otlp_cardinality_checker_spark.operators.dedup import (
    containment_pairs,
    cross_split_containment,
    dup_evidence,
    dup_ngram_rate,
    duplicated_spans,
    exact_dedup_stats,
    exact_jaccard,
    fingerprint_store,
    incremental_dedup,
    jaccard_threshold_curve,
    minhash_near_dups,
    ngram_novelty,
    simhash_hamming_pairs,
    simhash_signatures,
    winnow_fingerprints,
    word_shingles,
)
from otlp_cardinality_checker_spark.operators.graph import (
    cluster_size_hist,
    jaccard_clusters,
    split_assignment,
    survivor_by_score,
)
from otlp_cardinality_checker_spark.operators.text_analysis import (
    _token_count,
    fingerprints,
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup_stats(docs)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprints(docs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # max_df=None: explicit opt-in to the uncapped truly-exact form so the
    # DuckDB oracle (which has no df cap) sees identical pair sets. The
    # operator's DEFAULT is capped (dedup.DEFAULT_MAX_DF) for web scale.
    return exact_jaccard(word_shingles(docs), min_jaccard=0.2, max_df=None)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-gram-filtered Jaccard: shingles with document frequency > 4 are
    dropped before the pair join (bounds per-shingle fan-out at web scale);
    similarity is over the filtered sets. The oracle mirrors the cap."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_jaccard(word_shingles(docs), min_jaccard=0.2, max_df=4)


def q_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: exact n-gram Jaccard pairs (>=0.2) → distributed
    connected components (large-star/small-star) → per-doc cluster id,
    size, survivor flag. The oracle recomputes the same pair graph in SQL
    and takes its transitive closure with a recursive CTE."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_clusters(docs, min_jaccard=0.2)


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_near_dups(docs, min_jaccard=0.5)


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku-style block-partitioned SimHash Hamming search (<= 3 bits):
    complete by the pigeonhole argument, equi-join on 16-bit blocks +
    XOR/popcount verify. Rows-only (signatures are xxhash64-based, not
    reproducible in DuckDB); pinned against an in-test brute-force
    all-pairs Hamming scan instead."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_hamming_pairs(docs, 3)


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_signatures(docs)


def q_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with QUALITY-based survivor selection: the longest
    member (token count; ties -> min doc_id) of each Jaccard cluster is
    kept — the production dedup policy, vs the min-id baseline of
    jaccard_clusters."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    clustered = jaccard_clusters(docs, min_jaccard=0.2)
    scores = docs.select(
        "doc_id", _token_count(F.col("text")).alias("score")
    )
    return survivor_by_score(clustered, scores)


def q_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated n-gram fraction (memorization-risk audit)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_ngram_rate(docs)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2021 ExactSubstr
    semantics at token grain): per doc, maximal spans whose every k-token
    window recurs somewhere in the corpus, with exact covered-token
    counts via interval union. The oracle replays the identical k-gram
    md5 + window-count + interval-merge pipeline in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_spans(docs, k=5)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming corpus slice (doc_id % 5 >= 3)
    against the fingerprint store built from the prior slice — per-(lang,
    status) counts where status is dup_store / dup_batch / kept. The
    store-composition invariant is pinned in tests/test_dedup.py."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = docs.where(F.col("doc_id") % 5 < 3)
    incoming = docs.where(F.col("doc_id") % 5 >= 3)
    return incremental_dedup(incoming, fingerprint_store(seen))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: best n-gram containment of each test-split
    document (source src10..src19) inside any train-split document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # max_df=None: explicit opt-in to the uncapped exact form so the
    # (uncapped) DuckDB oracle sees identical pair sets at ANY scale —
    # same contract as q_ngram_jaccard. The operator's default is capped.
    return cross_split_containment(
        docs, F.length(F.col("source")) >= 5, min_containment=0.3,
        max_df=None,
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level decontamination audit: per test-split doc, the
    fraction of its distinct 3-grams absent from the ENTIRE train split
    (catches many-train-docs stitching that pairwise containment
    misses)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_novelty(docs, F.length(F.col("source")) >= 5, n=3)


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact test-split membership of an 8-word prefix fingerprint in the
    train split, computed through the broadcast-Bloom prefilter (train side
    never shuffled; verify join restores exactness)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "prefix", prefix_fingerprint("text")
    )
    train = docs.where(F.length("source") < 5)
    test = docs.where(F.length("source") >= 5)
    return exact_membership(train, test, "prefix").select(
        "doc_id", "source", "prefix"
    )


def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (test_share=0.2): near-dup clusters
    (exact Jaccard >= 0.2 -> connected components) assigned to splits by
    an md5 threshold on the CLUSTER id, so no near-dup pair can cross the
    split. Oracle replays the recursive-CTE closure + the same hash."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_assignment(docs, test_share=0.2, min_jaccard=0.2)


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (subset/excerpt detector);
    max_df=None opt-in so the uncapped DuckDB oracle sees identical
    pair sets (operator default stays capped for web scale)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return containment_pairs(
        word_shingles(docs), min_containment=0.5, max_df=None
    )


def q_jaccard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative dedup-yield curve over Jaccard thresholds 0.1..0.9 in
    one pass; integer cross-multiplication thresholding, uncapped
    oracle opt-in (operator default stays capped)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_threshold_curve(word_shingles(docs), max_df=None)


def q_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup clustering (the dedup
    review's first chart: singleton-dominated = healthy)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cluster_size_hist(jaccard_clusters(docs, min_jaccard=0.2, n=3))


def q_dup_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair evidence: first 3 shared trigram texts per
    qualifying pair (>= 0.5 Jaccard)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_evidence(docs, min_jaccard=0.5, n=3, k_shingles=3)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per doc, reduced to hashable
    scalars: position/fingerprint counts + integer checksum + the first
    three fingerprints as a string sample."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = winnow_fingerprints(docs, n=3, window=4)
    return fp.select(
        "doc_id",
        "n_positions",
        "n_fingerprints",
        F.aggregate(
            "fingerprints", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("fp_checksum"),
        F.concat_ws(",", F.slice("fingerprints", 1, 3)).alias("fp_sample"),
    )


def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-savings forecast of survivor-only dedup: per source, the
    bytes and docs dropped if only each near-dup cluster's survivor
    ships (jaccard_clusters' is_survivor contract)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lab = jaccard_clusters(docs, min_jaccard=0.2, n=3).select(
        "doc_id", "is_survivor"
    )
    j = docs.select("doc_id", "source", "n_chars").join(lab, "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("is_survivor") == 0).cast("long")).alias(
                "n_dropped"
            ),
            F.sum("n_chars").alias("bytes_total"),
            F.sum(
                F.when(F.col("is_survivor") == 0, F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            ).alias("bytes_dropped"),
        )
        .select(
            "source",
            "n_docs",
            "n_dropped",
            "bytes_total",
            "bytes_dropped",
            F.round(
                F.col("bytes_dropped") / F.col("bytes_total"), 6
            ).alias("savings_share"),
        )
    )


RECORDS = {
    "dedup_exact": (q_dedup_exact, lambda pre: """
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""),
    "doc_fingerprints": (q_doc_fingerprints, lambda pre: """
SELECT doc_id,
  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""),
    "ngram_jaccard": (q_ngram_jaccard, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled)
SELECT doc_a, doc_b, n_common,
  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
"""),
    "ngram_jaccard_capped": (q_ngram_jaccard_capped, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv0 AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), dfreq AS (
  SELECT shingle, count(*) AS c FROM inv0 GROUP BY 1
), inv AS (
  SELECT i.doc_id, i.shingle FROM inv0 i
  JOIN dfreq d USING (shingle) WHERE d.c <= 4
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY 1)
SELECT doc_a, doc_b, n_common,
  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
"""),
    "jaccard_clusters": (q_jaccard_clusters, lambda pre: """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
edges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       CAST(doc_id = cluster_id AS INT) AS is_survivor
FROM lab
"""),
    "minhash_near_dups": (q_minhash_near_dups, None),
    "simhash_hamming": (q_simhash_hamming, None),
    "simhash_groups": (q_simhash_groups, None),
    "quality_survivors": (q_quality_survivors, lambda pre: """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
edges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
), scr AS (
  SELECT doc_id,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
           AS score
  FROM documents
), lab2 AS (
  SELECT l.doc_id, l.cluster_id, s.score,
         count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size,
         row_number() OVER (
           PARTITION BY l.cluster_id
           ORDER BY s.score DESC, l.doc_id ASC) AS rn
  FROM lab l JOIN scr s USING (doc_id)
)
SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(score AS BIGINT) AS score, CAST(rn = 1 AS INT) AS is_survivor
FROM lab2
"""),
    "dup_ngram_rate": (q_dup_ngram_rate, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), dfreq AS (SELECT shingle, count(*) AS c FROM inv GROUP BY 1)
SELECT doc_id, count(*) AS n_shingles,
  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_shingles,
  round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_rate
FROM inv JOIN dfreq USING (shingle)
GROUP BY doc_id
"""),
    "dup_spans": (q_dup_spans, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), pos_grams AS (
  SELECT doc_id, u.p AS pos,
         md5(array_to_string(t[u.p + 1 : u.p + 5], ' ')) AS ghash
  FROM toks, unnest(range(len(t) - 4)) AS u(p)
), flagged AS (
  SELECT doc_id, pos, count(*) OVER (PARTITION BY ghash) AS n_occ
  FROM pos_grams
), dup_pos AS (SELECT doc_id, pos FROM flagged WHERE n_occ >= 2),
marked AS (
  SELECT doc_id, pos,
    CASE WHEN max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
          OR pos > max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
         THEN 1 ELSE 0 END AS new_span
  FROM dup_pos
), numbered AS (
  SELECT doc_id, pos, sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM marked
), spans AS (
  SELECT doc_id, span_id, max(pos) + 4 - min(pos) + 1 AS span_len
  FROM numbered GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(span_len) AS dup_tokens,
         max(span_len) AS longest_dup_span
  FROM spans GROUP BY 1
)
SELECT s.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(coalesce(p.dup_tokens, 0) / CAST(len(t) AS BIGINT), 4)
         AS dup_frac,
       CAST(coalesce(p.longest_dup_span, 0) AS BIGINT)
         AS longest_dup_span
FROM toks s LEFT JOIN per_doc p USING (doc_id)
"""),
    # Incremental dedup vs fingerprint store (operators/dedup.py:
    # fingerprint_store/incremental_dedup): same canonical md5 as
    # doc_fingerprints; status precedence dup_store > dup_batch.
    "dedup_incremental": (q_dedup_incremental, lambda pre: """
WITH fp AS (
  SELECT doc_id, lang,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         doc_id % 5 >= 3 AS incoming
  FROM documents
), store AS (
  SELECT DISTINCT fingerprint FROM fp WHERE NOT incoming
), inc AS (SELECT * FROM fp WHERE incoming),
first AS (
  SELECT fingerprint, min(doc_id) AS first_id FROM inc GROUP BY 1
)
SELECT lang,
       CASE WHEN fingerprint IN (SELECT fingerprint FROM store)
              THEN 'dup_store'
            WHEN doc_id != first_id THEN 'dup_batch'
            ELSE 'kept' END AS status,
       count(*) AS n_docs
FROM inc JOIN first USING (fingerprint)
GROUP BY 1, 2
"""),
    "contamination": (q_contamination, lambda pre: """
WITH toks AS (
  SELECT doc_id, length(source) >= 5 AS is_test,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id, is_test,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, is_test, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_id, r.doc_id AS train_doc_id,
         count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle
  WHERE l.is_test AND NOT r.is_test
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, len(shingles) AS n FROM shingled WHERE is_test
), scored AS (
  SELECT p.doc_id, train_doc_id, n_common,
         round(CAST(n_common AS DOUBLE) / s.n, 6) AS containment
  FROM pairs p JOIN sizes s ON p.doc_id = s.doc_id
)
SELECT doc_id, train_doc_id, n_common, containment FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id
    ORDER BY containment DESC, train_doc_id ASC) AS rn
  FROM scored
) WHERE rn = 1 AND containment >= 0.3
"""),
    "ngram_novelty": (q_ngram_novelty, lambda pre: """
WITH toks AS (
  SELECT doc_id, length(source) >= 5 AS is_test,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id, is_test,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, is_test, unnest(shingles) AS shingle FROM shingled
), train_set AS (
  SELECT DISTINCT shingle FROM inv WHERE NOT is_test
), seen AS (
  SELECT doc_id, count(*) AS n_seen
  FROM inv
  WHERE is_test AND shingle IN (SELECT shingle FROM train_set)
  GROUP BY 1
), sizes AS (
  SELECT doc_id, len(shingles) AS n FROM shingled WHERE is_test
)
SELECT s.doc_id, CAST(n AS BIGINT) AS n_shingles,
       CAST(n - coalesce(n_seen, 0) AS BIGINT) AS n_novel,
       round((n - coalesce(n_seen, 0)) / CAST(n AS DOUBLE), 6)
         AS novelty_rate
FROM sizes s LEFT JOIN seen USING (doc_id)
"""),
    "bloom_contamination": (q_bloom_contamination, lambda pre: """
WITH d AS (
  SELECT doc_id, source,
         array_to_string((string_split(lower(text), ' '))[1:8], ' ')
           AS prefix
  FROM documents
)
SELECT doc_id, source, prefix FROM d
WHERE length(source) >= 5
  AND prefix IN (SELECT prefix FROM d WHERE length(source) < 5)
"""),
    "split_assignment": (q_split_assignment, lambda pre: """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
edges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) < '3333'
            THEN 'test' ELSE 'train' END AS split
FROM lab
"""),
    "containment_pairs": (q_containment_pairs, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled)
SELECT doc_a, doc_b, n_common,
  CAST(sa.n AS INT) AS size_a, CAST(sb.n AS INT) AS size_b,
  round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6) AS containment,
  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_common AS DOUBLE) / least(sa.n, sb.n) >= 0.5
"""),
    "jaccard_curve": (q_jaccard_curve, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS nc
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
pu AS (
  SELECT nc, sa.n + sb.n - nc AS un
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
), tot AS (SELECT count(*) AS candidate_pairs FROM pu),
td AS (SELECT unnest(range(1, 10)) AS t),
curve AS (
  SELECT td.t, count(pu.nc) AS n_pairs
  FROM td LEFT JOIN pu ON pu.nc * 10 >= td.t * pu.un
  GROUP BY 1
)
SELECT t / 10.0 AS threshold,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(candidate_pairs AS BIGINT) AS candidate_pairs,
       round(n_pairs * 1.0 / candidate_pairs, 6) AS share
FROM curve CROSS JOIN tot
"""),
    "cluster_size_hist": (q_cluster_size_hist, lambda pre: """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
edges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
), pc AS (
  SELECT cluster_id, count(*) AS sz FROM lab GROUP BY 1
), tt AS (SELECT count(*) AS n_total FROM lab)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       count(*) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       round(sz * count(*) * 1.0 / n_total, 6) AS doc_share
FROM pc CROSS JOIN tt GROUP BY sz, n_total
"""),
    "dup_evidence": (q_dup_evidence, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
q AS (
  SELECT doc_a, doc_b,
         round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
           AS jaccard
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.5
)
SELECT q.doc_a, q.doc_b, q.jaccard,
       array_to_string(
         list_sort(list_intersect(a.shingles, b.shingles))[1:3], ' | ')
         AS shared_examples
FROM q
JOIN shingled a ON q.doc_a = a.doc_id
JOIN shingled b ON q.doc_b = b.doc_id
"""),
    "winnow_fingerprints": (q_winnow_fingerprints, lambda pre: """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
                                        '\\s+'), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         [array_to_string(t[i:least(i + 2, len(t))], ' ')
          for i in range(1, greatest(len(t) - 2, 1) + 1)] AS grams
  FROM toks
), h AS (
  SELECT doc_id,
         list_transform(grams,
           x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
  FROM g
), wmin AS (
  SELECT doc_id, hs,
         [list_min(hs[p:least(p + 3, len(hs))])
          for p in range(1, greatest(len(hs) - 3, 1) + 1)] AS mins
  FROM h
), fp AS (
  SELECT doc_id, len(hs) AS n_positions,
         list_sort(list_distinct(mins)) AS f
  FROM wmin
)
SELECT doc_id, CAST(n_positions AS INT) AS n_positions,
       CAST(len(f) AS INT) AS n_fingerprints,
       CAST(list_sum(f) AS BIGINT) AS fp_checksum,
       array_to_string(f[1:3], ',') AS fp_sample
FROM fp
"""),
    "dedup_savings": (q_dedup_savings, lambda pre: """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), shingled AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_distinct([array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)])
         ELSE [array_to_string(t, ' ')] END AS shingles
  FROM toks
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shingled
), pairs AS (
  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY 1, 2
), sizes AS (SELECT doc_id, len(shingles) AS n FROM shingled),
edges0 AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT d.doc_id, d.source, d.n_chars,
         coalesce(l.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(sum(n_chars) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)
            AS BIGINT) AS bytes_dropped,
       round(sum(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END)
             * 1.0 / sum(n_chars), 6) AS savings_share
FROM lab GROUP BY 1
"""),
}
