"""Queries over the ``embeddings`` input table: exact and approximate
top-k search, near duplicates, clusters, quantization and label audits.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.graph import attach_clusters
from otlp_cardinality_checker_spark.operators.similarity import (
    brute_force_topk,
    class_separability,
    embedding_health,
    embedding_near_dups_exact,
    embedding_quantization,
    ivf_fit,
    ivf_topk,
    label_outliers,
    lsh_topk,
)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries_df, k=10)


def _embedding_dim(path: str) -> int:
    """Embedding dimensionality from ONE locally-read parquet row — no
    Spark job (emb.first() would schedule a cluster scan just to learn a
    constant of the fixture)."""
    if os.path.isdir(path):
        path = next(
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        )
    batch = next(
        pq.ParquetFile(path).iter_batches(batch_size=1, columns=["embedding"])
    )
    return len(batch["embedding"][0])


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = _embedding_dim(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries_df, dim=dim, k=10, n_bits=8)


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: KMeans inverted lists, nprobe-pruned search (rows-only:
    centroid assignment is model-derived; recall vs brute force is asserted
    in tests/test_dedup.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, centroids = ivf_fit(emb, nlist=8)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(assigned, centroids, queries_df, k=10, nprobe=3)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs on an id-sliced subset — the oracled
    verifier for the LSH-bucketed near-dup path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    # the synthetic embeddings are near-orthogonal (max pairwise cosine
    # ~0.44), so the threshold sits in the observable tail: the operator
    # and its oracle still compare a non-trivial pair set
    return embedding_near_dups_exact(emb, threshold=0.35)


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup clusters: exact pair graph (id slice,
    cosine >= 0.35) → connected components → cluster id / size / survivor
    per vector. Same CC operator as jaccard_clusters, different edge
    generator — the oracle re-derives the pairs and closes them with a
    recursive CTE."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    pairs = embedding_near_dups_exact(emb, threshold=0.35)
    return attach_clusters(emb, "vec_id", pairs, src="id_a", dst="id_b")


def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers (farthest-from-centroid members)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_outliers(emb, k=3)


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric-quantization audit per label: reconstruction
    noise power and SNR — row-local folds, one agg, no explode."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_quantization(vecs)


def q_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-pair separability over the embeddings: centroid distance +
    Fisher-style ratio against within-class scatter."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return class_separability(vecs)


def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance audit over the labeled embeddings: per-label
    share, imbalance ratio vs the largest class, and the corpus-level
    effective number of classes ((sum n)^2 / sum n^2 — the inverse
    Simpson index) repeated per row for the card view."""
    v = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = v.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum(F.col("n") * F.col("n")).alias("n2"),
        F.max("n").alias("nmax"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "label",
        "n",
        F.round(F.col("n") / F.col("nt"), 6).alias("share"),
        F.round(F.col("n") / F.col("nmax"), 6).alias("vs_largest"),
        F.round(
            (F.col("nt").cast("double") * F.col("nt").cast("double"))
            / F.col("n2").cast("double"),
            4,
        ).alias("effective_classes"),
    )


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health audit: per-vector dim / L2 norm / degenerate
    flags — pure scan projection, zero exchanges."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_health(vecs)


RECORDS = {
    "embedding_topk": (q_embedding_topk, lambda pre: """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(
           CAST(q.qe AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM q CROSS JOIN embeddings e
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""),
    "lsh_ann": (q_lsh_ann, None),
    "ivf_ann": (q_ivf_ann, None),
    "embedding_near_dups": (q_embedding_near_dups, lambda pre: """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(
         CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND round(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
      >= 0.35
"""),
    "embedding_clusters": (q_embedding_clusters, lambda pre: """
WITH RECURSIVE edges0 AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 200 AND b.vec_id < 200
    AND round(list_cosine_similarity(
          CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
        >= 0.35
), edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
reach AS (
  SELECT u AS node, v AS r FROM edges
  UNION
  SELECT w.node, e.v FROM reach w JOIN edges e ON w.r = e.u
), labels AS (
  SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
), lab AS (
  SELECT m.vec_id, coalesce(l.cluster_id, m.vec_id) AS cluster_id
  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 200) m
  LEFT JOIN labels l ON m.vec_id = l.node
)
SELECT vec_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       CAST(vec_id = cluster_id AS INT) AS is_survivor
FROM lab
"""),
    "label_outliers": (q_label_outliers, lambda pre: """
WITH d AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
), ce AS (SELECT label, pos, avg(v) AS c FROM d GROUP BY 1, 2),
cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM ce GROUP BY 1),
scored AS (
  SELECT e.label, e.vec_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv),
               6) AS cosine
  FROM embeddings e JOIN cent c USING (label)
)
SELECT label, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY label ORDER BY cosine ASC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""),
    "embedding_quantization": (q_embedding_quantization, lambda pre: """
WITH e AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), f AS (
  SELECT label,
         list_max(list_transform(v, x -> abs(x))) AS maxabs,
         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale,
         v
  FROM e
), g AS (
  SELECT label, scale,
         list_sum(list_transform(v, x -> x * x)) AS sig,
         CASE WHEN maxabs = 0 THEN 0.0 ELSE
           list_sum(list_transform(v, x ->
             (x - scale * greatest(-127.0,
                  least(127.0, round(x / scale, 0))))
             * (x - scale * greatest(-127.0,
                  least(127.0, round(x / scale, 0))))))
         END AS err
  FROM f
), a AS (
  SELECT label, count(*) AS n_vecs, avg(scale) AS avg_s,
         sum(sig) AS sp, sum(err) AS np_
  FROM g GROUP BY 1
)
SELECT label, n_vecs,
       round(avg_s, 8) AS avg_scale,
       round(sp, 6) AS signal_power,
       round(np_, 6) AS noise_power,
       round(CASE WHEN np_ > 0.0 THEN 10.0 * log10(sp / np_) END, 4)
         AS snr_db
FROM a
"""),
    "class_separability": (q_class_separability, lambda pre: """
WITH d AS (
  SELECT label, vec_id, generate_subscripts(embedding, 1) AS pos,
         unnest(CAST(embedding AS DOUBLE[])) AS v
  FROM embeddings
), ce AS (
  SELECT label, pos, avg(v) AS c FROM d GROUP BY 1, 2
), sc AS (
  SELECT d.label, d.vec_id,
         sum((d.v - ce.c) * (d.v - ce.c)) AS d2
  FROM d JOIN ce ON d.label = ce.label AND d.pos = ce.pos
  GROUP BY 1, 2
), st AS (
  SELECT label, count(*) AS n, avg(d2) AS scatter FROM sc GROUP BY 1
), pair AS (
  SELECT ca.label AS la, cb.label AS lb,
         sum((ca.c - cb.c) * (ca.c - cb.c)) AS cd2
  FROM ce ca JOIN ce cb ON ca.pos = cb.pos AND ca.label < cb.label
  GROUP BY 1, 2
)
SELECT la AS label_a, lb AS label_b,
       sa.n AS n_a, sb.n AS n_b,
       round(sqrt(cd2), 6) AS centroid_dist,
       round(cd2 / (sa.scatter + sb.scatter), 6) AS fisher_ratio
FROM pair
JOIN st sa ON la = sa.label
JOIN st sb ON lb = sb.label
"""),
    "label_balance": (q_label_balance, lambda pre: """
WITH g AS (
  SELECT label, count(*) AS n FROM embeddings GROUP BY 1
), t AS (
  SELECT CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(n * n) AS BIGINT) AS n2,
         CAST(max(n) AS BIGINT) AS nmax
  FROM g
)
SELECT label, n,
       round(n * 1.0 / nt, 6) AS share,
       round(n * 1.0 / nmax, 6) AS vs_largest,
       round((CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE))
             / CAST(n2 AS DOUBLE), 4) AS effective_classes
FROM g CROSS JOIN t
"""),
    "embedding_health": (q_embedding_health, lambda pre: """
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6)
         AS l2_norm,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) = 0.0
         AS is_zero,
       len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan
FROM embeddings
"""),
}
