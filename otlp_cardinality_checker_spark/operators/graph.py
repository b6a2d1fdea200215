"""Distributed connected components + near-dup clustering (graph step of
a training-data dedup pipeline).

Pair generators (`dedup.exact_jaccard`, `dedup.minhash_near_dups`) emit
near-duplicate EDGES; an actual dedup needs the transitive closure — one
cluster id per document, one survivor per cluster (the standard
CCNet/RefinedWeb-style final step).

Connected components here is the alternating **large-star / small-star**
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC'14 — public literature): each round is two
groupBy-join passes over the edge list, and the edge set converges to a
star forest rooted at each component's minimum id in O(log n) rounds —
not O(diameter) like naive label propagation, so pathological chain
components at 100 TB don't dominate. Per round the working set only
shrinks (edges point at smaller ids), every pass is a hash
aggregation + equi-join on node id (AQE handles the skew of a giant
component's root), and `localCheckpoint` truncates the growing lineage
so plan compilation stays O(1) per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small, then connect each smaller neighborhood
    (and u itself) to its minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    to_min = (
        oriented.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select("u", F.col("m").alias("v"))
    return to_min.union(self_edge).where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) labels; component = min node id reachable.

    Nodes appearing in no edge are absent — callers union isolated nodes
    back with self-labels (see :func:`jaccard_clusters`). Convergence is
    detected by an order-insensitive (count, hash-sum) signature of the
    canonicalized edge set — two scalar aggregates per round, no
    driver-side edge materialization.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # bit_xor: order-insensitive and overflow-free (the edge set is
        # distinct, so xor-cancellation of duplicates cannot occur)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:  # pragma: no cover - converges in O(log n) rounds
        raise RuntimeError("connected_components did not converge")
    # converged: e is a star forest (child > root), root = component min
    children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (
        e.select(F.col("v").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
    )
    return children.union(roots)


def attach_clusters(
    entities: DataFrame,
    id_col: str,
    edges: DataFrame,
    src: str,
    dst: str,
) -> DataFrame:
    """(id, cluster_id, cluster_size, is_survivor) for every entity:
    connected components over ``edges``, isolated entities as singleton
    clusters, survivor = the cluster's minimum id."""
    labels = connected_components(edges, src=src, dst=dst)
    ids = entities.select(F.col(id_col))
    clustered = ids.join(labels, ids[id_col] == labels["node"], "left").select(
        id_col,
        F.coalesce("component", F.col(id_col)).alias("cluster_id"),
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clustered.join(sizes, "cluster_id").select(
        id_col,
        "cluster_id",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_survivor"),
    )


def survivor_by_score(
    clustered: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Re-pick each cluster's survivor by QUALITY instead of min id.

    Production dedup keeps the best member of a near-dup cluster (longest /
    cleanest / highest-scoring), not the smallest id. Given cluster labels
    (from :func:`attach_clusters`) and a per-entity score, the survivor is
    the argmax by (score desc NULLS LAST, id asc), computed as a single
    ``max_by`` hash aggregation over a struct ordering key
    (score-not-null flag, score, -id). A hash agg is skew-safe WITHOUT
    salting here: partial max_by combines map-side, so a pathological
    giant cluster contributes one candidate row per input partition, never
    a single-reducer sort (this replaced a salted two-stage top-k — same
    argmax, ~2x fewer exchanges, measured 17 s -> 8 s at sf0.1). Ties are
    deterministic. The score join is LEFT: an entity with no score row
    keeps its output row (score NULL) and only wins its cluster if no
    member is scored (the null flag sorts below every real score; all-null
    clusters fall through to min id) — one row per entity in, one row out,
    matching the attach_clusters contract.
    """
    j = clustered.drop("is_survivor").join(scores, id_col, "left")
    best = j.groupBy("cluster_id").agg(
        F.max_by(
            id_col,
            F.struct(
                F.col(score_col).isNotNull().cast("int").alias("_has"),
                F.col(score_col).alias("_s"),
                (-F.col(id_col)).alias("_negid"),
            ),
        ).alias("_keep")
    )
    return (
        j.join(best, "cluster_id")
        .withColumn(
            "is_survivor",
            (F.col(id_col) == F.col("_keep")).cast("int"),
        )
        .select(id_col, "cluster_id", "cluster_size", score_col, "is_survivor")
    )


def jaccard_clusters(
    docs: DataFrame,
    min_jaccard: float = 0.2,
    n: int = 3,
    use_lsh: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate clusters over the documents table: n-gram Jaccard
    pairs → connected components → per-doc cluster id, cluster size, and
    the survivor flag (min doc_id of the cluster is kept — the dedup
    output a training-data pipeline feeds downstream).

    ``use_lsh=True`` swaps the exact inverted-index pair join for the
    MinHash/LSH candidate path (`dedup.minhash_near_dups`) — the scale
    configuration; the exact path is the oracle-checkable one.
    """
    from .dedup import exact_jaccard, minhash_near_dups, word_shingles

    # max_df defaults to None (uncapped) HERE because this is the
    # oracle-checkable exact path; the scale configuration is use_lsh=True,
    # which never builds the inverted index at all.
    pairs = (
        minhash_near_dups(docs, min_jaccard=min_jaccard, n=n)
        if use_lsh
        else exact_jaccard(
            word_shingles(docs, n=n), min_jaccard=min_jaccard, max_df=max_df
        )
    )
    return attach_clusters(docs, "doc_id", pairs, src="doc_a", dst="doc_b")


def split_assignment(
    docs: DataFrame,
    test_share: float = 0.2,
    min_jaccard: float = 0.2,
    n: int = 3,
    use_lsh: bool = False,
    salt: str = "",
) -> DataFrame:
    """Leakage-safe train/test split: assign documents to splits by
    near-duplicate CLUSTER, not by document, so a test doc can never have
    a near-duplicate sitting in train (the eval-contamination failure
    mode document-level random splits cannot prevent). Composition:
    jaccard_clusters (pair graph -> connected components -> cluster id)
    followed by a deterministic md5-threshold split ON THE CLUSTER ID —
    every member of a cluster shares the digest, so the no-cross-split
    guarantee holds by construction, and membership is the same
    hash-threshold Bernoulli contract as sampling.hash_sample (test mass
    ~= test_share in CLUSTERS; a different salt is an independent
    re-split).

    Output: (doc_id, cluster_id, cluster_size, split) — the per-document
    assignment a data loader consumes.

    Scale shape: everything is jaccard_clusters' cost (use_lsh=True for
    the banded candidate path at scale); the split itself adds a pure
    projection over the already-materialized cluster id — no extra
    exchange, no window.
    """
    from .sampling import _hex_threshold

    thr = _hex_threshold(test_share)
    clustered = jaccard_clusters(
        docs, min_jaccard=min_jaccard, n=n, use_lsh=use_lsh
    )
    digest = F.substring(
        F.md5(F.concat(F.col("cluster_id").cast("string"), F.lit(salt))),
        1,
        4,
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.when(digest < F.lit(thr), F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def cluster_size_hist(clusters: DataFrame) -> DataFrame:
    """Cluster-size histogram over a (doc_id, cluster_id, cluster_size)
    clustering (the `jaccard_clusters` output):
    one row per size — ``(cluster_size, n_clusters, n_docs, doc_share)``.
    The shape a dedup review reads first: a healthy near-dup graph is
    singleton-dominated with a thin tail; a fat tail means the
    similarity threshold (or a stop-gram leak) is fusing unrelated docs
    into mega-clusters — the failure the conv_near_dups cap lesson in
    BENCH.md documents.

    Scale shape: one hash agg to the cluster grain (cluster_id, size —
    already computed upstream), one to the size grain, broadcast 1-row
    total for the share; all map-side combinable.
    """
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.max("cluster_size").alias("sz")
    )
    tot = clusters.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        per_cluster.groupBy(F.col("sz").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            F.round(
                F.col("cluster_size")
                * F.col("n_clusters")
                / F.col("n_total"),
                6,
            ).alias("doc_share"),
        )
    )
