"""Similarity search over embedding columns (array<float>).

Three paths, as a 100 TB training-data pipeline needs:

* ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  set, score every row with a JVM-side `aggregate`/`zip_with` dot product
  inside whole-stage codegen, two-stage per-query top-k. Cost is one scan
  of the corpus per batch of queries — the correct baseline and the
  verifier for the approximate paths.
* ``lsh_topk`` — random-hyperplane LSH (SimHash for vectors): bucket
  corpus + queries by sign-pattern hash, only score within matching
  buckets (multi-probe via several independent tables). Sub-linear scoring
  at the cost of recall; recall measured against brute force in tests.
* ``ivf_fit`` / ``ivf_topk`` — inverted-file index: KMeans centroids
  (pyspark.ml, fixed seed), corpus assigned to its nearest centroid once,
  queries probe only the ``nprobe`` nearest centroid lists. The classic
  IVF-Flat trade: one cheap q x nlist scoring pass prunes the corpus scan
  to ~nprobe/nlist of the data.

Outside the fit step (an offline KMeans), no UDFs anywhere. Hyperplanes
are deterministic pseudo-random vectors (fixed xorshift32 recurrence — no
RNG state to ship) computed once on the driver and shipped as ONE
broadcast array<array<array<double>>> column; bucketing is a nested
zip_with/aggregate fold against that column, so the PLAN stays O(1) in
(dim x n_bits x n_tables) — at dim=768 the old literal-per-component
formulation put ~37k literals in a single projection (janino pressure,
slow analysis); this one has none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregate import salted_top_k

N_TABLES = 4
N_BITS = 12


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_expr(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_per_query(
    scored: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Per-query top-k by cosine (id breaks ties), ranked 1..k in
    ``rank``: the two-stage ``aggregate.salted_top_k`` salted by id, so no
    reducer holds a query's whole scored corpus."""
    return salted_top_k(
        scored,
        [query_id_col],
        (F.desc("cosine"), F.asc(id_col)),
        k=k,
        salt_col=id_col,
        keep_rank=True,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    engine: str = "sql",
) -> DataFrame:
    """Exact cosine top-k per query.

    engine="sql" (default): broadcast nested-loop + two-stage top-k, all
    Catalyst — bit-reproducible in DuckDB, so it backs the hash-oracled
    driver query. engine="arrow": the vectorized twin — per-partition
    numpy GEMM against the broadcast query matrix inside mapInArrow,
    keeping only each partition's local top-k per query (bounded output:
    n_partitions x n_queries x k rows), then the same exact SQL top-k
    fold over those candidates. Same top-k SETS (any partition's global
    top-k member is in that partition's local top-k); cosine floats can
    differ in the last ulp (BLAS pairwise summation vs the JVM fold), so
    the Arrow engine is for soaks/baselines, the SQL engine for oracle
    parity. At 2M candidate pairs x dim=384 the GEMM engine is the
    difference between seconds and minutes — the standard "vectorized
    Pandas UDF where the built-in is the slow path" escape hatch."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    )
    if engine == "arrow":
        import numpy as np
        import pyarrow as pa

        qrows = q.collect()  # bounded: a query BATCH, not a table
        qids = np.array([r[query_id_col] for r in qrows])
        qmat = np.array([r["_qvec"] for r in qrows], dtype=np.float64)
        qnorm = np.linalg.norm(qmat, axis=1)
        qnorm[qnorm == 0.0] = 1.0
        out_schema = (
            f"{query_id_col} long, {id_col} long, cosine double"
        )

        def gemm_topk(batches):
            for batch in batches:
                ids = batch.column(id_col).to_numpy(zero_copy_only=False)
                col = batch.column("_cvec")
                if len(col) == 0:
                    continue
                # zero-copy: flatten() respects slice offsets; the rows
                # are fixed-dim so the flat child reshapes directly
                # (to_pylist() here costs more than the GEMM itself)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                mat = flat.reshape(len(col), flat.size // len(col))
                if mat.size == 0:
                    continue
                cnorm = np.linalg.norm(mat, axis=1)
                cnorm[cnorm == 0.0] = 1.0
                cos = (mat @ qmat.T) / np.outer(cnorm, qnorm)
                kk = min(k, cos.shape[0])
                # local top-k per query: argpartition then exact sort
                part = np.argpartition(-cos, kk - 1, axis=0)[:kk]
                rows_q, rows_i, rows_c = [], [], []
                for j in range(cos.shape[1]):
                    sel = part[:, j]
                    rows_q.extend([qids[j]] * len(sel))
                    rows_i.extend(ids[sel])
                    rows_c.extend(cos[sel, j])
                yield pa.RecordBatch.from_pydict(
                    {
                        query_id_col: np.asarray(rows_q, dtype=np.int64),
                        id_col: np.asarray(rows_i, dtype=np.int64),
                        "cosine": np.round(
                            np.asarray(rows_c, dtype=np.float64), 6
                        ),
                    }
                )

        cands = corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cvec")
        ).mapInArrow(gemm_topk, out_schema)
        return _topk_per_query(cands, k, query_id_col, id_col)

    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cvec")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_qvec"), F.col("_cvec")), 6).alias("cosine"),
    )
    return _topk_per_query(scored, k, query_id_col, id_col)


def _hyperplane(dim: int, table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane component list."""
    vals = []
    x = (table * 1_000_003 + bit * 10_007 + 12345) & 0xFFFFFFFF
    for _ in range(dim):
        # xorshift32 — fixed, seedless, reproducible anywhere
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        vals.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def _planes_df(spark, dim: int, tables: list[int], n_bits: int = N_BITS):
    """One-row DataFrame carrying every hyperplane as data, not literals.

    Column ``_planes`` is array<array<array<double>>> indexed
    [table_pos][bit][component]. Broadcast-crossJoined onto the corpus it
    ships once per executor; the alternative (a literal per component)
    bloats the plan by dim x n_bits x n_tables expressions.
    """
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    planes = [
        [_hyperplane(dim, t, b) for b in range(n_bits)] for t in tables
    ]
    schema = StructType(
        [
            StructField(
                "_planes",
                ArrayType(ArrayType(ArrayType(DoubleType()))),
            )
        ]
    )
    return spark.createDataFrame([(planes,)], schema)


def _buckets_from_planes(vec, planes, n_bits: int = N_BITS):
    """array<int> of per-table sign-pattern buckets, all via HOFs.

    Semantics are bit-identical to the former literal formulation: per
    bit, project ``vec`` onto the plane (zip_with product + aggregate
    sum, same fold order), take ``1 << bit`` when the projection is
    strictly positive, sum the bit weights.
    """
    weights = F.array(*[F.lit(1 << b) for b in range(n_bits)])
    return F.transform(
        planes,
        lambda tp: F.aggregate(
            F.zip_with(
                tp,
                weights,
                lambda plane, wt: F.when(
                    F.aggregate(
                        F.zip_with(vec, plane, lambda x, y: x * y),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    > 0,
                    wt,
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ),
    )


def _bucket_rows_arrow(
    c: DataFrame,
    dim: int,
    n_tables: int,
    n_bits: int,
    id_col: str,
) -> DataFrame:
    """Arrow/GEMM twin of the corpus-side bucket assignment: one numpy
    matmul against the (n_tables*n_bits, dim) plane matrix per batch,
    sign test, per-table bit-pack — replacing an interpreted HOF fold of
    n_tables x n_bits x dim multiplies per vector (the dominant cost of
    the LSH index build at realistic dims; measured ~15x at dim=384).
    Buckets agree with the SQL engine wherever no projection lands within
    float-rounding distance of zero (sign flips need |<v,p>| ~ 1e-13
    relative — engine agreement is asserted by test and recorded by the
    soak rather than assumed)."""
    import numpy as np
    import pyarrow as pa

    planes = np.array(
        [
            _hyperplane(dim, t, b)
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.float64,
    )  # (T*B, dim), row-major in table order
    weights = (1 << np.arange(n_bits, dtype=np.int64))
    out_schema = f"{id_col} long, _cvec array<double>, tbl int, bucket int"

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(id_col).to_numpy(zero_copy_only=False)
            col = batch.column("_cvec")
            flat = col.flatten().to_numpy(zero_copy_only=False)
            mat = flat.reshape(n, flat.size // n)
            bits = (mat @ planes.T > 0.0).astype(np.int64)  # (n, T*B)
            buckets = (
                bits.reshape(n, n_tables, n_bits) @ weights
            )  # (n, T)
            rep_vals = np.repeat(mat, n_tables, axis=0).ravel()
            offsets = np.arange(
                0, (n * n_tables + 1) * mat.shape[1], mat.shape[1],
                dtype=np.int64,
            )
            vec_arr = pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(rep_vals, type=pa.float64())
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids, n_tables), type=pa.int64()),
                    vec_arr,
                    pa.array(
                        np.tile(
                            np.arange(n_tables, dtype=np.int32), n
                        )
                    ),
                    pa.array(buckets.ravel().astype(np.int32)),
                ],
                names=[id_col, "_cvec", "tbl", "bucket"],
            )

    return c.mapInArrow(gen, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_tables: int = N_TABLES,
    n_bits: int = N_BITS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    engine: str = "sql",
) -> DataFrame:
    """Approximate cosine top-k: score only same-bucket candidates.

    engine="sql" (default) computes corpus buckets with Catalyst HOFs
    (bit-identical to the regression pin); engine="arrow" swaps the
    corpus-side assignment for the GEMM kernel (_bucket_rows_arrow) —
    the index-build leg is the dominant LSH cost at realistic dims."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cvec")
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    )
    planes = F.broadcast(
        _planes_df(corpus.sparkSession, dim, list(range(n_tables)), n_bits)
    )
    # posexplode position IS the table id (planes are built in table order)
    if engine == "arrow":
        c_buckets = _bucket_rows_arrow(c, dim, n_tables, n_bits, id_col)
    else:
        c_buckets = (
            c.crossJoin(planes)
            .select(
                id_col,
                "_cvec",
                F.posexplode(
                    _buckets_from_planes(
                        F.col("_cvec"), F.col("_planes"), n_bits
                    )
                ).alias("tbl", "bucket"),
            )
        )
    q_buckets = (
        q.crossJoin(planes)
        .select(
            query_id_col,
            "_qvec",
            F.posexplode(
                _buckets_from_planes(F.col("_qvec"), F.col("_planes"), n_bits)
            ).alias("tbl", "bucket"),
        )
    )
    cands = (
        c_buckets.join(F.broadcast(q_buckets), ["tbl", "bucket"])
        .select(
            query_id_col,
            id_col,
            F.round(cosine_expr(F.col("_qvec"), F.col("_cvec")), 6).alias(
                "cosine"
            ),
        )
        .dropDuplicates([query_id_col, id_col])
    )
    return _topk_per_query(cands, k, query_id_col, id_col)


def embedding_cosine_near_dups(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine, LSH-bucketed.

    One LSH table with few bits: pairs must collide to be compared, so the
    comparison count is sum over buckets of |bucket|^2 instead of n^2.
    """
    if dim is None:
        raise ValueError("dim required")
    planes = F.broadcast(_planes_df(corpus.sparkSession, dim, [0], n_bits))
    c = (
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
        )
        .crossJoin(planes)
        .withColumn(
            "bucket",
            F.element_at(
                _buckets_from_planes(F.col("_v"), F.col("_planes"), n_bits), 1
            ),
        )
        .drop("_planes")
    )
    left = c.alias("l")
    right = c.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(cosine_expr(F.col("l._v"), F.col("r._v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def ivf_fit(
    corpus: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Fit an IVF index: returns (assigned corpus, centroid list).

    KMeans (fixed seed → deterministic) learns ``nlist`` centroids; each
    corpus vector is assigned to its nearest centroid ONCE (this is the
    index build — at scale, persist the assigned table bucketed by
    ``centroid``). Centroids are tiny (nlist x dim) and ship driver-side.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("features", array_to_vector("_v"))
    model = KMeans(k=nlist, seed=seed, maxIter=20).fit(vecs)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    assigned = model.transform(vecs).select(
        id_col, "_v", F.col("prediction").alias("centroid")
    )
    return assigned, centroids


def probe_lists(
    centroids: list[list[float]],
    queries: DataFrame,
    nprobe: int = 4,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, _qvec, centroid) — each query's ``nprobe`` probe lists.

    Centroids ship as ONE broadcast array<array<double>> column (the same
    plan-size fix as the LSH hyperplanes): embedding them as per-centroid
    literal arrays put nlist x dim literal nodes in the probe projection —
    ~25k nodes at nlist=64/dim=384, with analysis+codegen overhead alone
    rivaling the query's execution. The distance fold is fused:
    ||c||^2 - 2<q,c> = sum x(x-2y), one zip_with pass per centroid, plan
    size O(1) in nlist and dim.

    SQUARED EUCLIDEAN, not cosine, because probing must use the SAME
    metric KMeans.transform used to assign corpus vectors to lists: the
    two rankings agree at low dims but decorrelate at realistic embedding
    dims where KMeans centroids crowd the mean — measured recall@10
    collapsed to ~nprobe/nlist (0.2) at dim=384 under cosine probing, 1.0
    with the matched metric (||q||^2 is rank-constant)."""
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    )
    spark = queries.sparkSession
    cents = spark.createDataFrame(
        [(centroids,)], "cents array<array<double>>"
    )
    scored = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(c, F.col("_qvec"), lambda x, y: x * (x - 2.0 * y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            i.alias("cid"),
        ),
    )
    # explode_outer: the nearest-centroid expression scans every centroid
    # per query row — the InferFiltersFromGenerate pre-filter would run it
    # twice (see dedup._capped_inverted_index)
    return (
        q.crossJoin(F.broadcast(cents))
        .select(
            query_id_col,
            "_qvec",
            F.explode_outer(
                F.slice(F.array_sort(scored), 1, nprobe).getField("cid")
            ).alias("centroid"),
        )
        .where(F.col("centroid").isNotNull())
    )


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate cosine top-k probing only nprobe inverted lists.

    Queries score all ``nlist`` centroids JVM-side (cheap: nlist is tens
    to thousands), explode to their ``nprobe`` probe lists, then an
    equi-join on ``centroid`` prunes the corpus scan to the probed lists
    only — the join IS the inverted-index lookup. Final exact cosine +
    two-stage top-k within candidates.
    """
    probes = probe_lists(
        centroids,
        queries,
        nprobe=nprobe,
        vec_col=vec_col,
        query_id_col=query_id_col,
    )
    cands = assigned.join(F.broadcast(probes), "centroid").select(
        query_id_col,
        id_col,
        F.round(cosine_expr(F.col("_qvec"), F.col("_v")), 6).alias("cosine"),
    )
    return _topk_per_query(cands, k, query_id_col, id_col)


def embedding_near_dups_exact(
    corpus: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact pairwise cosine near-dups (id_a < id_b) — the O(n^2) verifier
    for :func:`embedding_cosine_near_dups`; at scale, run it only on a
    sampled slice or a single LSH bucket to audit the approximate path."""
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    left = c.alias("l")
    right = c.alias("r")
    return (
        left.join(right, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.round(cosine_expr(F.col("l._v"), F.col("r._v")), 6).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= threshold)
    )


def label_outliers(emb: DataFrame, k: int = 3) -> DataFrame:
    """Embedding-space outlier detection per label: the k members FARTHEST
    (lowest cosine) from their label's centroid — the mislabeled-sample /
    contaminated-cluster audit run before embeddings feed training.

    Scale shape: one posexplode -> (label, dim) hash-agg for the centroid
    elements -> per-label array re-assembly (deterministic: sorted by dim
    position, not collect order) -> BROADCAST join of the tiny centroid
    table back onto the vectors -> JVM-side cosine (zip_with/aggregate
    HOFs) -> salted two-stage bottom-k per label. Ranking uses the ROUNDED
    cosine (asc, then vec_id) so the order is engine-portable.
    """
    d = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", F.col("pos"), F.col("col").alias("v"))
    cent = (
        d.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda x: x["c"],
            ).alias("cv")
        )
    )
    scored = (
        emb.join(F.broadcast(cent), "label")
        .select(
            "label",
            "vec_id",
            F.round(
                cosine_expr(
                    F.col("embedding").cast("array<double>"), F.col("cv")
                ),
                6,
            ).alias("cosine"),
        )
    )
    return salted_top_k(
        scored,
        ["label"],
        (F.asc("cosine"), F.asc("vec_id")),
        k=k,
        salt_col="vec_id",
        keep_rank=True,
    )


def embedding_health(
    vecs: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Embedding-health audit: per vector, the dimension, L2 norm, and
    degenerate-vector flags (zero norm, NaN components) — the sanity
    scan that runs before any ANN index build, because one NaN vector
    silently poisons every cosine it touches and zero vectors divide by
    zero in normalization.

    All expressions are row-local (the same fold order as the package's
    cosine kernel, rounded at 6 like every similarity output), so the
    result is hash-exact cross-engine and trivially parallel: a pure
    scan projection, NO exchange at all.
    """
    e = F.col(vec_col)
    norm = F.round(_norm(F.transform(e, lambda x: x.cast("double"))), 6)
    return vecs.select(
        id_col,
        F.size(e).alias("dim"),
        norm.alias("l2_norm"),
        (norm == 0.0).alias("is_zero"),
        F.exists(e, lambda x: F.isnan(x)).alias("has_nan"),
    )


def embedding_quantization(
    vecs: DataFrame,
    vec_col: str = "embedding",
    by: str = "label",
    n_bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector int-quantization audit: the storage decision
    every 100-TB embedding corpus faces is float32 -> int8 (4x smaller,
    SIMD-friendly distance kernels); this operator reports what that
    costs BEFORE committing — per group: reconstruction error and
    signal-to-noise of ``q_i = clamp(round(v_i / scale), -Q, Q)`` with
    the standard per-vector symmetric scale ``scale = max|v| / Q``
    (``Q = 2^(n_bits-1) - 1``).

    Output grain: one row per group — ``(by, n_vecs, avg_scale,
    signal_power, noise_power, snr_db)`` where powers are the group sums
    of per-element ``v^2`` and ``(v - scale*q)^2`` and ``snr_db =
    10*log10(signal/noise)``. Zero vectors contribute zero to both
    powers (scale 0 reconstructs exactly).

    Determinism: per-vector folds add elements in array order (both
    engines share it); `round` ties go away-from-zero in Spark (HALF_UP)
    and DuckDB alike, and tie inputs are vanishing on real floats; the
    only cross-engine float drift is the final group sums (rounded 6dp,
    psi/chi2 precedent).

    Scale shape: pure row-local fold into ONE map-side-combined agg —
    no explode (the per-element work stays inside two HOF folds per
    row), no join, no window.
    """
    q_max = float((1 << (n_bits - 1)) - 1)
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = maxabs / F.lit(q_max)
    # reconstruction v_hat = scale * clamp(round(v/scale), -Q, Q);
    # scale==0 => whole vector is zero => exact reconstruction
    err = F.when(maxabs == 0.0, F.lit(0.0)).otherwise(
        F.aggregate(
            e,
            F.lit(0.0),
            # diff*diff, never pow(diff, 2): pow is not guaranteed to
            # equal the exact product, and the oracle multiplies
            lambda acc, x: acc
            + (
                x
                - scale
                * F.greatest(
                    F.lit(-q_max),
                    F.least(F.lit(q_max), F.round(x / scale, 0)),
                )
            )
            * (
                x
                - scale
                * F.greatest(
                    F.lit(-q_max),
                    F.least(F.lit(q_max), F.round(x / scale, 0)),
                )
            ),
        )
    )
    sig = F.aggregate(e, F.lit(0.0), lambda acc, x: acc + x * x)
    rows = vecs.select(
        F.col(by).alias("grp"),
        scale.alias("_s"),
        sig.alias("_sig"),
        err.alias("_err"),
    )
    agg = rows.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg("_s").alias("avg_s"),
        F.sum("_sig").alias("sp"),
        F.sum("_err").alias("np_"),
    )
    return agg.select(
        F.col("grp").alias(by),
        "n_vecs",
        F.round(F.col("avg_s"), 8).alias("avg_scale"),
        F.round(F.col("sp"), 6).alias("signal_power"),
        F.round(F.col("np_"), 6).alias("noise_power"),
        F.round(
            F.when(
                F.col("np_") > 0.0,
                F.lit(10.0) * F.log(10.0, F.col("sp") / F.col("np_")),
            ),
            4,
        ).alias("snr_db"),
    )


def class_separability(
    vecs: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Inter-class separability audit over labeled embeddings: for every
    label pair, the between-centroid distance and a Fisher-style ratio
    ``dist^2 / (scatter_a + scatter_b)`` (scatter = mean squared
    distance to own centroid). The go/no-go number before training a
    classifier head on an embedding column — ratios near 0 mean the
    labels are not linearly separable in this space and a supervised
    audit (`label_outliers`) will drown in noise.

    Output grain: one row per unordered pair (a < b) — ``(label_a,
    label_b, n_a, n_b, centroid_dist, fisher_ratio)``, rounded 6dp.

    Scale shape: ONE posexplode to the (label, dim) grain for centroids
    (map-side combined, bounded by #labels x dim); scatter via one more
    pass with the tiny centroid ARRAY broadcast back (zip_with fold, no
    per-dim join); the pair frame is the #labels^2 broadcast triangle.
    """
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ex = vecs.select(F.col(label_col).alias("lbl"), F.posexplode(e))
    cent = (
        ex.groupBy("lbl", "pos")
        .agg(F.avg("col").alias("m"))
        .groupBy("lbl")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("pm")
        )
        .select(
            "lbl", F.transform("pm", lambda s: s["m"]).alias("centroid")
        )
    )
    with_c = vecs.select(
        F.col(label_col).alias("lbl"), e.alias("v")
    ).join(F.broadcast(cent), "lbl")
    d2 = F.aggregate(
        F.zip_with(
            F.col("v"), F.col("centroid"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scat = with_c.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n"), F.avg(d2).alias("scatter")
    )
    stats = scat.join(cent, "lbl")
    a = stats.alias("a")
    b = stats.alias("b")
    cd2 = F.aggregate(
        F.zip_with(
            F.col("a.centroid"),
            F.col("b.centroid"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(F.broadcast(b), F.col("a.lbl") < F.col("b.lbl"))
        .select(
            F.col("a.lbl").alias("label_a"),
            F.col("b.lbl").alias("label_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.sqrt(cd2), 6).alias("centroid_dist"),
            F.round(
                cd2 / (F.col("a.scatter") + F.col("b.scatter")), 6
            ).alias("fisher_ratio"),
        )
    )
