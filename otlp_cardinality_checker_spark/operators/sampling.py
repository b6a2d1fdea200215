"""Deterministic stratified sampling for training-data pipelines.

Data-mixing for LLM training needs *reproducible* per-source sampling: the
same row must be kept or dropped on every run, on every engine, at any
parallelism.  Random-number sampling (``df.sample``) cannot promise that, so
the operator here is a **hash-threshold Bernoulli sample**: a row survives
iff the first 16 bits of ``md5(id || salt)`` fall below ``rate * 2^16`` for
its stratum.  md5 is bit-identical across engines (the DuckDB oracle
reproduces the exact same sample), the salt gives independent re-draws, and
the whole thing is a pure scan + filter — no shuffle, no state, trivially
correct at 100 TB (predicate pushdown still applies to every other filter
in the plan).

Scale notes: the per-stratum threshold is compiled into a single CASE
expression (no join against a rates table needed below ~thousands of
strata; swap to a broadcast join above that), and the audit aggregate is
one map-side-combinable hash aggregation over the stratum column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex_threshold(rate: float) -> str:
    """First-4-hex-chars cutoff: keep iff substr(md5,1,4) < this.

    rate=1.0 maps to "zzzz", lexicographically above every hex digest, so
    the comparison keeps everything without a special case in the plan."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    if rate >= 1.0:
        return "zzzz"
    return format(int(rate * 65536), "04x")


def _keep_expr(
    rates: dict[str, float],
    default_rate: float,
    stratum_col: str,
    id_col: str,
    salt: str,
) -> Column:
    digest = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 4
    )
    threshold = F.lit(_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(stratum_col) == stratum, F.lit(_hex_threshold(rate))
        ).otherwise(threshold)
    return digest < threshold


def hash_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Rows surviving the deterministic per-stratum Bernoulli sample."""
    return docs.where(
        _keep_expr(rates, default_rate, stratum_col, id_col, salt)
    )


RES_BITS = 32  # PPS inclusion-probability resolution: 8 hex chars
_RES = 1 << RES_BITS


def pps_keep_expr(
    k: int,
    weight_col: str,
    id_col: str,
    w_total_col: str = "w_total",
    salt: str = "",
) -> Column:
    """Deterministic PPS (probability-proportional-to-size) Poisson
    inclusion test: keep a row iff u < min(1, k * w / W), with
    u = first 32 bits of md5(id || salt).

    Everything is EXACT integer arithmetic — the per-row threshold is
    t = min(2^32, (k * w * 2^32) div W) rendered as 8 lowercase hex chars
    (format_string in Spark, printf in DuckDB — identical output), and
    the comparison is fixed-width lexicographic, so the oracle reproduces
    the exact sample membership with no float in sight. Inclusion
    probability is quantized at 2^-32 (~2.3e-10) — irrelevant next to
    Poisson noise at any real k.

    Scale notes: W arrives as a column (crossJoin(broadcast(1-row agg)) —
    no window, no second shuffle), and the test itself is a pure scan
    predicate. The bigint product k*w*2^32 holds while k*w < 2^31
    (k=10^3 x 1MB-char docs); beyond that promote the multiply to
    decimal(38,0)/HUGEINT — same construction, wider lanes."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    t = F.least(
        F.lit(_RES).cast("long"),
        F.expr(f"({k}L * {weight_col} * {_RES}L) div {w_total_col}"),
    )
    u = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
    )
    return (t >= _RES) | (u < F.format_string("%08x", t))


def pps_sample_stats(
    docs: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    salt: str = "",
) -> DataFrame:
    """Per-stratum audit of a weighted (PPS Poisson) sample of expected
    size ``k``: heavy documents are proportionally more likely to be kept
    — the standard move when a token budget, not a document budget, is
    the constraint. One extra pass computes W; the audit itself is one
    map-side-combinable aggregation. ``expected_n`` is the exact sum of
    quantized inclusion probabilities (an integer sum scaled once at the
    end), so it hash-compares across engines."""
    w_total = docs.agg(
        F.sum(F.col(weight_col).cast("long")).alias("w_total")
    )
    keep = pps_keep_expr(k, weight_col, id_col, "w_total", salt).cast("long")
    t = F.least(
        F.lit(_RES).cast("long"),
        F.expr(f"({k}L * {weight_col} * {_RES}L) div w_total"),
    )
    return (
        docs.crossJoin(F.broadcast(w_total))
        .groupBy(stratum_col)
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(keep).alias("n_sampled"),
            F.sum(F.col(id_col) * keep).alias("sampled_id_sum"),
            F.sum(F.col(weight_col).cast("long") * keep).alias(
                "sampled_w_sum"
            ),
            F.round(F.sum(t) / F.lit(float(_RES)), 4).alias("expected_n"),
        )
    )


def stratified_sample_stats(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-stratum sample audit in ONE pass: totals, kept count, realized
    rate, and the kept-id checksum (sum of sampled ids) that pins the exact
    membership of the sample, not just its size."""
    keep = _keep_expr(rates, default_rate, stratum_col, id_col, salt).cast(
        "long"
    )
    return docs.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(keep).alias("n_sampled"),
        F.round(F.sum(keep) / F.count(F.lit(1)), 4).alias("realized_rate"),
        F.sum(F.col(id_col) * keep).alias("sampled_id_sum"),
    )


def mixture_weights(docs: DataFrame, alpha: float = 0.7) -> DataFrame:
    """Temperature-scaled source mixture weights — the multinomial
    sampling-weight computation used to rebalance multi-source / multi-
    lingual training corpora (p_i ∝ n_i^alpha, the alpha=0.7 recipe of
    XLM-R / mT5): per source, doc and token counts, raw corpus share,
    alpha-scaled share, and the implied up/down-sampling factor a data
    loader would apply.

    Output: source, n_docs, n_tokens, raw_share, alpha_share,
    upsample_factor (= alpha_share / raw_share; > 1 means the source is
    up-sampled by the temperature flattening).

    Scale shape: ONE map-side-combined aggregation from the raw scan down
    to the tiny source grain, then a crossJoin against the broadcast
    1-row totals — no unpartitioned window, no second scan. Shares are
    rounded (6 dp) for cross-engine float stability.
    """
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    tot = per_src.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(F.pow("n_tokens", F.lit(alpha))).alias("_tot_a"),
    )
    raw_share = F.col("n_tokens") / F.col("_tot")
    alpha_share = F.pow("n_tokens", F.lit(alpha)) / F.col("_tot_a")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(raw_share, 6).alias("raw_share"),
        F.round(alpha_share, 6).alias("alpha_share"),
        F.round(alpha_share / raw_share, 4).alias("upsample_factor"),
    )


def data_budget(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 0.7,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Executable data-mixing budget: turn temperature mixture weights
    into a per-source token ALLOCATION under a total training budget, and
    run the implied downsample in the same job. For each source:
    alloc = budget x alpha_share; epochs = alloc / available. Sources with
    epochs > 1 are oversampled (the loader repeats them — every doc is
    kept here); sources with epochs < 1 are downsampled NOW via the
    package's deterministic md5-threshold Bernoulli membership, and the
    kept-id checksum pins the exact surviving set.

    Cross-engine determinism of the float-derived keep rate: alpha_share
    is quantized at 6 dp FIRST (the same rounding mixture_weights already
    hash-verifies as bit-identical in DuckDB), and everything after it is
    the same IEEE double expression evaluated in the same order in both
    engines — floor(least(1, alloc / n_tokens) * 2^16) — so the 16-bit
    threshold, and therefore the membership, cannot diverge.

    Scale shape: one map-side-combined agg to the source grain, a
    broadcast 1-row total, then ONE more scan that broadcast-joins the
    tiny per-source plan and folds the kept set per source — no shuffle
    of document rows at any point; the sample predicate is a pure scan
    filter exactly like hash_sample.
    """
    if budget_tokens <= 0:
        raise ValueError(
            f"budget_tokens must be positive, got {budget_tokens}"
        )
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    per = docs.groupBy(stratum_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    tot = per.agg(F.sum(F.pow("n_tokens", F.lit(alpha))).alias("_ta"))
    alloc = F.lit(float(budget_tokens)) * F.col("alpha_share")
    plan = (
        per.crossJoin(F.broadcast(tot))
        .select(
            stratum_col,
            "n_docs",
            "n_tokens",
            F.round(F.pow("n_tokens", F.lit(alpha)) / F.col("_ta"), 6).alias(
                "alpha_share"
            ),
        )
        .select(
            stratum_col,
            "n_docs",
            "n_tokens",
            "alpha_share",
            F.floor(alloc).cast("long").alias("alloc_tokens"),
            F.round(alloc / F.col("n_tokens"), 4).alias("epochs"),
            (alloc > F.col("n_tokens")).alias("oversampled"),
            F.floor(
                F.least(F.lit(1.0), alloc / F.col("n_tokens"))
                * F.lit(65536.0)
            )
            .cast("long")
            .alias("_thr"),
        )
    )
    digest = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 4
    )
    keep = (
        F.when(F.col("_thr") >= F.lit(65536), F.lit(True))
        .otherwise(digest < F.format_string("%04x", F.col("_thr")))
        .cast("long")
    )
    kept = (
        docs.join(
            F.broadcast(plan.select(stratum_col, "_thr")), stratum_col
        )
        .groupBy(stratum_col)
        .agg(
            F.sum(keep).alias("n_kept"),
            F.sum(ntok * keep).alias("kept_tokens"),
            F.sum(F.col(id_col) * keep).alias("kept_id_sum"),
        )
    )
    return plan.drop("_thr").join(F.broadcast(kept), stratum_col)


def fixed_k_sample(
    docs: DataFrame,
    k: int,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically —
    the fixed-COUNT companion to the rate-based hash_sample ("give me
    exactly 1000 docs per language", the most common curation ask that
    Bernoulli sampling can only hit in expectation). Rows are ranked by
    md5(id || salt): under the hash's uniformity that is a reproducible
    uniform random permutation, identical in every engine, so the sample
    is a pure function of (ids, salt) — re-running, re-partitioning, or
    re-ordering the input cannot change membership. A different salt is
    an independent re-draw.

    Output: (stratum, id, rank) — the sample itself, rank 1..k within
    the stratum, so downstream joins can take any nested budget (rank
    <= k' for k' < k gives the deterministic sub-sample for free).

    Scale shape: delegates to aggregate.salted_top_k — rank within
    (stratum, salt-of-id) first, then a final window over at most
    N_SALT x k rows per stratum — so a hot stratum (one language being
    90% of a 10^12-row corpus) never sorts on a single reducer. The salt
    stage only changes the physical distribution, never membership.
    """
    from .aggregate import salted_top_k

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return salted_top_k(
        docs.select(stratum_col, id_col, key.alias("_key")),
        [stratum_col],
        (F.asc("_key"), F.asc(id_col)),
        k=k,
        salt_col=id_col,
        keep_rank=True,
    ).select(stratum_col, id_col, F.col("rank").cast("long").alias("rank"))


def epoch_plan(
    docs: DataFrame,
    budget_tokens: int,
    alpha: float = 0.7,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    max_epochs: int = 64,
) -> DataFrame:
    """The executable EPOCH schedule data_budget only plans: materialize
    one row per (document, epoch) a loader should actually read under
    the temperature-mixture token budget. A source with epochs = 2.3
    repeats every doc for epochs 1-2 and keeps a deterministic 30%
    subset for epoch 3; a source with epochs = 0.4 gets only the
    tail epoch at rate 0.4 — which reproduces data_budget's downsample
    membership EXACTLY, because the tail threshold is the same
    floor(frac * 2^16) of the same IEEE chain (alpha_share quantized at
    6 dp first, then identical-order double arithmetic — the
    cross-engine contract data_budget already hash-verifies).

    ``order_key`` is md5(doc @ epoch): sorting by it yields the
    per-epoch-decorrelated shuffled read order. The tail-membership
    digest is md5(doc_id) alone — each doc has exactly ONE tail epoch,
    and the doc-only digest is what makes the epochs<1 case reproduce
    data_budget's kept set identically (pinned by test).

    Output grain: one row per scheduled read — ``(stratum, doc_id,
    epoch, order_key)``.

    Scale shape: source-grain aggs + broadcast plan join (document rows
    never shuffle — the same shape as data_budget), then a
    sequence-explode bounded by ceil(epochs) <= ``max_epochs`` (the
    fan-out is the schedule itself, clamped so a misconfigured budget
    cannot explode the output; the clamp is part of the contract and
    mirrored by the oracle).
    """
    if budget_tokens <= 0:
        raise ValueError(
            f"budget_tokens must be positive, got {budget_tokens}"
        )
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be positive, got {max_epochs}")
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    per = docs.groupBy(stratum_col).agg(F.sum(ntok).alias("n_tokens"))
    tot = per.agg(F.sum(F.pow("n_tokens", F.lit(alpha))).alias("_ta"))
    share = F.round(
        F.pow("n_tokens", F.lit(alpha)) / F.col("_ta"), 6
    )
    alloc = F.lit(float(budget_tokens)) * F.col("_share")
    epochs_raw = alloc / F.col("n_tokens")
    plan = (
        per.crossJoin(F.broadcast(tot))
        .select(stratum_col, "n_tokens", share.alias("_share"))
        .select(
            stratum_col,
            F.least(
                F.floor(epochs_raw).cast("long"), F.lit(max_epochs)
            ).alias("_full"),
            F.floor(
                (epochs_raw - F.floor(epochs_raw)) * F.lit(65536.0)
            )
            .cast("long")
            .alias("_thr"),
        )
    )
    joined = docs.select(id_col, stratum_col).join(
        F.broadcast(plan), stratum_col
    )
    exploded = joined.select(
        stratum_col,
        id_col,
        "_full",
        "_thr",
        F.explode_outer(
            F.sequence(F.lit(1), F.col("_full") + F.lit(1))
        ).alias("epoch"),
    )
    digest = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
    keep = (F.col("epoch") <= F.col("_full")) | (
        digest < F.format_string("%04x", F.col("_thr"))
    )
    return exploded.where(keep).select(
        stratum_col,
        id_col,
        "epoch",
        F.md5(
            F.concat(
                F.col(id_col).cast("string"),
                F.lit("@"),
                F.col("epoch").cast("string"),
            )
        ).alias("order_key"),
    )


def neyman_allocation(
    events: DataFrame,
    budget: int = 1000,
    by: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Neyman (variance-proportional) sample-allocation plan: split a
    sampling ``budget`` across strata proportionally to ``N_h * S_h``
    (stratum size x stratum std-dev) — the textbook minimum-variance
    allocation for estimating a mean under stratified sampling, and the
    upgrade to `stratified_sample`'s fixed-rate plan when strata differ
    wildly in spread.

    ``S_h`` is the exact population std-dev from integer-free but
    DETERMINISTIC sums (``var = (n*s2 - s1^2)/n^2`` — the engine-order-
    proof formulation the module's stats all use); the allocation is
    ``n_h = round(budget * N_h*S_h / sum(N_h*S_h))`` capped at ``N_h``.

    Output grain: one row per stratum — ``(by, n_rows, stddev,
    weight, n_alloc, sampling_rate)``.

    Scale shape: ONE map-side-combined agg to the stratum grain; the
    normalizing total rides a broadcast crossJoin.
    """
    vals = events.where(F.col(value_col).isNotNull()).select(
        F.col(by).alias("grp"), F.col(value_col).cast("double").alias("v")
    )
    agg = vals.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    n = F.col("n_rows").cast("double")
    var = (n * F.col("s2") - F.col("s1") * F.col("s1")) / (n * n)
    w = agg.select(
        "grp",
        "n_rows",
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("sd"),
        (n * F.sqrt(F.greatest(var, F.lit(0.0)))).alias("ns"),
    )
    tot = w.agg(
        F.sum("ns").alias("tot"), F.sum("n_rows").alias("tot_n")
    )
    # all-constant strata make sum(N_h * S_h) == 0; Neyman weights are
    # then undefined (0/0 -> NaN), so fall back to allocation
    # proportional to stratum size (r6, advisor note). Fixtures always
    # carry variance, so oracle-checked outputs are unchanged.
    share = F.when(
        F.col("tot") > 0, F.col("ns") / F.col("tot")
    ).otherwise(F.col("n_rows").cast("double") / F.col("tot_n"))
    alloc = F.least(
        F.round(F.lit(float(budget)) * share, 0).cast("long"),
        F.col("n_rows"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias(by),
        "n_rows",
        F.round(F.col("sd"), 6).alias("stddev"),
        F.round(share, 6).alias("weight"),
        alloc.alias("n_alloc"),
        F.round(alloc.cast("double") / F.col("n_rows"), 6).alias(
            "sampling_rate"
        ),
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 5,
    by: str = "source",
    weight_col: str = "n_chars",
    salt: str = "",
) -> DataFrame:
    """Exactly-k WEIGHTED sampling without replacement per stratum —
    the Efraimidis-Spirakis A-ES scheme: rank items by ``u^(1/w)``
    (equivalently ``ln(u)/w``, monotone) and keep the top k, which draws
    each subset with probability proportional to its weights. The
    third leg of the sampling family: `stratified_sample` is Bernoulli,
    `fixed_k_sample` is uniform-k, `pps_sample` is Poisson-PPS — this is
    k-without-replacement PPS.

    ``u`` is the deterministic md5-prefix uniform (the package's
    cross-engine idiom, salted for independent re-draws), so the sample
    replays bit-for-bit on any engine; production swaps the hash-uniform
    for an RNG and nothing else changes.

    Residual cross-engine risk (documented, r6 advisor note): the rank
    key ``ln(u)/w`` is a float whose last ulp depends on the engine's
    libm (JVM ``Math.log`` vs DuckDB ``ln``), unlike the package's pure
    integer-threshold samplers. A near-tie between two keys could in
    principle flip rank order across engines; with the fixture corpora
    the nearest observed key pairs are separated by far more than one
    ulp, and the oracle gate has held at both scales every round. The
    alternative — quantizing the key on both sides — would change the
    declared query's results, which a frozen-oracle optimization round
    must not do.

    Output grain: up to k rows per stratum — ``(by, doc_id, weight,
    rank)``. Zero/negative weights are excluded (they cannot be drawn
    under PPS).

    Scale shape: one scan computes keys; one per-stratum top-k window
    (rank over the stratum grain — swap in the salted two-stage top-k
    idiom if strata ever exceed executor memory).
    """
    from pyspark.sql import Window

    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + F.lit(1)
    ) / F.lit(4294967297.0)
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    rows = docs.where(w > 0).select(
        F.col(by).alias("grp"),
        "doc_id",
        w.alias("weight"),
        key.alias("_key"),
    )
    win = Window.partitionBy("grp").orderBy(
        F.col("_key").desc(), F.col("doc_id").asc()
    )
    return (
        rows.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(by), "doc_id", "weight", "rank")
    )
