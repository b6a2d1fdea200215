"""Volume-spike detection: windowed counts vs a trailing z-score baseline.

The reference alerts on cardinality thresholds (static bars,
`internal/report/generator.go`); a production log pipeline also needs the
*time-domain* alarm — "this service's error volume just jumped 5 sigma
above its own recent history".  This operator is that alarm, fully
declarative:

1. event-time tumbling windows per group: one hash aggregation over
   ``(group, window)`` — map-side combinable, the only shuffle.
2. per-group trailing baseline: mean/stddev of the previous ``trailing``
   windows (a row-frame window function partitioned by the group — state
   bounded by ``trailing``, never by history length).
3. z-score + flag.  The z is defined only when the baseline frame is FULL
   (``trailing`` prior windows exist) and has positive variance — a
   half-filled baseline raising alarms is how on-call gets paged at 3am
   on day one.

Scale shape: the window aggregation shuffles once on the (bounded-domain)
group key x time bucket; the window function re-uses that partitioning.
Gaps (empty windows) produce no row and therefore do not enter the
baseline — matching the oracle exactly; densify upstream with a calendar
join if zero-filled baselines are wanted.

Streaming twin: stage 1 is exactly the watermarked windowed count the
streaming module already runs (`streaming/stream.py` windowed aggs); the
baseline stage then runs as a batch query over the window table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def volume_spikes(
    df: DataFrame,
    group_col: str,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    trailing: int = 6,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Per-(group, window) counts with trailing-baseline z-scores.

    Returns ``(group, window_start, count, baseline_n, baseline_mean,
    baseline_std, z, is_spike)`` — one row per non-empty window; z and
    is_spike are NULL until ``trailing`` prior windows exist."""
    if trailing < 2:
        raise ValueError(f"trailing must be >= 2, got {trailing}")
    counts = (
        df.groupBy(
            F.col(group_col).alias("group"),
            F.window(F.col(ts_col), window_duration).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
        .select("group", F.col("w.start").alias("window_start"), "count")
    )
    frame = (
        Window.partitionBy("group")
        .orderBy("window_start")
        .rowsBetween(-trailing, -1)
    )
    with_base = counts.select(
        "group",
        "window_start",
        "count",
        F.count(F.lit(1)).over(frame).alias("baseline_n"),
        F.avg("count").over(frame).alias("_mean"),
        F.stddev_samp("count").over(frame).alias("_std"),
    )
    full = F.col("baseline_n") == trailing
    usable = full & (F.col("_std") > 0)
    z = (F.col("count") - F.col("_mean")) / F.col("_std")
    return with_base.select(
        "group",
        "window_start",
        "count",
        "baseline_n",
        F.when(full, F.round("_mean", 6)).alias("baseline_mean"),
        F.when(full, F.round("_std", 6)).alias("baseline_std"),
        F.when(usable, F.round(z, 6)).alias("z"),
        F.when(usable, (z >= z_threshold).cast("int")).alias("is_spike"),
    ).orderBy("group", "window_start")


def winsorize_audit(
    events: DataFrame,
    by: str = "event_type",
    value_col: str = "value",
    lo: float = 0.01,
    hi: float = 0.99,
) -> DataFrame:
    """Winsorization impact audit per group: exact (p_lo, p_hi) clip
    bounds over a numeric column plus the accounting a pipeline reviews
    before committing to outlier clipping — how many rows each tail
    clips and how much mass the clip removes. Feature/label columns in
    training data are routinely winsorized; clipping blind (or at the
    wrong quantile) silently reshapes the distribution, so the audit
    comes first.

    Bounds are EXACT interpolated percentiles (``F.percentile`` — the
    repo's established bit-exact pair with DuckDB ``quantile_cont``), not
    approximations, so the flagged-row counts are reproducible integers.

    Output grain: one row per group — ``(by, n_rows, lo_bound, hi_bound,
    n_clipped_low, n_clipped_high, clipped_share, excess_mass)`` where
    ``excess_mass`` is the total |value - bound| the clip would remove
    (both tails), rounded 4dp.

    Scale shape: pass 1 is one hash agg per group for the two exact
    percentiles (sort-based inside the agg — swap in `quantiles.py`'s
    mergeable sketch when exactness can yield, same join shape); pass 2
    re-scans with the tiny bounds frame broadcast-joined back. Null
    values are excluded from both passes.
    """
    vals = events.where(F.col(value_col).isNotNull()).select(
        F.col(by).alias("grp"), F.col(value_col).alias("v")
    )
    bounds = vals.groupBy("grp").agg(
        F.percentile(F.col("v"), F.lit(lo)).alias("lo_b"),
        F.percentile(F.col("v"), F.lit(hi)).alias("hi_b"),
    )
    j = vals.join(F.broadcast(bounds), "grp")
    return (
        j.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("lo_b"), 6).alias("lo_bound"),
            F.round(F.max("hi_b"), 6).alias("hi_bound"),
            F.sum((F.col("v") < F.col("lo_b")).cast("long")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("v") > F.col("hi_b")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(
                F.sum(
                    F.when(F.col("v") < F.col("lo_b"), F.col("lo_b") - F.col("v"))
                    .when(F.col("v") > F.col("hi_b"), F.col("v") - F.col("hi_b"))
                    .otherwise(F.lit(0.0))
                ),
                4,
            ).alias("excess_mass"),
        )
        .select(
            F.col("grp").alias(by),
            "n_rows",
            "lo_bound",
            "hi_bound",
            "n_clipped_low",
            "n_clipped_high",
            F.round(
                (F.col("n_clipped_low") + F.col("n_clipped_high"))
                / F.col("n_rows"),
                6,
            ).alias("clipped_share"),
            "excess_mass",
        )
    )


def cusum_drift(
    events: DataFrame,
    by: str = "event_type",
    window: str = "1 hour",
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
) -> DataFrame:
    """One-sided CUSUM change-point monitor on windowed event volume per
    group — the drift alarm that catches a slow sustained upward shift
    `volume_spikes`' single-window z-score misses (each window is only
    slightly high; the cumulative excess is not).

    The textbook recursion ``S_t = max(0, S_{t-1} + x_t)`` (with
    ``x_t = c_t - mu - k*sigma``) looks imperative, but has the exact
    prefix-scan identity ``S_t = P_t - min(0, min_{j<=t} P_j)`` where
    ``P`` is the plain running sum of ``x`` — so the whole monitor is two
    window functions over the (group, bucket) grain, no recursion, no
    UDF, no state store.

    Cross-engine determinism by construction: ``mu`` and ``sigma`` come
    from INTEGER count sums (``var = (n*sum(c^2) - sum(c)^2) / n^2``,
    exact integer numerator — never F.stddev, whose float accumulation
    order is engine-dependent), and the running sums add doubles in the
    bucket order both engines share, so every ``S_t`` is bit-identical.

    Output grain: one row per (group, bucket) — ``(by, bucket, n_events,
    cusum, alarm)`` with ``alarm = S_t > h_sigma * sigma``. Empty buckets
    produce no row (they contribute no excess; densify upstream for
    gap-sensitive monitoring, same note as `volume_spikes`).

    Scale shape: one map-side-combined hash agg to the (group, bucket)
    grain (the only full-data exchange); the per-group stats ride a tiny
    second agg broadcast back; both window passes share one
    (group)-partitioned sort whose partitions hold #buckets rows
    (time-bounded, never corpus-bounded).
    """
    gb = cusum_buckets(events, by=by, window=window)
    return cusum_from_buckets(gb, by=by, k_sigma=k_sigma, h_sigma=h_sigma)


def cusum_buckets(
    events: DataFrame, by: str = "event_type", window: str = "1 hour"
) -> DataFrame:
    """CUSUM stage 1: the (grp, bucket, n_events) count frame. Counts are
    plain sums, so the STREAMING twin writes this frame per micro-batch
    and merges the partials by summing."""
    bucket = F.window(F.col("ts"), window).start.alias("bucket")
    return (
        events.select(F.col(by).alias("grp"), bucket)
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def cusum_from_buckets(
    gb: DataFrame,
    by: str = "event_type",
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
) -> DataFrame:
    """CUSUM stages 2-3 over an already-bucketed (grp, bucket,
    n_events) frame — split out so the STREAMING twin can merge
    sum-mergeable bucket-count partials and reuse the identical tail
    (bit-identical to the batch monitor by construction)."""
    stats = gb.groupBy("grp").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("n_events").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("s2"),
    )
    nb = F.col("nb").cast("double")
    mu = F.col("s1").cast("double") / nb
    var = (nb * F.col("s2").cast("double") - F.col("s1").cast("double")
           * F.col("s1").cast("double")) / (nb * nb)
    stats = stats.select(
        "grp", mu.alias("mu"), F.sqrt(F.greatest(var, F.lit(0.0))).alias("sigma")
    )
    from pyspark.sql import Window

    x = (F.col("n_events").cast("double") - F.col("mu")
         - F.lit(k_sigma) * F.col("sigma"))
    w = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = gb.join(F.broadcast(stats), "grp").withColumn("_p", F.sum(x).over(w))
    s_t = F.col("_p") - F.least(F.lit(0.0), F.min("_p").over(w))
    return j.select(
        F.col("grp").alias(by),
        "bucket",
        "n_events",
        F.round(s_t, 6).alias("cusum"),
        (s_t > F.lit(h_sigma) * F.col("sigma")).alias("alarm"),
    )


def robust_outliers(
    events: DataFrame,
    by: str = "event_type",
    value_col: str = "value",
    z_max: float = 3.5,
) -> DataFrame:
    """Median/MAD robust outlier audit per group — the heavy-tail-safe
    counterpart to `winsorize_audit`'s quantile clip and `volume_spikes`'
    mean/sigma z-score: one extreme value inflates a mean-based sigma
    enough to hide its own outlierness, while the median absolute
    deviation barely moves. Flags rows with modified z-score
    ``|v - median| / (1.4826 * MAD) > z_max`` (1.4826 = the normal
    consistency constant, z_max 3.5 per Iglewicz-Hoaglin).

    Both the median and the MAD are EXACT interpolated percentiles (the
    repo's bit-exact `F.percentile` / `quantile_cont` pair), so the
    flagged counts are reproducible integers. ``MAD == 0`` (over half
    the group identical) makes the score undefined — those groups report
    NULL outlier columns rather than dividing by zero or silently
    flagging everything.

    Output grain: one row per group — ``(by, n_rows, median, mad,
    n_outliers, outlier_share, max_robust_z)``.

    Scale shape: three passes over the (group-pruned) scan — median agg,
    MAD agg over |v - median|, accounting agg — each one map-side-
    combinable hash agg with the tiny per-group stats broadcast back;
    no window, no pair join. Swap the exact percentiles for
    `quantiles.py` sketches to fuse passes when exactness can yield.
    """
    vals = events.where(F.col(value_col).isNotNull()).select(
        F.col(by).alias("grp"), F.col(value_col).alias("v")
    )
    med = vals.groupBy("grp").agg(
        F.percentile(F.col("v"), F.lit(0.5)).alias("med")
    )
    dev = vals.join(F.broadcast(med), "grp").select(
        "grp", "v", "med", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("grp").agg(
        F.percentile(F.col("ad"), F.lit(0.5)).alias("mad")
    )
    # guard INSIDE the expression: ANSI mode turns mad==0 divisions into
    # runtime errors, not infinities — the WHEN must gate the division
    z = F.when(
        F.col("mad") > 0.0, F.col("ad") / (F.lit(1.4826) * F.col("mad"))
    )
    j = dev.join(F.broadcast(mad), "grp")
    return (
        j.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("med"), 6).alias("median"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum((z > z_max).cast("long")).alias("n_outliers"),
            F.round(F.max(z), 4).alias("max_robust_z"),
        )
        .select(
            F.col("grp").alias(by),
            "n_rows",
            "median",
            "mad",
            "n_outliers",
            F.round(F.col("n_outliers") / F.col("n_rows"), 6).alias(
                "outlier_share"
            ),
            "max_robust_z",
        )
    )


def _window_seconds(window_duration: str) -> int:
    """Seconds in a tumbling-window duration string ('2 hours',
    '30 minutes', '45 seconds', '1 day', '2 weeks') — every unit
    F.window itself accepts for these shapes; anything else fails fast
    with a clear error instead of a bare KeyError after the expensive
    upstream pass has already run (r6, advisor note)."""
    n, unit = window_duration.split()
    units = {
        "week": 604800,
        "day": 86400,
        "hour": 3600,
        "minute": 60,
        "second": 1,
    }
    u = unit.rstrip("s")
    if u not in units:
        raise ValueError(
            f"unsupported window_duration unit {unit!r}; "
            f"supported: {sorted(units)} (+ plural forms)"
        )
    return int(n) * units[u]


def spike_attribution(
    df: DataFrame,
    group_col: str = "event_type",
    dim_col: str = "user_id",
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    trailing: int = 6,
    k: int = 5,
) -> DataFrame:
    """Root-cause attribution for the worst volume anomaly: for each
    group's MAX-z window (from `volume_spikes`' trailing baseline), rank
    the dimension values that drove the excess — the "which tenant/tool/
    user caused the spike" answer on-call actually needs after the alarm
    fires.

    ``excess = count_in_spike_window - trailing_rate`` where
    ``trailing_rate`` is the dimension value's average count over the
    ``trailing`` windows immediately before the spike (the same horizon
    the z-score baseline used). Top-``k`` per group by (excess desc,
    dim asc) — the tie-break keeps the cut deterministic cross-engine.

    Output grain: up to k rows per group — ``(group, window_start,
    dim_value, n_window, baseline_rate, excess, rank)``. Groups whose
    baseline never filled (fewer than trailing+1 windows) are absent,
    like their z in `volume_spikes`.

    Scale shape: `volume_spikes` runs on the (group, window) grain; the
    1-row-per-group spike frame broadcasts back onto ONE re-scan of the
    raw events, which is immediately filtered to the spike window + its
    trailing horizon (partition pruning applies when the table is
    time-partitioned) and aggregated per (group, dim) — bounded by the
    horizon's active dimension values, never the corpus.
    """
    from pyspark.sql import Window

    vs = volume_spikes(
        df, group_col, ts_col=ts_col,
        window_duration=window_duration, trailing=trailing,
    )
    sel = Window.partitionBy("group").orderBy(
        F.col("z").desc(), F.col("window_start").asc()
    )
    spike = (
        vs.where(F.col("z").isNotNull())
        .withColumn("_r", F.row_number().over(sel))
        .where(F.col("_r") == 1)
        .select(
            F.col("group").alias("grp"),
            F.col("window_start").alias("ws"),
            F.col("count").alias("n_window_total"),
        )
    )
    secs = _window_seconds(window_duration)
    ev = df.select(
        F.col(group_col).alias("grp"),
        F.col(dim_col).alias("dim"),
        F.window(F.col(ts_col), window_duration).start.alias("b"),
    )
    j = ev.join(F.broadcast(spike), "grp").where(
        (F.unix_timestamp("b")
         >= F.unix_timestamp("ws") - F.lit(trailing * secs))
        & (F.unix_timestamp("b") <= F.unix_timestamp("ws"))
    )
    in_w = (
        j.where(F.col("b") == F.col("ws"))
        .groupBy("grp", "ws", "dim")
        .agg(F.count(F.lit(1)).alias("n_window"))
    )
    base = (
        j.where(F.col("b") < F.col("ws"))
        .groupBy("grp", "dim")
        .agg((F.count(F.lit(1)) / F.lit(float(trailing))).alias("rate"))
    )
    att = in_w.join(base, ["grp", "dim"], "left").select(
        "grp",
        "ws",
        "dim",
        "n_window",
        F.coalesce(F.col("rate"), F.lit(0.0)).alias("rate"),
        (F.col("n_window") - F.coalesce(F.col("rate"), F.lit(0.0))).alias(
            "excess"
        ),
    )
    rk = Window.partitionBy("grp").orderBy(
        F.col("excess").desc(), F.col("dim").asc()
    )
    return (
        att.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp").alias("group"),
            F.col("ws").alias("window_start"),
            F.col("dim").alias("dim_value"),
            "n_window",
            F.round("rate", 4).alias("baseline_rate"),
            F.round("excess", 4).alias("excess"),
            "rank",
        )
    )


def burstiness(
    events: DataFrame,
    by: str = "event_type",
    window: str = "1 hour",
) -> DataFrame:
    """Fano factor (variance/mean of windowed volume) per group — the
    one-number burstiness index: ~1 for Poisson-like arrivals, >> 1 for
    bursty incident traffic, << 1 for rate-limited/metronomic feeds.
    The scalar companion to `cusum_drift` (which localizes WHEN the
    burst happened; this says HOW bursty a stream is overall).

    Deterministic like the module's other stats: variance from INTEGER
    count sums (``(n*s2 - s1^2)/n^2``), never F.variance.

    Output grain: one row per group — ``(by, n_windows, mean_rate,
    fano_factor)`` (NULL fano for a zero-mean group).

    Scale shape: one map-side-combined (group, bucket) agg — the same
    single full-data exchange as cusum stage 1 — then a tiny per-group
    fold.
    """
    bucket = F.window(F.col("ts"), window).start.alias("bucket")
    gb = (
        events.select(F.col(by).alias("grp"), bucket)
        .groupBy("grp", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = gb.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = F.col("n_windows").cast("double")
    mean = F.col("s1").cast("double") / n
    var = (n * F.col("s2").cast("double")
           - F.col("s1").cast("double") * F.col("s1").cast("double")) / (n * n)
    return agg.select(
        F.col("grp").alias(by),
        "n_windows",
        F.round(mean, 4).alias("mean_rate"),
        F.round(F.when(mean > 0, var / mean), 6).alias("fano_factor"),
    )
