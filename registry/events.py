"""Queries over the ``events`` input table: event-time windows,
sessions, funnels, sketches, drift and anomaly operators, and the
metric-shape reads derived from events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.anomaly import (
    burstiness,
    cusum_drift,
    robust_outliers,
    spike_attribution,
    volume_spikes,
    winsorize_audit,
)
from otlp_cardinality_checker_spark.operators.asof import (
    asof_join,
    interval_join,
)
from otlp_cardinality_checker_spark.operators.conversation import sessionize
from otlp_cardinality_checker_spark.operators.heavy_hitters import (
    heavy_hitters,
)
from otlp_cardinality_checker_spark.operators.metric_shapes import (
    BOUNDS_V0,
    BOUNDS_V1,
    observed_metric_shapes,
    series_estimate_observed,
    synthetic_metric_points,
)
from otlp_cardinality_checker_spark.operators.quality import fd_audit
from otlp_cardinality_checker_spark.operators.retention import (
    cohort_retention,
    sequence_funnel,
)
from otlp_cardinality_checker_spark.operators.rollup import (
    hopping_distinct_users,
    hopping_window_stats,
    rollup_hierarchy,
)
from otlp_cardinality_checker_spark.operators.sampling import neyman_allocation


def q_metric_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 histogram half: per-metric union of OBSERVED bucket bounds and
    exp-hist scales (extractUniqueBounds/extractUniqueScales,
    metrics.go:327-376) over a deterministic nested-metric fixture derived
    from events; includes the Prometheus multiplier that shape implies."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return observed_metric_shapes(synthetic_metric_points(events))


def q_series_estimate_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 fed from A10: Prometheus series estimate whose shape dimension
    is the data-derived union, not a synthesized dim
    (metric_types.go:140-190 over metrics.go:327-376 output)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return series_estimate_observed(events)


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (the Structured-Streaming shape
    on the batch path; window -> groupBy window+type)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count_distinct("user_id").alias("n_users"),
    ).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
        "n_users",
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction + aggregate (get_json_object, JVM-side)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.count_distinct(k).alias("n_distinct_k"),
    )


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the merge_asof operator Spark lacks): events enriched
    with the latest <= ts version of a per-type config history, then
    rolled up per (event_type, version). The config dim is synthesized
    deterministically (8 versions per type at 6-hour boundaries from
    min(ts)); the DuckDB oracle uses its native ASOF JOIN against the
    identically-generated dim."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t0 = ev.agg(F.min("ts").alias("t0"))
    cfg = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(t0))
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("version"),
            "t0",
        )
        .select(
            "event_type",
            "version",
            F.expr("timestampadd(HOUR, 6 * version, t0)").alias("eff_ts"),
            F.round(F.col("version") * 0.5 + 1.0, 1).alias("threshold"),
        )
    )
    enriched = asof_join(
        ev, cfg, key_cols=["event_type"], fact_id="event_id"
    )
    return enriched.groupBy("event_type", "version", "threshold").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bucket equi-join: events inside synthesized
    maintenance windows (90 min every 8 h from min(ts)), rolled up per
    window. The oracle is the plain BETWEEN inequality join."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t0 = ev.agg(F.min("ts").alias("t0"))
    windows = (
        spark.range(12)
        .select(F.col("id").cast("int").alias("window_id"))
        .crossJoin(F.broadcast(t0))
        .select(
            "window_id",
            F.expr("timestampadd(HOUR, 8 * window_id, t0)").alias("start_ts"),
            F.expr(
                "timestampadd(MINUTE, 90, timestampadd(HOUR, 8 * window_id, t0))"
            ).alias("end_ts"),
        )
    )
    j = interval_join(ev, windows)
    return j.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: 1h and 6h resolutions BOTH
    derived by merging one 15-min partial table (single raw scan). The
    oracle aggregates each resolution directly from the raw events —
    partial-merge must equal direct aggregation exactly."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rollup_hierarchy(
        ev,
        ["event_type"],
        {"1h": 3600, "6h": 21600},
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events (first-seen day x day offset)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, max_offset=14)


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel signup -> view -> purchase."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sequence_funnel(ev, ("signup", "view", "purchase"))


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization of per-user event streams (1-hour gap) —
    the batch twin of the streaming conv_sessions operator."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(
        ev, gap_seconds=3600, id_col="user_id",
        order_cols=("ts", "event_id"), ts_col="ts",
    )
    return out.select(
        "user_id",
        "session_idx",
        "n_events",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "start_ts"
        ),
        F.date_format("end_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "end_ts"
        ),
        "duration_s",
    )


def q_volume_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type hourly volume with trailing-6-window z-scores and
    spike flags (z >= 3) — the time-domain alarm over the events stream."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = volume_spikes(ev, "event_type", trailing=6, z_threshold=3.0)
    return out.withColumn(
        "window_start",
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss"),
    )


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does user_id -> event_type hold on
    events (it should NOT — the violation accounting is the point)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return fd_audit(ev, ["user_id"], "event_type")


def q_winsorize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization impact audit on events.value per event_type:
    exact p01/p99 bounds + clipped-row/clipped-mass accounting."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return winsorize_audit(ev)


def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sustained-shift monitor on hourly event volume per type,
    via the prefix-scan identity (running sum minus clamped running
    min) — bit-deterministic cross-engine by construction."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cusum_drift(ev)


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier audit on events.value per event_type
    (modified z-score, Iglewicz-Hoaglin 3.5 bar)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return robust_outliers(ev)


def q_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause attribution of each event type's max-z volume window:
    top-5 user_id contributions by excess over the trailing rate."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return spike_attribution(ev)


def q_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of HOURLY VOLUME between event-type pairs —
    the co-movement matrix behind alert grouping (types that always
    spike together belong to one incident). Exact: the sums feeding r
    are integer (hourly counts over the completed hour domain, absent
    hours = 0 via domain completion), so r is bit-deterministic."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gb = (
        ev.select(
            F.col("event_type").alias("t"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .groupBy("t", "h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dom = gb.select("h").distinct()
    types = gb.select("t").distinct()
    full = (
        types.crossJoin(dom)
        .join(gb, ["t", "h"], "left")
        .select("t", "h", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    a = full.alias("a")
    b = full.alias("b")
    j = a.join(
        b,
        (F.col("a.h") == F.col("b.h")) & (F.col("a.t") < F.col("b.t")),
    ).select(
        F.col("a.t").alias("t1"),
        F.col("b.t").alias("t2"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    agg = j.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        "t1",
        "t2",
        F.col("n").alias("n_hours"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("pearson_r"),
    )


def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day load profile per event type: share of the type's
    volume landing in each UTC hour — the capacity-planning heatmap."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gb = (
        ev.select(
            F.col("event_type"),
            F.hour(F.col("ts")).alias("hod"),
        )
        .groupBy("event_type", "hod")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    tot = gb.groupBy("event_type").agg(F.sum("n_events").alias("tot"))
    return gb.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hod",
        "n_events",
        F.round(F.col("n_events") / F.col("tot"), 6).alias("share"),
    )


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-proportional (Neyman) allocation of a 1000-row sample
    budget across event types."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return neyman_allocation(ev, budget=1000)


def q_hopping_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-6h active users per 1h hop (exact distinct)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hopping_distinct_users(ev, size_seconds=21600, slide_seconds=3600)


def q_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed volume per event type (tau = 7 days,
    anchored at the corpus max ts — a data-derived broadcast scalar,
    never an empty-partition window): the 'recent activity' ranking a
    dashboard shows instead of raw all-time counts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tau = 7.0 * 86400.0
    anchor = ev.agg(F.max(F.unix_timestamp("ts")).alias("tmax"))
    wdf = ev.select("event_type", F.unix_timestamp("ts").alias("t")).crossJoin(
        F.broadcast(anchor)
    )
    wgt = F.exp(-(F.col("tmax") - F.col("t")).cast("double") / F.lit(tau))
    agg = wdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(wgt).alias("decayed_raw"),
    )
    tot = agg.agg(F.sum("decayed_raw").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_events",
        F.round(F.col("decayed_raw"), 4).alias("decayed_volume"),
        F.round(F.col("decayed_raw") / F.col("tot"), 6).alias(
            "decayed_share"
        ),
    )


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor of hourly volume per event type."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return burstiness(ev)


def q_daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(type, day) exact p50/p95 of event value — the metric-trend
    panel behind SLO review (is the tail drifting day over day?); same
    bit-exact percentile pair as winsorize/robust."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    d = ev.where(F.col("value").isNotNull()).select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("value").alias("v"),
    )
    return d.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.percentile(F.col("v"), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(F.col("v"), F.lit(0.95)), 6).alias("p95"),
    )


def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows (1 h size, 15 min slide): per-window
    per-type counts and value sums — the trailing-hour SLO panel shape,
    streaming-compatible by construction."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hopping_window_stats(
        ev, size_seconds=3600, slide_seconds=900
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent users (count > n/150) over the events stream via the
    two-pass MG-candidates + verify-scan operator — bounded memory at any
    user cardinality, exact output."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return heavy_hitters(events, "user_id", k=150)


def _metric_pts_sql() -> str:
    """Shared CTEs rebuilding metric_shapes.synthetic_metric_points (same
    deterministic length/modulo derivation — no engine-specific hash) and
    the per-metric shape union, over the pre-registered events view."""
    v0 = ",".join(str(b) for b in BOUNDS_V0)
    v1 = ",".join(str(b) for b in BOUNDS_V1)
    return f"""
WITH pts AS (
  SELECT event_type AS metric,
    CASE length(event_type) % 3 WHEN 0 THEN 'gauge'
         WHEN 1 THEN 'histogram' ELSE 'exp_histogram' END AS metric_type,
    CASE WHEN length(event_type) % 3 = 1 THEN
      CASE WHEN user_id % 2 = 0 THEN [{v0}] ELSE [{v1}] END
    ELSE CAST([] AS DOUBLE[]) END AS explicit_bounds,
    CASE WHEN length(event_type) % 3 = 2
         THEN CAST(event_id % 6 - 2 AS INTEGER) END AS scale,
    user_id
  FROM events
), agg AS (
  SELECT metric, any_value(metric_type) AS metric_type,
    count(*) AS n_points,
    coalesce(list_sort(list_distinct(flatten(list(explicit_bounds)))),
             CAST([] AS DOUBLE[])) AS bounds,
    -- FILTER with zero qualifying rows yields NULL, not [] — coalesce so
    -- gauge/histogram metrics render '' like Spark's collect_set does
    coalesce(list_sort(list(DISTINCT scale) FILTER (WHERE scale IS NOT NULL)),
             CAST([] AS INTEGER[])) AS scales
  FROM pts GROUP BY metric
)
"""


# The batch oracle the streaming family reuses.
def cusum_drift_sql(pre: str) -> str:
    return """
WITH gb AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
), st AS (
  SELECT grp, count(*) AS nb,
         CAST(sum(n_events) AS BIGINT) AS s1,
         CAST(sum(n_events * n_events) AS BIGINT) AS s2
  FROM gb GROUP BY 1
), st2 AS (
  SELECT grp,
         CAST(s1 AS DOUBLE) / CAST(nb AS DOUBLE) AS mu,
         sqrt(greatest(
           (CAST(nb AS DOUBLE) * CAST(s2 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
           / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)), 0.0)) AS sigma
  FROM st
), p AS (
  SELECT gb.grp, gb.bucket, gb.n_events, st2.sigma,
         sum(CAST(gb.n_events AS DOUBLE) - st2.mu - 0.5 * st2.sigma)
           OVER (PARTITION BY gb.grp ORDER BY gb.bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
  FROM gb JOIN st2 USING (grp)
), m AS (
  SELECT grp, bucket, n_events, sigma, pp,
         min(pp) OVER (PARTITION BY grp ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS runmin
  FROM p
)
SELECT grp AS event_type, bucket, n_events,
       round(pp - least(0.0, runmin), 6) AS cusum,
       (pp - least(0.0, runmin)) > 4.0 * sigma AS alarm
FROM m
"""


RECORDS = {
    "metric_shapes": (q_metric_shapes, lambda pre: _metric_pts_sql() + """
SELECT metric, metric_type, n_points,
  len(bounds) AS n_bounds,
  -- array_to_string([]) is NULL in DuckDB; Spark array_join([]) is ''
  coalesce(array_to_string(bounds, ','), '') AS bounds_csv,
  coalesce(array_to_string(scales, ','), '') AS scales_csv,
  CAST(CASE WHEN metric_type = 'histogram' THEN len(bounds) + 3
            WHEN metric_type = 'exp_histogram' THEN
              (CASE WHEN len(scales) = 0 OR list_max(scales) <= 0 THEN 1
                    ELSE least(CAST(pow(2, list_max(scales) + 1) AS BIGINT),
                               160) END) + 2
            ELSE 1 END AS BIGINT) AS prom_multiplier
FROM agg
"""),
    "series_estimate_observed": (q_series_estimate_observed, lambda pre: _metric_pts_sql() + """
, shapes AS (
  SELECT metric, metric_type, len(bounds) AS n_bounds,
    CAST(CASE WHEN metric_type = 'histogram' THEN len(bounds) + 3
              WHEN metric_type = 'exp_histogram' THEN
                (CASE WHEN len(scales) = 0 OR list_max(scales) <= 0 THEN 1
                      ELSE least(CAST(pow(2, list_max(scales) + 1) AS BIGINT),
                                 160) END) + 2
              ELSE 1 END AS BIGINT) AS prom_multiplier
  FROM agg
), act AS (
  SELECT metric, count(DISTINCT user_id) AS active_series,
         count(*) AS sample_count
  FROM pts GROUP BY metric
)
SELECT a.metric, s.metric_type, a.active_series, a.sample_count,
  s.n_bounds, s.prom_multiplier,
  CAST(a.active_series * s.prom_multiplier AS BIGINT) AS prometheus_series
FROM act a JOIN shapes s USING (metric)
"""),
    "events_windowed": (q_events_windowed, lambda pre: """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""),
    "events_json_props": (q_events_json_props, lambda pre: """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
FROM events GROUP BY event_type
"""),
    "asof_enrich": (q_asof_enrich, lambda pre: """
WITH b AS (SELECT min(ts) AS t0 FROM events),
types AS (SELECT DISTINCT event_type FROM events),
cfg AS (
  SELECT event_type, i AS version,
         t0 + to_hours(6 * i) AS eff_ts,
         round(i * 0.5 + 1.0, 1) AS threshold
  FROM types, b, range(8) r(i)
)
SELECT e.event_type, c.version, c.threshold,
       count(*) AS n_events, round(sum(e.value), 2) AS total_value
FROM events e
ASOF JOIN cfg c ON e.event_type = c.event_type AND e.ts >= c.eff_ts
GROUP BY 1, 2, 3
"""),
    "interval_join": (q_interval_join, lambda pre: """
WITH b AS (SELECT min(ts) AS t0 FROM events),
w AS (
  SELECT CAST(i AS INT) AS window_id,
         t0 + to_hours(8 * i) AS start_ts,
         t0 + to_hours(8 * i) + to_minutes(90) AS end_ts
  FROM b, range(12) r(i)
)
SELECT w.window_id, count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN w ON e.ts >= w.start_ts AND e.ts < w.end_ts
GROUP BY 1
"""),
    "rollup_hierarchy": (q_rollup_hierarchy, lambda pre: """
WITH r1 AS (
  SELECT '1h' AS resolution,
         strftime(TIMESTAMP '1970-01-01'
                  + to_seconds(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events,
         round(sum(value), 2) AS sum_value,
         round(min(value), 2) AS min_value,
         round(max(value), 2) AS max_value
  FROM events GROUP BY 2, 3
), r6 AS (
  SELECT '6h' AS resolution,
         strftime(TIMESTAMP '1970-01-01'
                  + to_seconds(CAST(floor(epoch(ts) / 21600) AS BIGINT) * 21600),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n_events,
         round(sum(value), 2) AS sum_value,
         round(min(value), 2) AS min_value,
         round(max(value), 2) AS max_value
  FROM events GROUP BY 2, 3
)
SELECT * FROM r1 UNION ALL SELECT * FROM r6
"""),
    "cohort_retention": (q_cohort_retention, lambda pre: """
WITH fs AS (
  SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY 1
), cs AS (
  SELECT cohort_day, count(*) AS cohort_size FROM fs GROUP BY 1
), cells AS (
  SELECT f.cohort_day,
         datediff('day', f.cohort_day, e.ts::DATE) AS day_offset,
         count(DISTINCT e.user_id) AS n_active
  FROM events e JOIN fs f USING (user_id)
  WHERE datediff('day', f.cohort_day, e.ts::DATE) <= 14
  GROUP BY 1, 2
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
       n_active, cohort_size,
       round(n_active / cohort_size, 4) AS retention
FROM cells c JOIN cs USING (cohort_day)
"""),
    "event_funnel": (q_event_funnel, lambda pre: """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
), stages AS (
  SELECT 1 AS step_idx, 'signup' AS step, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'view', count(*) FROM s2
  UNION ALL SELECT 3, 'purchase', count(*) FROM s3
), n1 AS (SELECT count(*) AS n FROM s1)
SELECT step_idx, step, n_users, round(n_users / n, 4) AS conversion
FROM stages, n1
"""),
    "user_sessions": (q_user_sessions, lambda pre: """
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM marked
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS end_ts,
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6)
         AS duration_s
FROM numbered GROUP BY user_id, session_idx
"""),
    "volume_spikes": (q_volume_spikes, lambda pre: """
WITH c AS (
  SELECT event_type AS "group", date_trunc('hour', ts) AS ws,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
),
b AS (
  SELECT "group", ws, cnt,
         count(*) OVER w AS baseline_n,
         avg(cnt) OVER w AS mean,
         stddev_samp(cnt) OVER w AS std
  FROM c
  WINDOW w AS (PARTITION BY "group" ORDER BY ws
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT "group", strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(cnt AS BIGINT) AS count, CAST(baseline_n AS BIGINT) AS baseline_n,
       CASE WHEN baseline_n = 6 THEN round(mean, 6) END AS baseline_mean,
       CASE WHEN baseline_n = 6 THEN round(std, 6) END AS baseline_std,
       CASE WHEN baseline_n = 6 AND std > 0
            THEN round((cnt - mean) / std, 6) END AS z,
       CASE WHEN baseline_n = 6 AND std > 0
            THEN CASE WHEN (cnt - mean) / std >= 3.0 THEN 1 ELSE 0 END
       END AS is_spike
FROM b
"""),
    "fd_audit": (q_fd_audit, lambda pre: """
WITH k AS (
  SELECT user_id, count(*) AS rows_, count(DISTINCT event_type) AS nrhs
  FROM events GROUP BY 1
)
SELECT count(*) AS n_lhs,
       CAST(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       round(sum(CASE WHEN nrhs > 1 THEN 1 ELSE 0 END) * 1.0 / count(*),
             6) AS violation_share,
       CAST(sum(CASE WHEN nrhs > 1 THEN rows_ ELSE 0 END) AS BIGINT)
         AS violating_rows,
       CAST(max(nrhs) AS BIGINT) AS max_rhs_per_lhs
FROM k
"""),
    "winsorize_audit": (q_winsorize_audit, lambda pre: """
WITH v AS (
  SELECT event_type AS grp, value AS v FROM events WHERE value IS NOT NULL
), b AS (
  SELECT grp,
         quantile_cont(v, 0.01) AS lo_b,
         quantile_cont(v, 0.99) AS hi_b
  FROM v GROUP BY 1
), j AS (
  SELECT v.grp, v.v, b.lo_b, b.hi_b FROM v JOIN b USING (grp)
)
SELECT grp AS event_type,
       count(*) AS n_rows,
       round(max(lo_b), 6) AS lo_bound,
       round(max(hi_b), 6) AS hi_bound,
       CAST(sum(CASE WHEN v < lo_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(sum(CASE WHEN v > hi_b THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       round((sum(CASE WHEN v < lo_b THEN 1 ELSE 0 END)
              + sum(CASE WHEN v > hi_b THEN 1 ELSE 0 END)) * 1.0
             / count(*), 6) AS clipped_share,
       round(sum(CASE WHEN v < lo_b THEN lo_b - v
                      WHEN v > hi_b THEN v - hi_b
                      ELSE 0.0 END), 4) AS excess_mass
FROM j GROUP BY 1
"""),
    "cusum_drift": (q_cusum_drift, cusum_drift_sql),
    "robust_outliers": (q_robust_outliers, lambda pre: """
WITH v AS (
  SELECT event_type AS grp, value AS v FROM events WHERE value IS NOT NULL
), m AS (
  SELECT grp, quantile_cont(v, 0.5) AS med FROM v GROUP BY 1
), d AS (
  SELECT v.grp, v.v, m.med, abs(v.v - m.med) AS ad
  FROM v JOIN m USING (grp)
), md AS (
  SELECT grp, quantile_cont(ad, 0.5) AS mad FROM d GROUP BY 1
), j AS (
  SELECT d.grp, d.v, d.med, d.ad, md.mad,
         CASE WHEN md.mad > 0.0
              THEN d.ad / (1.4826 * md.mad) END AS z
  FROM d JOIN md USING (grp)
)
SELECT grp AS event_type,
       count(*) AS n_rows,
       round(max(med), 6) AS median,
       round(max(mad), 6) AS mad,
       CAST(sum(CASE WHEN z > 3.5 THEN 1
                     WHEN z IS NULL THEN NULL ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(sum(CASE WHEN z > 3.5 THEN 1
                      WHEN z IS NULL THEN NULL ELSE 0 END) * 1.0
             / count(*), 6) AS outlier_share,
       round(max(z), 4) AS max_robust_z
FROM j GROUP BY 1
"""),
    "spike_attribution": (q_spike_attribution, lambda pre: """
WITH c AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS ws, count(*) AS cnt
  FROM events GROUP BY 1, 2
), b AS (
  SELECT grp, ws, cnt,
         count(*) OVER w AS bn,
         avg(cnt) OVER w AS mean,
         stddev_samp(cnt) OVER w AS std
  FROM c
  WINDOW w AS (PARTITION BY grp ORDER BY ws
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
), zz AS (
  SELECT grp, ws, cnt, round((cnt - mean) / std, 6) AS z
  FROM b WHERE bn = 6 AND std > 0
), spike AS (
  SELECT grp, ws FROM (
    SELECT grp, ws,
           row_number() OVER (PARTITION BY grp ORDER BY z DESC, ws ASC)
             AS r
    FROM zz
  ) WHERE r = 1
), ev AS (
  SELECT event_type AS grp, user_id AS dim, date_trunc('hour', ts) AS bkt
  FROM events
), j AS (
  SELECT ev.grp, ev.dim, ev.bkt, spike.ws
  FROM ev JOIN spike USING (grp)
  WHERE ev.bkt >= spike.ws - INTERVAL 6 HOUR AND ev.bkt <= spike.ws
), inw AS (
  SELECT grp, ws, dim, count(*) AS n_window
  FROM j WHERE bkt = ws GROUP BY 1, 2, 3
), base AS (
  SELECT grp, dim, count(*) / 6.0 AS rate
  FROM j WHERE bkt < ws GROUP BY 1, 2
), att AS (
  SELECT i.grp, i.ws, i.dim, i.n_window,
         coalesce(base.rate, 0.0) AS rate,
         i.n_window - coalesce(base.rate, 0.0) AS excess
  FROM inw i LEFT JOIN base ON i.grp = base.grp AND i.dim = base.dim
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY grp
                               ORDER BY excess DESC, dim ASC) AS rank
  FROM att
)
SELECT grp AS "group", ws AS window_start, dim AS dim_value, n_window,
       round(rate, 4) AS baseline_rate, round(excess, 4) AS excess,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
"""),
    "type_correlation": (q_type_correlation, lambda pre: """
WITH gb AS (
  SELECT event_type AS t, date_trunc('hour', ts) AS h, count(*) AS c
  FROM events GROUP BY 1, 2
), dom AS (SELECT DISTINCT h FROM gb),
ty AS (SELECT DISTINCT t FROM gb),
fl AS (
  SELECT ty.t, dom.h, coalesce(gb.c, 0) AS c
  FROM ty CROSS JOIN dom
  LEFT JOIN gb ON gb.t = ty.t AND gb.h = dom.h
), j AS (
  SELECT a.t AS t1, b.t AS t2, a.c AS x, b.c AS y
  FROM fl a JOIN fl b ON a.h = b.h AND a.t < b.t
), agg AS (
  SELECT t1, t2, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM j GROUP BY 1, 2
)
SELECT t1, t2, n AS n_hours,
  round(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
              AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
        THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        END, 6) AS pearson_r
FROM agg
"""),
    "seasonality_profile": (q_seasonality_profile, lambda pre: """
WITH gb AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod, count(*) AS n_events
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot
  FROM gb GROUP BY 1
)
SELECT gb.event_type, gb.hod, gb.n_events,
       round(gb.n_events * 1.0 / tot.tot, 6) AS share
FROM gb JOIN tot USING (event_type)
"""),
    "neyman_allocation": (q_neyman_allocation, lambda pre: """
WITH v AS (
  SELECT event_type AS grp, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), a AS (
  SELECT grp, count(*) AS n_rows, sum(v) AS s1, sum(v * v) AS s2
  FROM v GROUP BY 1
), w AS (
  SELECT grp, n_rows,
         sqrt(greatest((CAST(n_rows AS DOUBLE) * s2 - s1 * s1)
                       / (CAST(n_rows AS DOUBLE)
                          * CAST(n_rows AS DOUBLE)), 0.0)) AS sd,
         CAST(n_rows AS DOUBLE)
           * sqrt(greatest((CAST(n_rows AS DOUBLE) * s2 - s1 * s1)
                           / (CAST(n_rows AS DOUBLE)
                              * CAST(n_rows AS DOUBLE)), 0.0)) AS ns
  FROM a
), tt AS (SELECT sum(ns) AS tot FROM w)
SELECT grp AS event_type, n_rows,
       round(sd, 6) AS stddev,
       round(ns / tot, 6) AS weight,
       CAST(least(CAST(round(1000.0 * ns / tot, 0) AS BIGINT), n_rows)
            AS BIGINT) AS n_alloc,
       round(least(CAST(round(1000.0 * ns / tot, 0) AS BIGINT), n_rows)
             * 1.0 / n_rows, 6) AS sampling_rate
FROM w CROSS JOIN tt
"""),
    "hopping_distinct_users": (q_hopping_distinct_users, lambda pre: """
WITH ex AS (
  SELECT user_id,
         CAST(to_timestamp(
           (CAST(floor(epoch(ts) / 3600) AS BIGINT) - s.i) * 3600
         ) AS TIMESTAMP) AS window_start
  FROM events, (SELECT unnest(range(6)) AS i) s
  WHERE epoch(ts) >= (CAST(floor(epoch(ts) / 3600) AS BIGINT) - s.i)
                     * 3600
    AND epoch(ts) < (CAST(floor(epoch(ts) / 3600) AS BIGINT) - s.i)
                    * 3600 + 21600
)
SELECT window_start, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM ex GROUP BY 1
"""),
    "decayed_counts": (q_decayed_counts, lambda pre: """
WITH a AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS tmax
           FROM events),
w AS (
  SELECT event_type,
         exp(-CAST(tmax - CAST(floor(epoch(ts)) AS BIGINT) AS DOUBLE)
             / 604800.0) AS wgt
  FROM events CROSS JOIN a
), g AS (
  SELECT event_type, count(*) AS n_events, sum(wgt) AS decayed_raw
  FROM w GROUP BY 1
), tt AS (SELECT sum(decayed_raw) AS tot FROM g)
SELECT event_type, n_events,
       round(decayed_raw, 4) AS decayed_volume,
       round(decayed_raw / tot, 6) AS decayed_share
FROM g CROSS JOIN tt
"""),
    "burstiness": (q_burstiness, lambda pre: """
WITH gb AS (
  SELECT event_type AS grp, date_trunc('hour', ts) AS bucket,
         count(*) AS c
  FROM events GROUP BY 1, 2
), a AS (
  SELECT grp, count(*) AS n_windows,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM gb GROUP BY 1
)
SELECT grp AS event_type, n_windows,
  round(CAST(s1 AS DOUBLE) / CAST(n_windows AS DOUBLE), 4) AS mean_rate,
  round(CASE WHEN CAST(s1 AS DOUBLE) / CAST(n_windows AS DOUBLE) > 0
        THEN ((CAST(n_windows AS DOUBLE) * CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
              / (CAST(n_windows AS DOUBLE) * CAST(n_windows AS DOUBLE)))
             / (CAST(s1 AS DOUBLE) / CAST(n_windows AS DOUBLE))
        END, 6) AS fano_factor
FROM a
"""),
    "daily_value_percentiles": (q_daily_value_percentiles, lambda pre: """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
"""),
    "hopping_windows": (q_hopping_windows, lambda pre: """
WITH p AS (SELECT event_type, value, epoch_us(ts) AS eu FROM events),
x AS (
  SELECT p.event_type, p.value,
         (eu // 900000000 - g.j) * 900000000 AS ws
  FROM p CROSS JOIN generate_series(0, 3) AS g(j)
  WHERE eu < (eu // 900000000 - g.j) * 900000000 + 3600000000
)
SELECT strftime(make_timestamp(ws), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM x GROUP BY 1, 2
"""),
    "heavy_hitters": (q_heavy_hitters, lambda pre: """
WITH n AS (SELECT count(user_id) AS n FROM events),
c AS (
  SELECT user_id, count(*) AS cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT user_id AS value, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / n.n, 6) AS share
FROM c, n WHERE cnt * 150 > n.n
"""),
}
