"""Queries over the routed frame, the output of parse -> enrich -> route
(``plans.pipeline.routed_turns``): the aggregates and endpoint-shaped
reads of the cardinality pipeline, plus ``entry``'s exact key_stats.

Their oracles start from ``pre`` (``common._oracle_prefix``), which
re-derives parse, enrich and route in DuckDB and reads the datagen
truth tables for templates and attributes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.datagen import ensure_dataset
from otlp_cardinality_checker_spark.operators.aggregate import (
    SAMPLE_CAP,
    active_series,
    attribute_catalog,
    exploded_attrs,
    global_top_k,
    high_cardinality_keys,
    key_skew,
    key_stats,
    list_attributes,
    metadata_complexity,
    prometheus_series_estimate,
    service_stats,
    template_stats,
    watched_values,
)
from otlp_cardinality_checker_spark.operators.card import transcript_card
from otlp_cardinality_checker_spark.operators.checksum import (
    NULL_SENTINEL,
    dataset_fingerprint,
)
from otlp_cardinality_checker_spark.operators.cms import (
    cms_build,
    cms_estimate,
)
from otlp_cardinality_checker_spark.operators.conversation import (
    conv_outcomes,
    tool_error_attribution,
)
from otlp_cardinality_checker_spark.operators.overview import (
    attribute_services,
    logs_by_service,
    pattern_detail,
    service_attributes,
    service_overview,
)
from otlp_cardinality_checker_spark.operators.pii import (
    PII_PATTERNS,
    pii_stats,
)
from otlp_cardinality_checker_spark.operators.sessions import (
    diff_from_predicate,
    filter_diff,
    service_diff_from_predicate,
)
from otlp_cardinality_checker_spark.operators.templates import (
    drain_infer,
    drain_templates,
)
from otlp_cardinality_checker_spark.operators.watch import WatchedKeys

from .common import _metric_dim_path, _routed, _tool_dim_path


def _key_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_stats(_routed(spark, sf_dir), exact=True).withColumn(
        "has_invalid_utf8", F.col("has_invalid_utf8").cast("int")
    )


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _routed(spark, sf_dir)
        .groupBy("sink")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _sink_turns(sink: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            _routed(spark, sf_dir)
            .where(F.col("sink") == sink)
            .select("conv_id", "turn_idx", "text")
        )

    return q


def q_service_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return service_stats(_routed(spark, sf_dir))


def q_key_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _key_stats_exact(spark, sf_dir)


def q_template_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return template_stats(_routed(spark, sf_dir))


def q_attribute_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribute_catalog(_routed(spark, sf_dir), exact=True).withColumn(
        "has_invalid_utf8", F.col("has_invalid_utf8").cast("int")
    )


def q_watched_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = WatchedKeys()
    reg.watch("user_id")
    reg.watch("tool_name")
    return watched_values(
        _routed(spark, sf_dir), watched_keys=reg.active()
    ).withColumn("overflow", F.col("overflow").cast("int"))


def q_active_series_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return active_series(_routed(spark, sf_dir), exact=True)


def q_high_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return high_cardinality_keys(
        _key_stats_exact(spark, sf_dir), threshold=50
    ).select("sink", "key", "count", "est_cardinality")


def q_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return metadata_complexity(_key_stats_exact(spark, sf_dir))


def q_session_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-session (turn_idx < 13) vs now, fused into ONE parse pass
    (sessions.diff_from_predicate); row-identical to the two-pass
    diff_key_stats(key_stats(subset), key_stats(full)) form, which
    tests/test_sessions.py asserts and the arbitrary-two-session API
    still uses."""
    routed = _routed(spark, sf_dir)
    return diff_from_predicate(routed, F.col("turn_idx") < 13)


def q_session_diff_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff output filters: signal + min-severity (sessions.go:571-603)."""
    return filter_diff(
        q_session_diff(spark, sf_dir),
        signal_type="chat",
        min_severity="warning",
    )


def q_service_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-grain session diff (per-service entries, sessions.go:608-685)."""
    routed = _routed(spark, sf_dir)
    return service_diff_from_predicate(routed, F.col("turn_idx") < 13)


def q_series_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: Prometheus-equivalent series per sink (metric_types.go:140-190)."""
    data_dir = ensure_dataset(sf_dir)
    mdim = spark.read.parquet(str(data_dir / "metric_dim.parquet"))
    return prometheus_series_estimate(
        active_series(_routed(spark, sf_dir), exact=True), mdim
    )


def q_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive merge of two half-sessions must equal the full aggregate."""
    routed = _routed(spark, sf_dir)

    def snap(df: DataFrame) -> DataFrame:
        return exploded_attrs(df).groupBy("sink", "key").agg(
            F.count(F.lit(1)).alias("count"),
            F.slice(F.sort_array(F.collect_set("value")), 1, SAMPLE_CAP).alias(
                "samples"
            ),
        )

    a = snap(routed.where(F.col("turn_idx") < 13))
    b = snap(routed.where(F.col("turn_idx") >= 13))
    return (
        a.unionByName(b)
        .groupBy("sink", "key")
        .agg(
            F.sum("count").alias("count"),
            F.array_join(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("samples")))
                    ),
                    1,
                    SAMPLE_CAP,
                ),
                "|",
            ).alias("value_samples"),
        )
    )


def q_enriched_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrich check: per tool-family privileged counts."""
    return (
        _routed(spark, sf_dir)
        .where(F.col("tool").isNotNull())
        .groupBy("tool_family")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("is_privileged").cast("int")).alias("n_privileged"),
            F.count_distinct("tool").alias("n_tools"),
        )
    )


def q_tool_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-entity detail lookup (the reference's getMetric/getSpan
    drill-downs, server.go:183-196): per tool — call volume, conversation
    reach, carrying services, enrichment attributes, first/last seen. The
    endpoint for one tool is a WHERE over this per-entity rollup."""
    routed = _routed(spark, sf_dir)
    return (
        routed.where(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.any_value("tool_family").alias("tool_family"),
            F.max(F.col("is_privileged").cast("int")).alias("is_privileged"),
            F.count(F.lit(1)).alias("n_calls"),
            F.count_distinct("conv_id").alias("n_conversations"),
            F.array_join(F.sort_array(F.collect_set("service")), "|").alias(
                "services"
            ),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "first_seen"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "last_seen"
            ),
        )
    )


def q_template_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = template_stats(_routed(spark, sf_dir))
    return (
        t.groupBy("template")
        .agg(F.sum("count").alias("count"))
        .orderBy(F.desc("count"), F.asc("template"))
        .limit(20)
    )


def q_paginated_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """limit/offset pagination via row_number (reference server.go:90-123).

    Two-stage global top-k (aggregate.global_top_k) instead of a bare
    Window.orderBy: the ranked grain is sink x key, which grows with the
    corpus; the final rank now sees <= 16*25 salted survivors, not the
    full frame. Ranks (and rows) are identical — (sink, key) is a total
    order."""
    ks = _key_stats_exact(spark, sf_dir).select("sink", "key", "count")
    return global_top_k(
        ks, (F.asc("sink"), F.asc("key")), k=25, salt_col="key",
        rank_name="rn",
    ).where(F.col("rn") > 5)


def q_pattern_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: template -> services correlation (GetLogPatterns
    store.go:486-572 / pattern detail server.go:877-954)."""
    routed = _routed(spark, sf_dir)
    return routed.groupBy("template").agg(
        F.count(F.lit(1)).alias("count"),
        F.array_join(F.sort_array(F.collect_set("service")), "|").alias(
            "services"
        ),
        F.count_distinct("service").alias("n_services"),
    )


def q_service_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service overview rollup (`/services/{name}/overview`,
    server.go:972-984 / store.go:588-618): per-sink turn volume + distinct
    tool/template/key counts, one row per service."""
    return service_overview(_routed(spark, sf_dir))


def q_attribute_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key -> services correlation (`/attributes/{key}/services`,
    server.go:1250-1340) for a watched key set."""
    return attribute_services(
        _routed(spark, sf_dir), keys=["user_id", "trace_id", "tool_name"]
    )


def q_pattern_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pattern drill-down (`/logs/patterns/{severity}/{template}`,
    server.go:877-954): per (template, severity) count, the severity-wide
    denominator, example body, and carrying services."""
    return pattern_detail(_routed(spark, sf_dir))


def q_logs_by_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-based log navigation with pagination (`/logs/by-service`,
    server.go:757-803): rows 2..9 of the service-asc/severity-asc list."""
    return logs_by_service(_routed(spark, sf_dir), limit=8, offset=1)


def q_service_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service attribute-key sets (`/services/{name}/attributes`,
    server.go:987-1060)."""
    return service_attributes(_routed(spark, sf_dir))


def q_log_patterns_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetLogPatterns' full list contract (`/logs/patterns`,
    server.go:805-873 / store.go:486-572): severity-filtered pattern list,
    count-desc order with deterministic tiebreak, offset/limit page."""
    routed = _routed(spark, sf_dir)
    agg = (
        routed.where(F.col("severity").isin("ERROR", "WARN", "INFO"))
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct("service").alias("n_services"),
        )
    )
    # two-stage global rank (template grain grows with the corpus); rows
    # and ranks identical — (count desc, template) is a total order
    return global_top_k(
        agg, (F.desc("count"), F.asc("template")), k=14,
        salt_col="template", rank_name="rn",
    ).where(F.col("rn") > 2)


def q_attribute_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: reverse lookup — which sinks carry attribute key K
    (getAttributeTelemetry server.go:1344-1456)."""
    return (
        exploded_attrs(_routed(spark, sf_dir))
        .where(F.col("key").isin("user_id", "trace_id"))
        .groupBy("key", "sink")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.count_distinct("value").alias("n_values"),
        )
    )


def q_attribute_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: catalog filter by cardinality band + sort + offset/limit page
    (AttributeFilter store.go:996-1090)."""
    cat = attribute_catalog(_routed(spark, sf_dir), exact=True)
    return list_attributes(
        cat,
        min_cardinality=5,
        max_cardinality=1000,
        sort_by="cardinality",
        sort_order="desc",
        offset=2,
        limit=10,
    ).select("key", "count", "est_cardinality", "rn")


def q_attribute_filter_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 sort-axis coverage: signal-type filter + case-insensitive key
    sort ascending + limit (the reference's other ListAttributes orders)."""
    cat = attribute_catalog(_routed(spark, sf_dir), exact=True)
    return list_attributes(
        cat,
        signal_type="tool_call",
        sort_by="key",
        sort_order="asc",
        limit=5,
    ).select("key", "count", "est_cardinality", "signal_types", "rn")


def q_watched_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: watched-value listing with prefix filter + count-desc sort + page
    (server.go:1552-1613)."""
    wv = watched_values(_routed(spark, sf_dir)).drop("overflow")
    return (
        wv.where((F.col("key") == "user_id") & F.col("value").startswith("1"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(20)
    )


def q_drain_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain fidelity mode (rows-only: arrival-order-dependent by nature;
    determinism via per-group sort is covered in tests/test_drain.py)."""
    return drain_templates(_routed(spark, sf_dir))


def q_drain_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain INFERENCE mode (miner.go:125-134): train on the corpus, then
    match the same corpus read-only against the distributed (cogrouped)
    model — per (role, severity): turns, matched count, match rate.
    Rows-only like drain_templates (the trained model is arrival-order-
    dependent), but the aggregate match rate is deterministic given the
    per-group sort."""
    routed = _routed(spark, sf_dir)
    model = drain_templates(routed)
    inferred = drain_infer(routed, model)
    return inferred.groupBy("role", "severity").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("matched").cast("long")).alias("n_matched"),
        F.round(
            F.sum(F.col("matched").cast("long")) / F.count(F.lit(1)), 4
        ).alias("match_rate"),
    )


def q_key_stats_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage HLL key stats (estimates: rows-only check; the
    <=10% band vs exact is asserted in tests/test_pipeline.py)."""
    return key_stats(_routed(spark, sf_dir), exact=False)


def q_transcript_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-health card: the transcripts-side dataset_card twin —
    volume/depth/gap/role/sink/severity/tool/loop sections in one stable
    (section, metric, value) frame, every number equal to the dedicated
    operator's output and the whole card one DuckDB oracle."""
    return transcript_card(_routed(spark, sf_dir))


def q_tool_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool error attribution (error = next turn in the conversation
    is severity ERROR) ranked by the Wilson 95% lower bound."""
    return tool_error_attribution(_routed(spark, sf_dir))


def q_routed_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink multiset fingerprint of the routed rows — the north rule's
    routed-row-equality acceptance check as one aggregate (order-,
    partitioning-, and engine-independent)."""
    routed = _routed(spark, sf_dir).select("sink", "conv_id", "turn_idx", "text")
    return dataset_fingerprint(routed, group_cols=["sink"])


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates vs exact counts for every user_id
    value — a fully hash-checkable SKETCH: the md5-based hash family is
    bit-reproducible in DuckDB, so the oracle rebuilds the identical
    counter table (est_count >= exact_count always; equality whenever the
    value's d buckets are collision-free)."""
    vals = (
        exploded_attrs(_routed(spark, sf_dir))
        .where(F.col("key") == "user_id")
        .select(
            F.coalesce(F.col("value"), F.lit(NULL_SENTINEL)).alias("value")
        )
    )
    sketch = cms_build(vals, "value")
    exact = vals.groupBy("value").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(sketch, exact.select("value"))
    return est.join(exact, "value").select("value", "est_count", "exact_count")


SEVERITIES = ["DEBUG", "ERROR", "INFO", "UNSET", "WARN"]


def q_severity_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-sink turn counts with one column per severity (fixed
    pivot domain => stable schema, no pivot-value inference scan)."""
    routed = _routed(spark, sf_dir)
    out = routed.groupBy("sink").pivot("severity", SEVERITIES).count()
    return out.select(
        "sink",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in SEVERITIES],
    )


def q_severity_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: (sink, severity) counts with all subtotal grains in one
    aggregation pass (one Expand, one shuffle — not four separate jobs).
    gid disambiguates subtotal NULLs from data NULLs."""
    routed = _routed(spark, sf_dir)
    return routed.cube("sink", "severity").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.grouping_id().alias("gid"),
    )


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink PII scan/redaction audit (uuid/email/ipv4/long-digit-run
    counts + distinct-text cardinality before/after redaction)."""
    return pii_stats(_routed(spark, sf_dir))


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key hot-value skew audit (two-stage argmax, no full-key sort)."""
    return key_skew(_routed(spark, sf_dir))


def q_conv_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-outcome rollup: last-turn severity per conversation
    with depth/tool/first-error enrichments."""
    return conv_outcomes(_routed(spark, sf_dir))


def _pii_stats_sql() -> str:
    """Generated from the SAME pattern table the Spark operator compiles,
    so the two engines can never drift: staged counts (class i counted on
    text already redacted by classes 0..i-1) + the full redaction chain."""
    count_cols = []
    staged = "coalesce(text,'')"
    for name, pat, placeholder in PII_PATTERNS:
        count_cols.append(
            f"len(regexp_extract_all({staged}, '{pat}')) AS n_{name}"
        )
        staged = f"regexp_replace({staged}, '{pat}', '{placeholder}', 'g')"
    names = [name for name, _p, _ph in PII_PATTERNS]
    any_pii = " + ".join(f"n_{n}" for n in names)
    sum_cols = ",\n  ".join(
        f"CAST(sum(n_{n}) AS BIGINT) AS total_{n}" for n in names
    )
    counts_sql = ",\n         ".join(count_cols)
    return f"""
, scanned AS (
  SELECT sink, coalesce(text,'') AS raw,
         {counts_sql},
         {staged} AS redacted
  FROM routed
)
SELECT sink, count(*) AS n_turns,
  CAST(sum(CASE WHEN {any_pii} > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_pii_turns,
  {sum_cols},
  count(DISTINCT redacted) AS n_distinct_redacted,
  count(DISTINCT raw) AS n_distinct_raw
FROM scanned GROUP BY sink
"""


# Oracles written as named functions of ``pre``.
def sink_turns_sql(pre: str, sink: str) -> str:
    return (
        pre
        + f"SELECT conv_id, turn_idx, text FROM routed WHERE sink = '{sink}'"
    )


def key_stats_sql(pre: str) -> str:
    return pre + """
, totals AS (SELECT sink, count(*) AS sink_rows FROM routed GROUP BY sink)
SELECT a.sink, a."key", count(*) AS count,
       count(DISTINCT a."value") AS est_cardinality,
       array_to_string((list_sort(list(DISTINCT a."value")))[1:10], '|') AS value_samples,
       max(CASE WHEN contains(a."value", '�') THEN 1 ELSE 0 END) AS has_invalid_utf8,
       round(count(*) * 100.0 / any_value(t.sink_rows), 4) AS pct
FROM rattrs a JOIN totals t ON a.sink = t.sink
GROUP BY a.sink, a."key"
"""


def diff_sql(pre: str) -> str:
    return pre + """
, a AS (
  SELECT sink, "key", count(*) AS count_from,
         count(DISTINCT "value") AS card_from
  FROM rattrs WHERE turn_idx < 13 GROUP BY sink, "key"
), b AS (
  SELECT sink, "key", count(*) AS count_to,
         count(DISTINCT "value") AS card_to
  FROM rattrs GROUP BY sink, "key"
), j AS (
  SELECT coalesce(a.sink, b.sink) AS sink, coalesce(a."key", b."key") AS "key",
         a.count_from, b.count_to, a.card_from, b.card_to
  FROM a FULL OUTER JOIN b ON a.sink = b.sink AND a."key" = b."key"
), d AS (
SELECT sink, "key",
  CASE WHEN count_from IS NULL THEN 'added'
       WHEN count_to IS NULL THEN 'removed'
       WHEN count_from != count_to OR card_from != card_to THEN 'changed'
       ELSE 'unchanged' END AS change_type,
  CASE WHEN count_from IS NULL AND card_to >= 1000 THEN 'warning'
       WHEN count_from IS NOT NULL AND count_to IS NOT NULL
            AND (count_from != count_to OR card_from != card_to)
            AND card_to / nullif(card_from, 0) >= 10.0 THEN 'critical'
       WHEN count_from IS NOT NULL AND count_to IS NOT NULL
            AND (count_from != count_to OR card_from != card_to)
            AND card_to / nullif(card_from, 0) >= 2.0 THEN 'warning'
       ELSE 'info' END AS severity,
  count_from, count_to, card_from, card_to
FROM j
)
SELECT * FROM d
"""


def diff_filtered_sql(pre: str) -> str:
    return (
        diff_sql(pre)
        + "WHERE sink = 'chat' AND severity IN ('warning', 'critical')"
    )


def merge_sql(pre: str) -> str:
    return pre + """
, a AS (
  SELECT sink, "key", count(*) AS count,
         (list_sort(list(DISTINCT "value")))[1:10] AS samples
  FROM rattrs WHERE turn_idx < 13 GROUP BY sink, "key"
), b AS (
  SELECT sink, "key", count(*) AS count,
         (list_sort(list(DISTINCT "value")))[1:10] AS samples
  FROM rattrs WHERE turn_idx >= 13 GROUP BY sink, "key"
), u AS (
  SELECT * FROM a UNION ALL SELECT * FROM b
)
SELECT sink, "key", CAST(sum(count) AS BIGINT) AS count,
       array_to_string(
         (list_sort(list_distinct(flatten(list(samples)))))[1:10], '|'
       ) AS value_samples
FROM u GROUP BY sink, "key"
"""


RECORDS = {
    "route_counts": (
        q_route_counts,
        lambda pre: pre + "SELECT sink, count(*) AS n_rows FROM routed GROUP BY sink",
    ),
    "sink_chat_turns": (
        _sink_turns("chat"),
        lambda pre: sink_turns_sql(pre, "chat"),
    ),
    "sink_error_turns": (
        _sink_turns("error"),
        lambda pre: sink_turns_sql(pre, "error"),
    ),
    "sink_tool_call_turns": (
        _sink_turns("tool_call"),
        lambda pre: sink_turns_sql(pre, "tool_call"),
    ),
    "service_stats": (q_service_stats, lambda pre: pre + """
SELECT sink, role, severity, count(*) AS sample_count,
       count(DISTINCT conv_id) AS n_conversations
FROM routed GROUP BY sink, role, severity
"""),
    "key_stats_exact": (q_key_stats_exact, key_stats_sql),
    "template_stats": (q_template_stats, lambda pre: pre + """
SELECT role, severity, template, count(*) AS count,
       arg_min(text, conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0')) AS example,
       round(count(*) * 100.0 /
             sum(count(*)) OVER (PARTITION BY role, severity), 4) AS pct
FROM rtruth GROUP BY role, severity, template
"""),
    "attribute_catalog": (q_attribute_catalog, lambda pre: pre + """
SELECT "key", count(*) AS count,
       count(DISTINCT "value") AS est_cardinality,
       array_to_string(list_sort(list(DISTINCT sink)), '|') AS signal_types,
       array_to_string((list_sort(list(DISTINCT "value")))[1:10], '|') AS value_samples,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       max(CASE WHEN contains("value", '�') THEN 1 ELSE 0 END) AS has_invalid_utf8
FROM rattrs GROUP BY "key"
"""),
    "watched_values": (q_watched_values, lambda pre: pre + """
, freq AS (
  SELECT "key", "value", count(*) AS count
  FROM rattrs WHERE "key" IN ('user_id', 'tool_name')
  GROUP BY "key", "value"
)
SELECT "key", "value", count,
       CASE WHEN count(*) OVER (PARTITION BY "key") > 10000 THEN 1 ELSE 0 END AS overflow
FROM freq
QUALIFY row_number() OVER (PARTITION BY "key" ORDER BY count DESC, "value" ASC) <= 10000
"""),
    "active_series_exact": (q_active_series_exact, lambda pre: pre + """
, fps AS (
  SELECT r.sink,
    'R:role=' || r.role || ',R:service=' || r.service || ',' ||
    coalesce(a.attrstr, '') AS fingerprint
  FROM routed r
  LEFT JOIN (
    SELECT conv_id, turn_idx,
           string_agg('D:' || "key" || '=' || "value", ',' ORDER BY "key") AS attrstr
    FROM rattrs GROUP BY conv_id, turn_idx
  ) a ON r.conv_id = a.conv_id AND r.turn_idx = a.turn_idx
)
SELECT sink, count(DISTINCT fingerprint) AS active_series,
       count(*) AS sample_count
FROM fps GROUP BY sink
"""),
    "high_cardinality": (q_high_cardinality, lambda pre: pre + """
, ks AS (
  SELECT sink, "key", count(*) AS count,
         count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY sink, "key"
)
SELECT sink, "key", count, est_cardinality FROM ks
WHERE est_cardinality >= 50
ORDER BY est_cardinality DESC, sink ASC, "key" ASC LIMIT 1000
"""),
    "complexity": (q_complexity, lambda pre: pre + """
, ks AS (
  SELECT sink, "key", count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY sink, "key"
)
SELECT sink, count(*) AS total_keys, max(est_cardinality) AS max_cardinality,
       CAST(sum(CASE WHEN est_cardinality >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS high_card_count,
       CAST(count(*) * max(est_cardinality) AS BIGINT) AS complexity_score
FROM ks GROUP BY sink
"""),
    "session_diff": (q_session_diff, diff_sql),
    "session_diff_filtered": (q_session_diff_filtered, diff_filtered_sql),
    "service_diff": (q_service_diff, lambda pre: pre + """
, a AS (
  SELECT sink, service, severity, count(*) AS count_from
  FROM routed WHERE turn_idx < 13 GROUP BY sink, service, severity
), b AS (
  SELECT sink, service, severity, count(*) AS count_to
  FROM routed GROUP BY sink, service, severity
)
SELECT coalesce(a.sink, b.sink) AS sink,
       coalesce(a.service, b.service) AS service,
       coalesce(a.severity, b.severity) AS severity,
       CASE WHEN a.count_from IS NULL THEN 'added'
            WHEN b.count_to IS NULL THEN 'removed'
            WHEN a.count_from != b.count_to THEN 'changed'
            ELSE 'unchanged' END AS change_type,
       a.count_from, b.count_to,
       CAST(coalesce(b.count_to, 0) - coalesce(a.count_from, 0) AS BIGINT)
         AS delta
FROM a FULL OUTER JOIN b
  ON a.sink = b.sink AND a.service = b.service AND a.severity = b.severity
"""),
    "series_estimate": (q_series_estimate, lambda pre: pre + f"""
, fps AS (
  SELECT r.sink,
    'R:role=' || r.role || ',R:service=' || r.service || ',' ||
    coalesce(a.attrstr, '') AS fingerprint
  FROM routed r
  LEFT JOIN (
    SELECT conv_id, turn_idx,
           string_agg('D:' || "key" || '=' || "value", ',' ORDER BY "key") AS attrstr
    FROM rattrs GROUP BY conv_id, turn_idx
  ) a ON r.conv_id = a.conv_id AND r.turn_idx = a.turn_idx
), act AS (
  SELECT sink, count(DISTINCT fingerprint) AS active_series
  FROM fps GROUP BY sink
)
SELECT act.sink, act.active_series,
  coalesce(m.metric_type, 'gauge') AS metric_type,
  CAST(CASE
    WHEN m.metric_type = 'histogram'
      THEN act.active_series * (coalesce(len(m.explicit_bounds), 0) + 1 + 2)
    WHEN m.metric_type = 'exp_histogram'
      THEN act.active_series * ((CASE
        WHEN m.scales IS NULL OR len(m.scales) = 0 OR list_max(m.scales) <= 0
          THEN 1
        ELSE least(CAST(pow(2, list_max(m.scales) + 1) AS BIGINT), 160)
        END) + 2)
    ELSE act.active_series END AS BIGINT) AS prometheus_series
FROM act LEFT JOIN read_parquet('{_metric_dim_path()}') m ON act.sink = m.sink
"""),
    "session_merge": (q_session_merge, merge_sql),
    "enriched_tool_stats": (q_enriched_tool_stats, lambda pre: pre + f"""
SELECT d.tool_family, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.is_privileged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_privileged,
       count(DISTINCT r.tool) AS n_tools
FROM routed r JOIN read_parquet('{_tool_dim_path()}') d ON r.tool = d.tool
GROUP BY d.tool_family
"""),
    "tool_detail": (q_tool_detail, lambda pre: pre + f"""
SELECT r.tool,
       any_value(d.tool_family) AS tool_family,
       max(CASE WHEN d.is_privileged THEN 1
                WHEN NOT d.is_privileged THEN 0 END) AS is_privileged,
       count(*) AS n_calls,
       count(DISTINCT r.conv_id) AS n_conversations,
       array_to_string(list_sort(list(DISTINCT r.service)), '|') AS services,
       strftime(min(r.ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(max(r.ts), '%Y-%m-%d %H:%M:%S') AS last_seen
FROM routed r LEFT JOIN read_parquet('{_tool_dim_path()}') d ON r.tool = d.tool
WHERE r.tool IS NOT NULL
GROUP BY r.tool
"""),
    "template_topk": (q_template_topk, lambda pre: pre + """
SELECT template, count(*) AS count FROM rtruth
GROUP BY template ORDER BY count DESC, template ASC LIMIT 20
"""),
    "paginated_keys": (q_paginated_keys, lambda pre: pre + """
, ks AS (
  SELECT sink, "key", count(*) AS count FROM rattrs GROUP BY sink, "key"
)
SELECT sink, "key", count, rn FROM (
  SELECT *, row_number() OVER (ORDER BY sink ASC, "key" ASC) AS rn FROM ks
) WHERE rn > 5 AND rn <= 25
"""),
    "pattern_services": (q_pattern_services, lambda pre: pre + """
SELECT template, count(*) AS count,
       array_to_string(list_sort(list(DISTINCT service)), '|') AS services,
       count(DISTINCT service) AS n_services
FROM rtruth GROUP BY template
"""),
    "service_overview": (q_service_overview, lambda pre: pre + """
, turn_side AS (
  SELECT service, count(*) AS n_turns,
    CAST(sum(CASE WHEN sink = 'tool_call' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_tool_call_turns,
    CAST(sum(CASE WHEN sink = 'error' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_error_turns,
    CAST(sum(CASE WHEN sink = 'chat' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_chat_turns,
    count(DISTINCT tool) AS n_tools,
    count(DISTINCT template) AS n_templates,
    count(DISTINCT conv_id) AS n_conversations
  FROM rtruth GROUP BY service
), key_side AS (
  SELECT service, count(DISTINCT "key") AS n_attr_keys
  FROM rattrs GROUP BY service
)
SELECT t.*, coalesce(k.n_attr_keys, 0) AS n_attr_keys
FROM turn_side t LEFT JOIN key_side k ON t.service = k.service
"""),
    "attribute_services": (q_attribute_services, lambda pre: pre + """
SELECT "key", service, sink, count(*) AS count,
       count(DISTINCT "value") AS n_values
FROM rattrs WHERE "key" IN ('user_id', 'trace_id', 'tool_name')
GROUP BY "key", service, sink
"""),
    "pattern_detail": (q_pattern_detail, lambda pre: pre + """
, per AS (
  SELECT template, severity, count(*) AS count,
    arg_min(text, conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0'))
      AS example,
    array_to_string(list_sort(list(DISTINCT service)), '|') AS services,
    count(DISTINCT service) AS n_services
  FROM rtruth GROUP BY template, severity
)
SELECT template, severity, count,
  CAST(sum(count) OVER (PARTITION BY severity) AS BIGINT) AS severity_total,
  round(count * 100.0 / sum(count) OVER (PARTITION BY severity), 4)
    AS pct_of_severity,
  example, n_services, services
FROM per
"""),
    "logs_by_service": (q_logs_by_service, lambda pre: pre + """
, agg AS (
  SELECT service, severity, count(*) AS sample_count
  FROM routed GROUP BY service, severity
)
SELECT service, severity, sample_count FROM (
  SELECT *, row_number() OVER (ORDER BY service ASC, severity ASC) AS rn
  FROM agg
) WHERE rn > 1 AND rn <= 9
"""),
    "service_attributes": (q_service_attributes, lambda pre: pre + """
SELECT service, count(DISTINCT "key") AS n_keys,
       array_to_string(list_sort(list(DISTINCT "key")), '|')
         AS attribute_keys
FROM rattrs GROUP BY service
"""),
    "log_patterns_filtered": (q_log_patterns_filtered, lambda pre: pre + """
, agg AS (
  SELECT template, count(*) AS count,
         count(DISTINCT service) AS n_services
  FROM rtruth WHERE severity IN ('ERROR', 'WARN', 'INFO')
  GROUP BY template
)
SELECT template, count, n_services, rn FROM (
  SELECT *, row_number() OVER (ORDER BY count DESC, template ASC) AS rn
  FROM agg
) WHERE rn > 2 AND rn <= 14
"""),
    "attribute_telemetry": (q_attribute_telemetry, lambda pre: pre + """
SELECT "key", sink, count(*) AS count, count(DISTINCT "value") AS n_values
FROM rattrs WHERE "key" IN ('user_id', 'trace_id')
GROUP BY "key", sink
"""),
    "attribute_filter": (q_attribute_filter, lambda pre: pre + """
, cat AS (
  SELECT "key", count(*) AS count, count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY "key"
)
SELECT "key", count, est_cardinality, rn FROM (
  SELECT *, row_number() OVER (
    ORDER BY est_cardinality DESC, "key" ASC) AS rn
  FROM cat WHERE est_cardinality BETWEEN 5 AND 1000
) WHERE rn > 2 AND rn <= 12
"""),
    "attribute_filter_sorted": (q_attribute_filter_sorted, lambda pre: pre + """
, cat AS (
  SELECT "key", count(*) AS count, count(DISTINCT "value") AS est_cardinality,
         array_to_string(list_sort(list(DISTINCT sink)), '|') AS signal_types
  FROM rattrs GROUP BY "key"
)
SELECT "key", count, est_cardinality, signal_types, rn FROM (
  SELECT *, row_number() OVER (ORDER BY lower("key") ASC, "key" ASC) AS rn
  FROM cat WHERE list_contains(string_split(signal_types, '|'), 'tool_call')
) WHERE rn <= 5
"""),
    "watched_prefix": (q_watched_prefix, lambda pre: pre + """
SELECT "key", "value", count(*) AS count
FROM rattrs WHERE "key" = 'user_id' AND "value" LIKE '1%'
GROUP BY "key", "value"
ORDER BY count DESC, "value" ASC LIMIT 20
"""),
    "drain_templates": (q_drain_templates, None),
    "drain_infer": (q_drain_infer, None),
    "key_stats_hll": (q_key_stats_hll, None),
    # transcript_card: every section recomputed from the same
    # definitions the dedicated operators hash-match (depth grain,
    # turn_gaps' epoch_us pairing, truth-template islands).
    "transcript_card": (q_transcript_card, lambda pre: pre + """
, conv AS (SELECT conv_id, count(*) AS depth FROM routed GROUP BY 1),
ca AS (SELECT count(*) AS convs, CAST(sum(depth) AS BIGINT) AS turns,
       quantile_cont(CAST(depth AS DOUBLE), [0.5, 0.9, 0.99]) AS p
       FROM conv),
g AS (SELECT (epoch_us(ts) - lag(epoch_us(ts))
              OVER (PARTITION BY conv_id ORDER BY turn_idx)) / 1000000.0
        AS gap_s FROM routed),
ga AS (SELECT quantile_cont(gap_s, [0.5, 0.9]) AS p FROM g
       WHERE gap_s IS NOT NULL),
ta AS (SELECT count(*) AS n,
       CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS calls,
       count(DISTINCT tool) AS tools FROM routed),
lr AS (
  SELECT conv_id, run_no, count(*) AS run_len FROM (
    SELECT conv_id,
           sum(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS UNBOUNDED PRECEDING) AS run_no
    FROM (
      SELECT conv_id, turn_idx,
             CASE WHEN template IS DISTINCT FROM
                    lag(template) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx)
                  THEN 1 ELSE 0 END AS new_run
      FROM rtruth
    )
  ) GROUP BY 1, 2
),
lc AS (SELECT conv_id, CAST(sum(run_len) AS BIGINT) AS n_turns,
       count(*) AS n_runs, CAST(max(run_len) AS BIGINT) AS max_run
       FROM lr GROUP BY 1),
la AS (SELECT CAST(sum(n_turns - n_runs) AS BIGINT) AS pairs,
       CAST(sum(n_turns) AS BIGINT) AS lturns,
       CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS flagged,
       count(*) AS lconvs FROM lc)
SELECT 'volume' AS section, 'n_turns' AS metric,
       round(CAST(turns AS DOUBLE), 6) AS value FROM ca
UNION ALL SELECT 'volume', 'n_convs', round(CAST(convs AS DOUBLE), 6) FROM ca
UNION ALL SELECT 'volume', 'avg_depth',
       round(CAST(turns AS DOUBLE) / convs, 6) FROM ca
UNION ALL SELECT 'depth', 'p50', round(p[1], 6) FROM ca
UNION ALL SELECT 'depth', 'p90', round(p[2], 6) FROM ca
UNION ALL SELECT 'depth', 'p99', round(p[3], 6) FROM ca
UNION ALL SELECT 'gap', 'p50_s', round(p[1], 6) FROM ga
UNION ALL SELECT 'gap', 'p90_s', round(p[2], 6) FROM ga
UNION ALL SELECT 'tool', 'call_share',
       round(CAST(calls AS DOUBLE) / n, 6) FROM ta
UNION ALL SELECT 'tool', 'n_tools', round(CAST(tools AS DOUBLE), 6) FROM ta
UNION ALL SELECT 'role', role,
       round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM routed), 6)
  FROM routed GROUP BY role
UNION ALL SELECT 'sink', sink,
       round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM routed), 6)
  FROM routed GROUP BY sink
UNION ALL SELECT 'severity', severity,
       round(CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM routed), 6)
  FROM routed GROUP BY severity
UNION ALL SELECT 'loop', 'repeat_pair_rate',
       round(CAST(pairs AS DOUBLE) / lturns, 6) FROM la
UNION ALL SELECT 'loop', 'flagged_conv_share',
       round(CAST(flagged AS DOUBLE) / lconvs, 6) FROM la
"""),
    # tool_error_attribution (operators/conversation.py): next-turn
    # severity attribution + Wilson LB; 1.96*1.96 written as the
    # product so both engines fold the same IEEE double.
    "tool_errors": (q_tool_errors, lambda pre: pre + """
SELECT tool, n_calls, n_errors, error_rate, wilson_lb,
       row_number() OVER (ORDER BY wilson_lb DESC, tool ASC) AS rank
FROM (
  SELECT tool, n_calls, n_errors,
         round(p, 6) AS error_rate,
         round((p + (1.96*1.96)/(2*n)
                - 1.96 * sqrt((p*(1-p) + (1.96*1.96)/(4*n)) / n))
               / (1 + (1.96*1.96)/n), 6) AS wilson_lb
  FROM (
    SELECT tool, count(*) AS n_calls,
           CAST(sum(next_err) AS BIGINT) AS n_errors,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(next_err) AS BIGINT) / CAST(count(*) AS DOUBLE) AS p
    FROM (
      SELECT tool,
             coalesce(CAST(lead(severity) OVER (PARTITION BY conv_id
                        ORDER BY turn_idx) = 'ERROR' AS INT), 0)
               AS next_err
      FROM routed
    ) WHERE tool IS NOT NULL GROUP BY tool
  )
)
"""),
    "routed_fingerprint": (q_routed_fingerprint, lambda pre: pre + """
, canon AS (
  SELECT sink,
    ('0x' || substr(md5(
       CASE WHEN conv_id IS NULL THEN 'N'
            ELSE 'V' || length(CAST(conv_id AS VARCHAR)) || ':'
                 || CAST(conv_id AS VARCHAR) END
       || chr(31) ||
       CASE WHEN text IS NULL THEN 'N'
            ELSE 'V' || length(CAST(text AS VARCHAR)) || ':'
                 || CAST(text AS VARCHAR) END
       || chr(31) ||
       CASE WHEN turn_idx IS NULL THEN 'N'
            ELSE 'V' || length(CAST(turn_idx AS VARCHAR)) || ':'
                 || CAST(turn_idx AS VARCHAR) END
     ), 18, 15))::BIGINT AS v
  FROM routed
)
SELECT sink, count(*) AS n_rows, bit_xor(v) AS xor_digest,
       CAST(sum(CAST(v AS HUGEINT)) AS VARCHAR) AS sum_digest
FROM canon GROUP BY sink
"""),
    "cms_user_counts": (q_cms_user_counts, lambda pre: pre + """
, vals AS (
  SELECT coalesce("value", chr(0) || '<NULL>') AS "value"
  FROM rattrs WHERE "key" = 'user_id'
),
exact AS (SELECT "value", count(*) AS exact_count FROM vals GROUP BY 1),
dd AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(d)),
cells AS (
  SELECT dd.d AS depth,
         ('0x' || substr(md5("value" || '#' || dd.d), 1, 8))::BIGINT % 256
           AS bucket,
         count(*) AS cnt
  FROM vals CROSS JOIN dd
  GROUP BY 1, 2
), est AS (
  SELECT e."value", min(coalesce(c.cnt, 0)) AS est_count
  FROM exact e CROSS JOIN dd
  LEFT JOIN cells c
    ON c.depth = dd.d
   AND c.bucket =
       ('0x' || substr(md5(e."value" || '#' || dd.d), 1, 8))::BIGINT % 256
  GROUP BY 1
)
SELECT e."value", est_count, exact_count
FROM est JOIN exact e USING ("value")
"""),
    "severity_pivot": (q_severity_pivot, lambda pre: pre + """
SELECT sink,
  CAST(sum(CASE WHEN severity = 'DEBUG' THEN 1 ELSE 0 END) AS BIGINT) AS n_debug,
  CAST(sum(CASE WHEN severity = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(sum(CASE WHEN severity = 'INFO' THEN 1 ELSE 0 END) AS BIGINT) AS n_info,
  CAST(sum(CASE WHEN severity = 'UNSET' THEN 1 ELSE 0 END) AS BIGINT) AS n_unset,
  CAST(sum(CASE WHEN severity = 'WARN' THEN 1 ELSE 0 END) AS BIGINT) AS n_warn
FROM routed GROUP BY sink
"""),
    "severity_cube": (q_severity_cube, lambda pre: pre + """
SELECT sink, severity, count(*) AS n_turns,
       GROUPING(sink, severity) AS gid
FROM routed GROUP BY CUBE (sink, severity)
"""),
    "pii_stats": (q_pii_stats, lambda pre: pre + _pii_stats_sql()),
    "key_skew": (q_key_skew, lambda pre: pre + """
, freq AS (
  SELECT "key", "value", count(*) AS vcount FROM rattrs GROUP BY 1, 2
), top AS (
  SELECT "key", "value" AS top_value, vcount AS top_count FROM (
    SELECT *, row_number() OVER (
      PARTITION BY "key" ORDER BY vcount DESC, "value" ASC) AS rn
    FROM freq
  ) WHERE rn = 1
), totals AS (
  SELECT "key", CAST(sum(vcount) AS BIGINT) AS n_rows,
         count(*) AS n_values
  FROM freq GROUP BY 1
)
SELECT t."key", n_rows, n_values, top_value, top_count,
  round(top_count / n_rows, 4) AS top_share,
  round(top_count * n_values / n_rows, 4) AS skew_ratio
FROM totals t JOIN top USING ("key")
"""),
    "conv_outcomes": (q_conv_outcomes, lambda pre: pre + """
, pc AS (
  SELECT conv_id,
    arg_max(severity, turn_idx) AS outcome,
    count(*) AS turns,
    sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS tools,
    min(CASE WHEN severity = 'ERROR' THEN turn_idx END) AS first_err
  FROM routed GROUP BY 1
), a AS (
  SELECT outcome, count(*) AS n_convs,
    round(avg(turns), 4) AS avg_turns,
    round(avg(tools), 4) AS avg_tool_calls,
    round(avg(first_err), 4) AS avg_first_error_turn
  FROM pc GROUP BY 1
), t AS (SELECT CAST(sum(n_convs) AS BIGINT) AS tot FROM a)
SELECT outcome, CAST(n_convs AS BIGINT) AS n_convs,
       round(n_convs * 1.0 / tot, 6) AS conv_share,
       avg_turns, avg_tool_calls, avg_first_error_turn
FROM a CROSS JOIN t
"""),
}
