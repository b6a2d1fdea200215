"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship pipeline at sf0.001.
``queries()`` exposes every implemented operator as (spark, sf_dir) ->
DataFrame; ``oracle_sql()`` gives the DuckDB-equivalent SQL over the same
parquet inputs (pipeline inputs are the deterministic synthetic transcripts
materialized by ``datagen.ensure_dataset``; training-data ops run over the
driver's documents/embeddings tables).

Design of the oracle: the Spark pipeline's parse stage runs the *Catalyst*
engine, while the truth tables were produced at generation time by the
independent *pandas* implementation — so a passing hash-match cross-checks
two separate implementations end-to-end, plus DuckDB re-deriving the
enrich/route/aggregate logic in plain SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


_SCRATCH_DIRS: list[str] = []


def _stream_scratch(prefix: str):
    """Micro-batch scratch (source files, sink parquet, state-store
    checkpoints) on tmpfs when available: streaming state commits fsync
    one delta file per state partition per batch, and this box's single
    virtio disk (~380 MB/s, high variance) makes that I/O the dominant
    cost of every foreachBatch / applyInPandasWithState gate query —
    the same judgment bench.py's _bench_out_dir documents (tmpfs models
    a cluster executor's local SSD; the virtio disk models nothing).
    Results are unaffected: only the scratch location changes. Peak
    usage is bounded: only the newest few scratch dirs are kept (the
    gate/bench collect each streaming query before building the next,
    so older queries' sources/sinks are dead by then — a full-registry
    sweep must not accumulate every stream's state in RAM), and the
    survivors are removed at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile
    from pathlib import Path

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix=prefix, dir=shm)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [
                shutil.rmtree(x, ignore_errors=True) for x in _SCRATCH_DIRS
            ]
        )
    _SCRATCH_DIRS.append(d)
    while len(_SCRATCH_DIRS) > 3:
        shutil.rmtree(_SCRATCH_DIRS.pop(0), ignore_errors=True)
    return Path(d)


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.plans.pipeline import routed_turns

    return routed_turns(spark, sf_dir, engine="sql")


def _key_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    return key_stats(_routed(spark, sf_dir), exact=True).withColumn(
        "has_invalid_utf8", F.col("has_invalid_utf8").cast("int")
    )


def _oracle_prefix(sf_dir: str | None = None) -> str:
    """Shared DuckDB CTEs re-deriving parse/enrich/route independently.

    Defaults to the SPARK_GRAFT_ORACLE_SF-aware scale (see _oracle_sf) so
    zero-arg call sites stay consistent with the sweep scale."""
    from otlp_cardinality_checker_spark.sources.transcripts import truth_paths

    p = truth_paths(sf_dir or _oracle_sf())
    return f"""
WITH parsed AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
    CASE WHEN contains(lower(coalesce(text,'')), 'error') THEN 'ERROR'
         WHEN contains(lower(coalesce(text,'')), 'warn')  THEN 'WARN'
         WHEN contains(lower(coalesce(text,'')), 'info')  THEN 'INFO'
         WHEN contains(lower(coalesce(text,'')), 'debug') THEN 'DEBUG'
         ELSE 'UNSET' END AS severity_inferred
  FROM read_parquet('{p["transcripts"]}')
), enriched AS (
  SELECT pp.*, r.role_class,
    CASE WHEN pp.severity_inferred = 'UNSET'
         THEN coalesce(r.severity_default, 'UNSET')
         ELSE pp.severity_inferred END AS severity,
    coalesce(r.role_class, 'unknown_service') AS service
  FROM parsed pp LEFT JOIN read_parquet('{p["role_dim"]}') r ON pp.role = r.role
), routed AS (
  SELECT e.*,
    CASE WHEN e.tool IS NOT NULL THEN 'tool_call'
         WHEN e.severity = 'ERROR' THEN 'error'
         ELSE 'chat' END AS sink
  FROM enriched e
), rattrs AS (
  SELECT r.sink, r.service, a.conv_id, a.turn_idx, r.ts, a."key", a."value"
  FROM read_parquet('{p["truth_attrs"]}') a
  JOIN routed r ON a.conv_id = r.conv_id AND a.turn_idx = r.turn_idx
), rtruth AS (
  SELECT r.*, t.template
  FROM routed r
  JOIN read_parquet('{p["truth"]}') t
    ON r.conv_id = t.conv_id AND r.turn_idx = t.turn_idx
)
"""


# ---------------------------------------------------------------------------
# pipeline queries (transcripts)
# ---------------------------------------------------------------------------


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


def q_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.sources.transcripts import load_transcripts

    return (
        parse_turns(load_transcripts(spark, sf_dir))
        .groupBy("severity_inferred")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_service_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import service_stats

    return service_stats(_routed(spark, sf_dir))


def q_key_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _key_stats_exact(spark, sf_dir)


def q_template_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import template_stats

    return template_stats(_routed(spark, sf_dir))


def q_attribute_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import (
        attribute_catalog,
    )

    return attribute_catalog(_routed(spark, sf_dir), exact=True).withColumn(
        "has_invalid_utf8", F.col("has_invalid_utf8").cast("int")
    )


def q_watched_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import watched_values
    from otlp_cardinality_checker_spark.operators.watch import WatchedKeys

    reg = WatchedKeys()
    reg.watch("user_id")
    reg.watch("tool_name")
    return watched_values(
        _routed(spark, sf_dir), watched_keys=reg.active()
    ).withColumn("overflow", F.col("overflow").cast("int"))


def q_active_series_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import active_series

    return active_series(_routed(spark, sf_dir), exact=True)


def q_high_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import (
        high_cardinality_keys,
    )

    return high_cardinality_keys(
        _key_stats_exact(spark, sf_dir), threshold=50
    ).select("sink", "key", "count", "est_cardinality")


def q_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.aggregate import (
        metadata_complexity,
    )

    return metadata_complexity(_key_stats_exact(spark, sf_dir))


def q_session_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-session (turn_idx < 13) vs now, fused into ONE parse pass
    (sessions.diff_from_predicate); row-identical to the two-pass
    diff_key_stats(key_stats(subset), key_stats(full)) form, which
    tests/test_sessions.py asserts and the arbitrary-two-session API
    still uses."""
    from otlp_cardinality_checker_spark.operators.sessions import (
        diff_from_predicate,
    )

    routed = _routed(spark, sf_dir)
    return diff_from_predicate(routed, F.col("turn_idx") < 13)


def q_session_diff_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff output filters: signal + min-severity (sessions.go:571-603)."""
    from otlp_cardinality_checker_spark.operators.sessions import filter_diff

    return filter_diff(
        q_session_diff(spark, sf_dir),
        signal_type="chat",
        min_severity="warning",
    )


def q_service_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-grain session diff (per-service entries, sessions.go:608-685)."""
    from otlp_cardinality_checker_spark.operators.sessions import (
        service_diff_from_predicate,
    )

    routed = _routed(spark, sf_dir)
    return service_diff_from_predicate(routed, F.col("turn_idx") < 13)


def q_series_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: Prometheus-equivalent series per sink (metric_types.go:140-190)."""
    from otlp_cardinality_checker_spark.datagen import ensure_dataset
    from otlp_cardinality_checker_spark.operators.aggregate import (
        active_series,
        prometheus_series_estimate,
    )

    data_dir = ensure_dataset(sf_dir)
    mdim = spark.read.parquet(str(data_dir / "metric_dim.parquet"))
    return prometheus_series_estimate(
        active_series(_routed(spark, sf_dir), exact=True), mdim
    )


def q_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive merge of two half-sessions must equal the full aggregate."""
    from otlp_cardinality_checker_spark.operators.aggregate import SAMPLE_CAP
    from otlp_cardinality_checker_spark.operators.aggregate import exploded_attrs

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
    from otlp_cardinality_checker_spark.operators.aggregate import template_stats

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
    from otlp_cardinality_checker_spark.operators.aggregate import (
        global_top_k,
    )

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
    from otlp_cardinality_checker_spark.operators.overview import (
        service_overview,
    )

    return service_overview(_routed(spark, sf_dir))


def q_attribute_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key -> services correlation (`/attributes/{key}/services`,
    server.go:1250-1340) for a watched key set."""
    from otlp_cardinality_checker_spark.operators.overview import (
        attribute_services,
    )

    return attribute_services(
        _routed(spark, sf_dir), keys=["user_id", "trace_id", "tool_name"]
    )


def q_pattern_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pattern drill-down (`/logs/patterns/{severity}/{template}`,
    server.go:877-954): per (template, severity) count, the severity-wide
    denominator, example body, and carrying services."""
    from otlp_cardinality_checker_spark.operators.overview import (
        pattern_detail,
    )

    return pattern_detail(_routed(spark, sf_dir))


def q_logs_by_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-based log navigation with pagination (`/logs/by-service`,
    server.go:757-803): rows 2..9 of the service-asc/severity-asc list."""
    from otlp_cardinality_checker_spark.operators.overview import (
        logs_by_service,
    )

    return logs_by_service(_routed(spark, sf_dir), limit=8, offset=1)


def q_service_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service attribute-key sets (`/services/{name}/attributes`,
    server.go:987-1060)."""
    from otlp_cardinality_checker_spark.operators.overview import (
        service_attributes,
    )

    return service_attributes(_routed(spark, sf_dir))


def q_log_patterns_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetLogPatterns' full list contract (`/logs/patterns`,
    server.go:805-873 / store.go:486-572): severity-filtered pattern list,
    count-desc order with deterministic tiebreak, offset/limit page."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        global_top_k,
    )

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


def q_metric_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 histogram half: per-metric union of OBSERVED bucket bounds and
    exp-hist scales (extractUniqueBounds/extractUniqueScales,
    metrics.go:327-376) over a deterministic nested-metric fixture derived
    from events; includes the Prometheus multiplier that shape implies."""
    from otlp_cardinality_checker_spark.operators.metric_shapes import (
        observed_metric_shapes,
        synthetic_metric_points,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return observed_metric_shapes(synthetic_metric_points(events))


def q_series_estimate_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 fed from A10: Prometheus series estimate whose shape dimension
    is the data-derived union, not a synthesized dim
    (metric_types.go:140-190 over metrics.go:327-376 output)."""
    from otlp_cardinality_checker_spark.operators.metric_shapes import (
        series_estimate_observed,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return series_estimate_observed(events)


def q_attribute_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: reverse lookup — which sinks carry attribute key K
    (getAttributeTelemetry server.go:1344-1456)."""
    from otlp_cardinality_checker_spark.operators.aggregate import exploded_attrs

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
    from otlp_cardinality_checker_spark.operators.aggregate import (
        attribute_catalog,
        list_attributes,
    )

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
    from otlp_cardinality_checker_spark.operators.aggregate import (
        attribute_catalog,
        list_attributes,
    )

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
    from otlp_cardinality_checker_spark.operators.aggregate import watched_values

    wv = watched_values(_routed(spark, sf_dir)).drop("overflow")
    return (
        wv.where((F.col("key") == "user_id") & F.col("value").startswith("1"))
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(20)
    )


def q_drain_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain fidelity mode (rows-only: arrival-order-dependent by nature;
    determinism via per-group sort is covered in tests/test_drain.py)."""
    from otlp_cardinality_checker_spark.operators.templates import drain_templates

    return drain_templates(_routed(spark, sf_dir))


def q_drain_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain INFERENCE mode (miner.go:125-134): train on the corpus, then
    match the same corpus read-only against the distributed (cogrouped)
    model — per (role, severity): turns, matched count, match rate.
    Rows-only like drain_templates (the trained model is arrival-order-
    dependent), but the aggregate match rate is deterministic given the
    per-group sort."""
    from otlp_cardinality_checker_spark.operators.templates import (
        drain_infer,
        drain_templates,
    )

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


# ---------------------------------------------------------------------------
# training-data ops (documents / embeddings driver tables)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.dedup import exact_dedup_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup_stats(docs)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        quality_scores,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_scores(docs)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        token_count_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_count_stats(docs)


def q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact token-length percentiles (length-filter stats)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        length_percentiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_percentiles(docs)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        fingerprints,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprints(docs)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.text_analysis import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        word_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # max_df=None: explicit opt-in to the uncapped truly-exact form so the
    # DuckDB oracle (which has no df cap) sees identical pair sets. The
    # operator's DEFAULT is capped (dedup.DEFAULT_MAX_DF) for web scale.
    return exact_jaccard(word_shingles(docs), min_jaccard=0.2, max_df=None)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-gram-filtered Jaccard: shingles with document frequency > 4 are
    dropped before the pair join (bounds per-shingle fan-out at web scale);
    similarity is over the filtered sets. The oracle mirrors the cap."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        word_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_jaccard(word_shingles(docs), min_jaccard=0.2, max_df=4)


def q_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: exact n-gram Jaccard pairs (>=0.2) → distributed
    connected components (large-star/small-star) → per-doc cluster id,
    size, survivor flag. The oracle recomputes the same pair graph in SQL
    and takes its transitive closure with a recursive CTE."""
    from otlp_cardinality_checker_spark.operators.graph import (
        jaccard_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_clusters(docs, min_jaccard=0.2)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries_df, k=10)


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


_MICROBATCH_ROW_CAP = 1_000_000


def _write_microbatch_sources(src, frames, ts_cols=("ts",)) -> None:
    """HARNESS ONLY — bounded driver-side micro-batch source writer.

    The streaming-query wrappers below need deterministic file
    splits to hand Structured Streaming a fixed micro-batch order at gate
    scale (sf0.01).  The ``toPandas()`` materialization here is NOT an
    operator pattern — it is confined to this helper, guarded by a hard
    row cap so nobody can silently scale it up, and exists only to write
    tiny source fixtures.  Production streams read from real sources
    (file trees, Iceberg); no operator module collects data to the driver.
    """
    import os as _os
    import time as _time

    src.mkdir(parents=True, exist_ok=True)
    now = _time.time()
    for i, frame in enumerate(frames):
        pdf = frame.toPandas() if hasattr(frame, "toPandas") else frame
        if len(pdf) > _MICROBATCH_ROW_CAP:
            raise ValueError(
                f"micro-batch source of {len(pdf)} rows exceeds the "
                f"harness cap ({_MICROBATCH_ROW_CAP}); this helper is for "
                "gate-scale fixtures only — use a distributed write"
            )
        # Spark cannot read parquet TIMESTAMP(NANOS); pin to micros (on a
        # copy: callers may pass slices of their own frames)
        pdf = pdf.astype({c: "datetime64[us]" for c in ts_cols if c in pdf.columns})
        path = src / f"part{i}.parquet"
        pdf.to_parquet(path, index=False)
        # mtime order == micro-batch order; set it explicitly (2s apart,
        # in the past) instead of sleeping between writes
        mt = now - 2.0 * (len(frames) - i)
        _os.utime(path, (mt, mt))


def _write_median_split(src, frame) -> None:
    """Two micro-batch files: ``frame``'s rows before, then from, the
    approximate median ``ts`` (``percentile_approx(ts, 0.5)``)."""
    cutoff = frame.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("c")
    ).collect()[0]["c"]
    _write_microbatch_sources(
        src,
        [frame.where(F.col("ts") < F.lit(cutoff)),
         frame.where(F.col("ts") >= F.lit(cutoff))],
    )


def q_events_windowed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 driver-verified STREAMING query: the watermarked event-time
    window run as a real Structured Streaming job (two file micro-batches,
    append mode), returning exactly the finalized windows.

    Deterministic contract the DuckDB oracle replicates: the source is
    split at cutoff = max(ts) - 2h into (A: ts < cutoff, B: rest) processed
    A-then-B. After batch B the availableNow no-data micro-batch advances
    the watermark to max(ts) - 30min and finalizes everything behind it,
    so the emitted set is exactly the windows with window_end <= max(ts) -
    30min, with FULL counts: no input row is ever late here (every B row
    has ts >= max(ts)-2h, above the batch-B watermark max(ts in A)-30min,
    and its window is still open at that point since max(A) < cutoff)."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        run_windowed_stream,
    )

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "user_id", "value", "ts")
    )
    tmax = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    import datetime as _dt

    cutoff = tmax - _dt.timedelta(hours=2)
    tmp = _stream_scratch("evstream_")
    src = tmp / "src"
    _write_microbatch_sources(
        src,
        [
            ev.where(F.col("ts") < F.lit(cutoff)),
            ev.where(F.col("ts") >= F.lit(cutoff)),
        ],
    )
    run_windowed_stream(
        spark,
        str(src),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        window_duration="1 hour",
        watermark="30 minutes",
    )
    res = spark.read.parquet(str(tmp / "out" / "windowed"))
    return res.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup-at-ingest (§2.10 x training ops): incremental exact
    dedup with cross-batch digest state, run as a real Structured
    Streaming job over three doc_id-range micro-batches.

    Deterministic contract the oracle replicates: batches are ascending
    doc_id ranges processed in order, and within a batch the min doc_id
    per digest wins — so first-seen == global min doc_id per digest. The
    driver corpus has no duplicate texts, so the wrapper injects them:
    every doc with doc_id < 50 re-enters as doc_id + 10000 (landing in the
    LAST batch), exercising the cross-batch duplicate path non-trivially;
    the oracle applies the same UNION ALL."""
    import pandas as pd

    from otlp_cardinality_checker_spark.streaming.stream import dedup_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pdf = docs.toPandas()
    dups = pdf[pdf["doc_id"] < 50].copy()
    dups["doc_id"] = dups["doc_id"] + 10000
    pdf = (
        pd.concat([pdf, dups], ignore_index=True)
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    tmp = _stream_scratch("dedupstream_")
    src = tmp / "src"
    n = len(pdf)
    _write_microbatch_sources(
        src,
        [
            pdf.iloc[: n // 3],
            pdf.iloc[n // 3 : 2 * n // 3],
            pdf.iloc[2 * n // 3 :],
        ],
    )
    dedup_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return spark.read.parquet(str(tmp / "out" / "decisions")).select(
        "doc_id", "text_hash", "is_first"
    )


def q_cms_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch over events.user_id: two ts-range
    micro-batches each write a (depth, bucket, count) partial; cell-wise
    addition makes the merged state bit-identical to the batch sketch, so
    point estimates vs exact counts hash-match a batch DuckDB oracle —
    the second hash-exact streaming/batch sketch equivalence (with
    quantile_stream)."""
    from otlp_cardinality_checker_spark.operators.checksum import (
        NULL_SENTINEL,
    )
    from otlp_cardinality_checker_spark.operators.cms import cms_estimate
    from otlp_cardinality_checker_spark.streaming.stream import (
        cms_stream,
        current_cms,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _stream_scratch("cmsstream_")
    src = tmp / "src"
    _write_median_split(src, ev)
    cms_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"),
               value_col="user_id")
    sketch = current_cms(spark, str(tmp / "out"))
    vals = ev.select(
        F.coalesce(F.col("user_id").cast("string"),
                   F.lit(NULL_SENTINEL)).alias("value")
    )
    exact = vals.groupBy("value").agg(F.count(F.lit(1)).alias("exact_count"))
    est = cms_estimate(sketch, exact.select("value"))
    return est.join(exact, "value").select(
        "value", "est_count", "exact_count"
    )


def q_card_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-key cardinality (the package's namesake signal as a
    stream): two ts-range micro-batches each write distinct (key, value-
    digest) partials + per-key HLL partials; distinct-union on read makes
    the streamed EXACT count hash-match the batch count(DISTINCT ...)
    oracle. The streamed HLL estimate (== batch estimate, register-max
    union) is pinned by pytest; only the oracle-checkable exact columns
    are returned here."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        card_stream,
        current_cardinality,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    tmp = _stream_scratch("cardstream_")
    src = tmp / "src"
    _write_median_split(src, ev)
    card_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_cardinality(spark, str(tmp / "out")).select(
        "event_type", "n_rows", "exact_cardinality"
    )


def q_quantile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile sketch (§2.10 x the mergeable-sketch family):
    three doc_id-range micro-batches each write one (lang, bucket_hi,
    cnt) partial; the merged state is BIT-IDENTICAL to the batch sketch
    over the full table (union+sum merge, deterministic integer
    bucketing), so the oracle is the SAME batch SQL as quantile_sketch —
    a hash-exact streaming/batch equivalence, not an approximation."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_quantiles,
        quantile_stream,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )
    pdf = docs.toPandas()
    n = len(pdf)
    tmp = _stream_scratch("quantstream_")
    src = tmp / "src"
    _write_microbatch_sources(
        src,
        [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3],
         pdf.iloc[2 * n // 3 :]],
        ts_cols=(),
    )
    quantile_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_quantiles(spark, str(tmp / "out"))


def q_conv_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 custom stateful streaming operator, driver-verified: per-
    conversation session-gap splitting via applyInPandasWithState
    (streaming/stream.py:sessionize_stream) run as a real two-micro-batch
    job.

    Source prep (mirrored EXACTLY by the DuckDB oracle): transcripts with
    deterministic intra-conversation quiet periods injected — ts' = ts +
    1h * (turn_idx div 7), so a 25-turn conversation splits into 4
    sessions at gap=30min. Split at cutoff = max(ts') - 2h into batches
    (A: ts' < cutoff) then B; no row is ever late (every B row sits above
    the batch-B watermark max(ts' in A) - 45min). Emitted sessions =
    every non-final session of a conversation (closed by its successor)
    plus final sessions with session_end + gap < max(ts') - 45min (closed
    by event-time timeout in the availableNow no-data batch)."""
    import datetime as _dt

    from otlp_cardinality_checker_spark.datagen import ensure_dataset
    from otlp_cardinality_checker_spark.streaming.stream import (
        sessionize_stream,
    )

    data_dir = ensure_dataset(sf_dir)
    turns = (
        spark.read.parquet(str(data_dir / "transcripts.parquet"))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            F.expr(
                "ts + make_interval(0, 0, 0, 0, turn_idx div 7, 0, 0)"
            ).alias("ts"),
        )
    )
    tmax = turns.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cutoff = tmax - _dt.timedelta(hours=2)
    tmp = _stream_scratch("convsess_")
    src = tmp / "src"
    _write_microbatch_sources(
        src,
        [
            turns.where(F.col("ts") < F.lit(cutoff)),
            turns.where(F.col("ts") >= F.lit(cutoff)),
        ],
    )
    sessionize_stream(
        spark,
        str(src),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        gap="30 minutes",
        watermark="45 minutes",
    )
    return spark.read.parquet(str(tmp / "out" / "sessions"))


# --- sketch/ANN ops: non-SQL-expressible, driver records rows-only checks ---


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.dedup import minhash_near_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_near_dups(docs, min_jaccard=0.5)


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call curation summary (volume / lang mix / length quantiles /
    quality pass rate / exact-dup rate / token budget) in a stable
    long-form (section, metric, value) schema — every number composed
    from the package's existing primitives and reproduced exactly by one
    DuckDB oracle."""
    from otlp_cardinality_checker_spark.operators.card import dataset_card

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dataset_card(docs)


def q_card_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-snapshot regression check: full-outer diff of the dataset
    cards of two halves of the documents table (even vs odd doc_id) —
    shifted language mix, dup-rate spikes, moved length quantiles all
    surface as delta rows."""
    from otlp_cardinality_checker_spark.operators.card import card_diff

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return card_diff(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 documents for each of 4 fixed keyword queries —
    the corpus-audit / retrieval-decontamination lookup. One corpus
    tokenization; query terms broadcast; df from matched postings only;
    scores rounded to 4dp before ranking (cross-engine tie stability)."""
    from otlp_cardinality_checker_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, k=5)


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manku-style block-partitioned SimHash Hamming search (<= 3 bits):
    complete by the pigeonhole argument, equi-join on 16-bit blocks +
    XOR/popcount verify. Rows-only (signatures are xxhash64-based, not
    reproducible in DuckDB); pinned against an in-test brute-force
    all-pairs Hamming scan instead."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_hamming_pairs(docs, 3)


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.operators.dedup import (
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_signatures(docs)


def _embedding_dim(path: str) -> int:
    """Embedding dimensionality from ONE locally-read parquet row — no
    Spark job (emb.first() would schedule a cluster scan just to learn a
    constant of the fixture)."""
    import os

    import pyarrow.parquet as pq

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
    from otlp_cardinality_checker_spark.operators.similarity import lsh_topk

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
    from otlp_cardinality_checker_spark.operators.similarity import (
        ivf_fit,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, centroids = ivf_fit(emb, nlist=8)
    queries_df = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(assigned, centroids, queries_df, k=10, nprobe=3)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs on an id-sliced subset — the oracled
    verifier for the LSH-bucketed near-dup path."""
    from otlp_cardinality_checker_spark.operators.similarity import (
        embedding_near_dups_exact,
    )

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
    from otlp_cardinality_checker_spark.operators.graph import (
        attach_clusters,
    )
    from otlp_cardinality_checker_spark.operators.similarity import (
        embedding_near_dups_exact,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 200
    )
    pairs = embedding_near_dups_exact(emb, threshold=0.35)
    return attach_clusters(emb, "vec_id", pairs, src="id_a", dst="id_b")


def q_key_stats_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage HLL key stats (estimates: rows-only check; the
    <=10% band vs exact is asserted in tests/test_pipeline.py)."""
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    return key_stats(_routed(spark, sf_dir), exact=False)


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: first-failing-stage drop accounting."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        filter_funnel,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return filter_funnel(docs)



def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation job: quality filter (the funnel's `kept`
    predicate) -> deterministic stratified sample -> per-(lang, source)
    document and token accounting. One scan, two stacked filters (both
    pushdown-friendly), one hash-agg: the composition every training-data
    pipeline runs before mixing, as a single Spark job."""
    from otlp_cardinality_checker_spark.operators.sampling import hash_sample
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        passes_quality,
    )

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        _token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = docs.where(passes_quality())
    sampled = hash_sample(
        kept, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )
    n_tok = _token_count(F.col("text"))
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )



def q_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with QUALITY-based survivor selection: the longest
    member (token count; ties -> min doc_id) of each Jaccard cluster is
    kept — the production dedup policy, vs the min-id baseline of
    jaccard_clusters."""
    from otlp_cardinality_checker_spark.operators.graph import (
        jaccard_clusters,
        survivor_by_score,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        _token_count,
    )

    clustered = jaccard_clusters(docs, min_jaccard=0.2)
    scores = docs.select(
        "doc_id", _token_count(F.col("text")).alias("score")
    )
    return survivor_by_score(clustered, scores)



def q_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated n-gram fraction (memorization-risk audit)."""
    from otlp_cardinality_checker_spark.operators.dedup import dup_ngram_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_ngram_rate(docs)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2021 ExactSubstr
    semantics at token grain): per doc, maximal spans whose every k-token
    window recurs somewhere in the corpus, with exact covered-token
    counts via interval union. The oracle replays the identical k-gram
    md5 + window-count + interval-merge pipeline in SQL."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        duplicated_spans,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return duplicated_spans(docs, k=5)


def q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio (character-level repetitiveness /
    quality signal). Rows-only by design: DuckDB exposes no deflate, so
    no SQL oracle exists — correctness is pinned by the direct-zlib
    parity + closed-form extreme tests in tests/test_text_analysis.py."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        compression_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return compression_stats(docs)


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.7) source mixture weights: per-source
    token mass, raw vs alpha-flattened corpus shares, and the implied
    up/down-sampling factor — the XLM-R/mT5 data-mixing computation."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        mixture_weights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_weights(docs, alpha=0.7)


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc letter-distribution Shannon entropy (gibberish detector)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        char_entropy,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return char_entropy(docs)



def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the merge_asof operator Spark lacks): events enriched
    with the latest <= ts version of a per-type config history, then
    rolled up per (event_type, version). The config dim is synthesized
    deterministically (8 versions per type at 6-hour boundaries from
    min(ts)); the DuckDB oracle uses its native ASOF JOIN against the
    identically-generated dim."""
    from otlp_cardinality_checker_spark.operators.asof import asof_join

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
    from otlp_cardinality_checker_spark.operators.asof import interval_join

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
    from otlp_cardinality_checker_spark.operators.rollup import (
        rollup_hierarchy,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rollup_hierarchy(
        ev,
        ["event_type"],
        {"1h": 3600, "6h": 21600},
    )



def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events (first-seen day x day offset)."""
    from otlp_cardinality_checker_spark.operators.retention import (
        cohort_retention,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev, max_offset=14)



def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel signup -> view -> purchase."""
    from otlp_cardinality_checker_spark.operators.retention import (
        sequence_funnel,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sequence_funnel(ev, ("signup", "view", "purchase"))



def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram cross-entropy per document (perplexity filter)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        unigram_cross_entropy,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_cross_entropy(docs)



def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram cross-entropy per document — the order-2 perplexity
    filter (catches common-unigram token salad the unigram filter
    misses). Docs with < 2 tokens drop out by inner semantics."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        bigram_cross_entropy,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_cross_entropy(docs)



def q_transcript_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-health card: the transcripts-side dataset_card twin —
    volume/depth/gap/role/sink/severity/tool/loop sections in one stable
    (section, metric, value) frame, every number equal to the dedicated
    operator's output and the whole card one DuckDB oracle."""
    from otlp_cardinality_checker_spark.operators.card import (
        transcript_card,
    )

    return transcript_card(_routed(spark, sf_dir))



def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed {1,2}-gram LMs, arXiv:2302.03169):
    pool docs scored by ln p_target - ln p_source with target = the
    src0/src1 slice. The md5-bucket hash makes the weights bit-exact in
    DuckDB — a fully hash-checkable data-selection operator."""
    from otlp_cardinality_checker_spark.operators.importance import (
        dsir_log_weights,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_log_weights(docs, F.col("source").isin("src0", "src1"))



def q_loop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stuck-agent loop detection (§2.10 x transcripts): two
    contiguous turn_idx-range micro-batches each write a per-conversation
    run-summary partial; current_loops folds them with the run-length
    MONOID (boundary runs stitch when templates match null-safely) — the
    merged state is BIT-IDENTICAL to batch template_loops, so the oracle
    is the SAME truth-template SQL. A run-length state machine, not a
    union+sum sketch: the third hash-exact streaming/batch equivalence."""
    from otlp_cardinality_checker_spark.functions.masking import (
        with_template,
    )
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_loops,
        loop_stream,
    )

    # with_template: the r6 guarded stacked-projection mask chain —
    # row-identical to template_expr, ~35% cheaper on the mask passes
    turns = with_template(
        _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    ).select("conv_id", "turn_idx", "template")
    tmp = _stream_scratch("loopstream_")
    src = tmp / "src"
    # one masking pass: materialize the templated turns once, slice the
    # pandas frame (the 19-regexp template chain is the dominant cost;
    # three .where() branches would re-run it per batch)
    tpdf = turns.toPandas()
    # two contiguous slices: every conversation deeper than 12 turns
    # crosses the boundary, so the monoid stitch is exercised corpus-wide
    # (3-slice, absent-middle, and null-boundary cases are pinned in
    # tests/test_streaming.py); each extra micro-batch costs a full
    # trigger cycle (~2.5 s) in the synchronous gate
    _write_microbatch_sources(
        src,
        [tpdf[tpdf["turn_idx"] < 12], tpdf[tpdf["turn_idx"] >= 12]],
        ts_cols=(),
    )
    loop_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_loops(spark, str(tmp / "out"))



def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality scorer (model-based filter stage):
    per-(lang, source) pass rates + mean score at threshold 0.5."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_classifier(docs)



def q_tool_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool error attribution (error = next turn in the conversation
    is severity ERROR) ranked by the Wilson 95% lower bound."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        tool_error_attribution,
    )

    return tool_error_attribution(_routed(spark, sf_dir))



def q_template_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuck-agent loop detection: per-conversation runs of consecutive
    same-TEMPLATE turns (raw text almost never repeats; the masked shape
    does). Spark side masks live via template_expr; the oracle reads the
    datagen truth templates — the same cross-implementation pinning as
    template_stats."""
    from otlp_cardinality_checker_spark.functions.masking import (
        with_template,
    )
    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
    )

    turns = with_template(
        _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    ).select("conv_id", "turn_idx", "template")
    return template_loops(turns)



def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming corpus slice (doc_id % 5 >= 3)
    against the fingerprint store built from the prior slice — per-(lang,
    status) counts where status is dup_store / dup_batch / kept. The
    store-composition invariant is pinned in tests/test_dedup.py."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = docs.where(F.col("doc_id") % 5 < 3)
    incoming = docs.where(F.col("doc_id") % 5 >= 3)
    return incremental_dedup(incoming, fingerprint_store(seen))



def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing accounting: per-(shard,
    chunk) doc counts, carryover splits, and token fill at budget=256 over
    8 id-mod shards. Pure integer span arithmetic — bit-identical oracle."""
    from otlp_cardinality_checker_spark.operators.packing import (
        pack_sequences,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, budget=256, n_shards=8)



def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence vs the corpus token distribution."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        source_divergence,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_divergence(docs)



def q_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers (farthest-from-centroid members)."""
    from otlp_cardinality_checker_spark.operators.similarity import (
        label_outliers,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return label_outliers(emb, k=3)



def q_routed_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink multiset fingerprint of the routed rows — the north rule's
    routed-row-equality acceptance check as one aggregate (order-,
    partitioning-, and engine-independent)."""
    from otlp_cardinality_checker_spark.operators.checksum import (
        dataset_fingerprint,
    )

    routed = _routed(spark, sf_dir).select("sink", "conv_id", "turn_idx", "text")
    return dataset_fingerprint(routed, group_cols=["sink"])



def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates vs exact counts for every user_id
    value — a fully hash-checkable SKETCH: the md5-based hash family is
    bit-reproducible in DuckDB, so the oracle rebuilds the identical
    counter table (est_count >= exact_count always; equality whenever the
    value's d buckets are collision-free)."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        exploded_attrs,
    )
    from otlp_cardinality_checker_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    from otlp_cardinality_checker_spark.operators.checksum import (
        NULL_SENTINEL,
    )

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


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.15}
SAMPLE_DEFAULT_RATE = 0.1


def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink PII scan/redaction audit (uuid/email/ipv4/long-digit-run
    counts + distinct-text cardinality before/after redaction)."""
    from otlp_cardinality_checker_spark.operators.pii import pii_stats

    return pii_stats(_routed(spark, sf_dir))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sample audit: the DuckDB
    oracle reproduces the EXACT same sample membership (pinned by the
    sampled-id checksum), evidencing engine-portable reproducibility."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        stratified_sample_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample_stats(
        docs, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language over the documents corpus."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=5)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: best n-gram containment of each test-split
    document (source src10..src19) inside any train-split document."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        cross_split_containment,
    )

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
    from otlp_cardinality_checker_spark.operators.dedup import (
        ngram_novelty,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_novelty(docs, F.length(F.col("source")) >= 5, n=3)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: overlapping 64-token windows (overlap 16) per doc,
    with md5 chunk digests — integer-exact layout, zero exchanges."""
    from otlp_cardinality_checker_spark.operators.packing import (
        chunk_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key hot-value skew audit (two-stage argmax, no full-key sort)."""
    from otlp_cardinality_checker_spark.operators.aggregate import key_skew

    return key_skew(_routed(spark, sf_dir))


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_transcripts,
    )

    return load_transcripts(spark, sf_dir)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained on the corpus (40 merges learned from the
    distributed word histogram), then applied distributed: per-doc token
    counts.  Iterative argmax training has no cross-engine oracle —
    rows-only; correctness pinned by an independent second implementation
    in tests/test_bpe.py plus roundtrip/monotonicity invariants."""
    from otlp_cardinality_checker_spark.operators.bpe import (
        bpe_token_stats,
        bpe_train,
        word_histogram,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(word_histogram(docs), n_merges=40)
    return bpe_token_stats(docs, merges)


def q_attribution_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 STREAM-STREAM watermarked inner join run as a real
    Structured Streaming job: click events joined to purchase events of
    the same user within 30 minutes after them, both sides fed as two
    time-split micro-batches.  With watermark (2h) > horizon (30min) and
    time-split batches, no match can be evicted before its partner
    arrives, so the emitted pairs equal the batch join EXACTLY — the
    DuckDB oracle is the plain relational join."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        run_stream_stream_join,
    )

    # ONE Spark job builds all four fixture files: pull both sides to the
    # driver together (harness-scale, row-capped in the helper) and split
    # by type/cutoff in pandas
    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "user_id", "value", "ts")
        .where(F.col("event_type").isin("click", "purchase"))
        .toPandas()
    )
    import datetime as _dt

    cutoff = pdf["ts"].max() - _dt.timedelta(days=15)
    tmp = _stream_scratch("ssjoin_")
    for name, etype in (("clicks", "click"), ("purchases", "purchase")):
        side = pdf[pdf["event_type"] == etype]
        _write_microbatch_sources(
            tmp / name,
            [side[side["ts"] < cutoff], side[side["ts"] >= cutoff]],
        )
    run_stream_stream_join(
        spark,
        str(tmp / "clicks"),
        str(tmp / "purchases"),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        horizon="30 minutes",
        watermark="2 hours",
        shuffle_partitions=8,  # gate-scale state: 2 stores/partition/batch
    )
    res = spark.read.parquet(str(tmp / "out" / "joined"))
    return res.select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
        F.round(F.col("r_value"), 3).alias("purchase_value"),
    )


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (integer octave-quarter histogram):
    per-language p50/p90/p99 of document length from (group, bucket,
    count) partials — union+sum IS the merge, estimates deterministic
    integers (hash-oracle-safe), overshoot < 25% by construction."""
    from otlp_cardinality_checker_spark.operators.quantiles import (
        quantile_sketch,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantile_sketch(docs, "n_chars", (0.5, 0.9, 0.99), "lang")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals (top-bigram char
    mass, duplicated-bigram char mass, distinct-word ratio) — zero-shuffle
    row-local HOF computation; overlapping occurrences over-count shared
    characters by design, so degenerate loops score > 1."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        intra_doc_repetition,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return intra_doc_repetition(docs)


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization of per-user event streams (1-hour gap) —
    the batch twin of the streaming conv_sessions operator."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        sessionize,
    )

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
    from otlp_cardinality_checker_spark.operators.anomaly import volume_spikes

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = volume_spikes(ev, "event_type", trailing=6, z_threshold=3.0)
    return out.withColumn(
        "window_start",
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss"),
    )


def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact test-split membership of an 8-word prefix fingerprint in the
    train split, computed through the broadcast-Bloom prefilter (train side
    never shuffled; verify join restores exactness)."""
    from otlp_cardinality_checker_spark.operators.bloom import (
        exact_membership,
        prefix_fingerprint,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "prefix", prefix_fingerprint("text")
    )
    train = docs.where(F.length("source") < 5)
    test = docs.where(F.length("source") >= 5)
    return exact_membership(train, test, "prefix").select(
        "doc_id", "source", "prefix"
    )


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS deletion-neighborhood fuzzy join over distinct part names
    (Levenshtein <= 2). The oracle is the brute-force cross join — hash
    equality proves the bucketed algorithm equals the semantic spec."""
    from otlp_cardinality_checker_spark.operators.fuzzy import fuzzy_pairs

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return fuzzy_pairs(part, "p_name", 2)


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (PPS Poisson) sample audit of documents: inclusion
    probability proportional to n_chars, exact-integer thresholds, so the
    oracle reproduces the exact sample membership."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        pps_sample_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pps_sample_stats(docs, 100)


def q_tool_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call chain mining: consecutive tool pairs per conversation."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        tool_bigrams,
    )

    return tool_bigrams(_transcripts(spark, sf_dir))


def q_boilerplate_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-turn mining: normalized turn texts recurring across
    >= 3 distinct conversations (system prompts / templated greetings /
    stock errors) — the turn-grain dedup signal that doc-level dedup
    cannot see."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        boilerplate_turns,
    )

    return boilerplate_turns(_transcripts(spark, sf_dir), min_convs=3)


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: order-sensitive digest chain over
    (role, text) turns; only 32-char digests shuffle. Surfaces replayed /
    copy-pasted conversations invisible to turn- or doc-grain dedup."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_dedup,
    )

    return conv_dedup(_transcripts(spark, sf_dir))


def q_conv_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate conversations: capped inverted-index Jaccard over
    per-conversation turn-digest sets. The boilerplate cap is data-
    derived (turns shared by > clamp(1% of convs, 20, 50) conversations
    are dropped — they carry no dedup signal and would generate O(n^2)
    pairs), so the semantics are invariant under corpus growth while the
    absolute ceiling bounds per-digest pair fan-out. Pure composition
    with dedup.exact_jaccard."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_near_dups,
    )

    return conv_near_dups(
        _transcripts(spark, sf_dir), min_jaccard=0.3, max_df="auto"
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the token-length distribution per
    source vs the corpus (integer octave bins via bit length — no float
    log2 at bin boundaries; Laplace-smoothed over the corpus bin domain).
    The numeric-feature drift monitor complementing source_drift's
    vocabulary KL."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        psi_drift,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return psi_drift(docs, by="source")


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    set (nation, market segment, account-balance bucket): equivalence-
    class-size histogram with at-risk (k < 5) classification and row
    shares — the privacy-review companion to the PII redaction chain."""
    from otlp_cardinality_checker_spark.operators.pii import k_anonymity

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_k"),
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment", "bal_k"], k_threshold=5
    )


def q_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation audit at a 128-token budget: per
    conversation, how many trailing turns (and tokens) survive
    most-recent-first truncation, and whether history is lost."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        context_budget,
    )

    return context_budget(_transcripts(spark, sf_dir), budget_tokens=128)


def q_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable data-mixing budget (30k tokens, alpha=0.7): per-source
    allocation, epochs, oversample flag, and the deterministically
    downsampled kept set (md5-threshold membership, kept-id checksum)."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        data_budget,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return data_budget(docs, budget_tokens=30000, alpha=0.7)


def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (test_share=0.2): near-dup clusters
    (exact Jaccard >= 0.2 -> connected components) assigned to splits by
    an md5 threshold on the CLUSTER id, so no near-dup pair can cross the
    split. Oracle replays the recursive-CTE closure + the same hash."""
    from otlp_cardinality_checker_spark.operators.graph import (
        split_assignment,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_assignment(docs, test_share=0.2, min_jaccard=0.2)


def q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example extraction: one (prompt, response) pair per assistant
    turn, prompt = up to 8 preceding turns rendered 'role: text' and
    newline-joined inside a bounded sliding frame."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        sft_pairs,
    )

    return sft_pairs(_transcripts(spark, sf_dir), context_turns=8)


def q_loss_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-assistant-only loss-mask spans: 1-based char offsets of
    each assistant turn's text inside the '<|role|>text\\n'-rendered
    conversation string, from cumulative integer arithmetic (never string
    search)."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        loss_mask_spans,
    )

    return loss_mask_spans(_transcripts(spark, sf_dir))


def q_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does user_id -> event_type hold on
    events (it should NOT — the violation accounting is the point)."""
    from otlp_cardinality_checker_spark.operators.quality import fd_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return fd_audit(ev, ["user_id"], "event_type")


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency power-law fit per source over the top-128
    token head: least-squares slope/intercept/r2 of ln(count)~ln(rank)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        zipf_fit,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs, by="source", top_n=128)


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code/structured-text share per role over the transcripts: exact
    symbol-ratio + assignment-token features, fixed linear score."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        code_detect,
    )

    return code_detect(_transcripts(spark, sf_dir), by="role")



def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard plan (1000-token shards over the global
    (source, doc_id) order) via the three-level hierarchical cumsum —
    must equal the oracle's flat global window cumsum bit-for-bit."""
    from otlp_cardinality_checker_spark.operators.packing import shard_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_plan(docs, budget=1000, block_size=64)



def q_winsorize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization impact audit on events.value per event_type:
    exact p01/p99 bounds + clipped-row/clipped-mass accounting."""
    from otlp_cardinality_checker_spark.operators.anomaly import (
        winsorize_audit,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return winsorize_audit(ev)



def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM sustained-shift monitor on hourly event volume per type,
    via the prefix-scan identity (running sum minus clamped running
    min) — bit-deterministic cross-engine by construction."""
    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cusum_drift(ev)


def q_norm_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-reveal dedup audit per role over the transcripts:
    digit-masked/lowercased dedup vs byte-exact dedup."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        norm_dedup_gain,
    )

    return norm_dedup_gain(_transcripts(spark, sf_dir), by="role")



def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric-quantization audit per label: reconstruction
    noise power and SNR — row-local folds, one agg, no explode."""
    from otlp_cardinality_checker_spark.operators.similarity import (
        embedding_quantization,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_quantization(vecs)



def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (subset/excerpt detector);
    max_df=None opt-in so the uncapped DuckDB oracle sees identical
    pair sets (operator default stays capped for web scale)."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return containment_pairs(
        word_shingles(docs), min_containment=0.5, max_df=None
    )



def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier audit on events.value per event_type
    (modified z-score, Iglewicz-Hoaglin 3.5 bar)."""
    from otlp_cardinality_checker_spark.operators.anomaly import (
        robust_outliers,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return robust_outliers(ev)



def q_pii_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII value propagation across conversation turns, per pattern
    class — staged extraction mirrors pii_scan's redaction contract."""
    from otlp_cardinality_checker_spark.operators.pii import (
        pii_propagation,
    )

    return pii_propagation(_transcripts(spark, sf_dir))



def q_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-8-token prefix duplication per role over the transcripts
    (shared-opener audit; md5-digest prefix grain)."""
    from otlp_cardinality_checker_spark.operators.dedup import prefix_dups

    return prefix_dups(_transcripts(spark, sf_dir), by="role", k=8)


def q_jaccard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative dedup-yield curve over Jaccard thresholds 0.1..0.9 in
    one pass; integer cross-multiplication thresholding, uncapped
    oracle opt-in (operator default stays capped)."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        jaccard_threshold_curve,
        word_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return jaccard_threshold_curve(word_shingles(docs), max_df=None)



def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 PMI collocations per source (min_count 5, marginals from
    the bigram table — one tokenization pass)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        pmi_bigrams,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_bigrams(docs, by="source", k=10, min_count=5)


def q_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup clustering (the dedup
    review's first chart: singleton-dominated = healthy)."""
    from otlp_cardinality_checker_spark.operators.graph import (
        cluster_size_hist,
        jaccard_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return cluster_size_hist(jaccard_clusters(docs, min_jaccard=0.2, n=3))



def q_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM: two ts-range micro-batches each write a
    (type, hour-bucket) count partial; sums merge bit-identically to the
    batch stage-1 frame, and the batch tail runs on the merged state —
    hashes against the SAME DuckDB oracle as the batch cusum_drift."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        cusum_stream,
        current_cusum,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id", "value", "ts"
    )
    tmp = _stream_scratch("cusumstream_")
    src = tmp / "src"
    _write_median_split(src, ev)
    cusum_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_cusum(spark, str(tmp / "out"))



def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP count-release audit per source (deterministic md5-seeded
    Laplace(1/eps) noise next to the true counts, eps=1)."""
    from otlp_cardinality_checker_spark.operators.pii import dp_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dp_counts(docs, by="source", epsilon=1.0)


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly top-5 token leaderboard over the transcripts."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        trending_terms,
    )

    return trending_terms(_transcripts(spark, sf_dir), k=5)



def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unbinned KS drift of token-length per source vs rest of
    corpus (triangular-join ECDFs on the bounded length grain)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        ks_drift,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ks_drift(docs, by="source")



def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fertility + chars/token under the 40-merge BPE table.
    Rows-only (iterative BPE training has no SQL oracle; pinned by the
    independent second trainer + closed-form fertility test)."""
    from otlp_cardinality_checker_spark.operators.bpe import (
        bpe_train,
        tokenizer_fertility,
        word_histogram,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(word_histogram(docs), n_merges=40)
    return tokenizer_fertility(docs, merges, by="source")



def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric column profile of lineitem (nulls, exact
    distincts, range, mean per column — the pre-join table health scan)."""
    from otlp_cardinality_checker_spark.operators.profile import (
        numeric_profile,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_partkey", "l_suppkey"]
    return numeric_profile(li, cols)



def q_spike_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause attribution of each event type's max-z volume window:
    top-5 user_id contributions by excess over the trailing rate."""
    from otlp_cardinality_checker_spark.operators.anomaly import (
        spike_attribution,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return spike_attribution(ev)



def q_tool_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool response-latency percentiles + 2s-SLO breach rate."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        tool_latency,
    )

    return tool_latency(_transcripts(spark, sf_dir), slo_seconds=2.0)


def q_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priced token accounting per role (fixed rate card)."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        cost_report,
    )

    return cost_report(_transcripts(spark, sf_dir), by="role")


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
    from otlp_cardinality_checker_spark.operators.sampling import (
        neyman_allocation,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return neyman_allocation(ev, budget=1000)


def q_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure dry-run: rows each table loses if every
    user_id % 97 == 7 subject is purged (the deterministic stand-in for
    a deletion-request batch)."""
    from otlp_cardinality_checker_spark.operators.quality import purge_audit

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    subjects = (
        ev.select(F.col("user_id").alias("subject_id"))
        .where(F.col("user_id") % 97 == 7)
        .distinct()
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return purge_audit(
        {"events": (ev, "user_id"), "orders": (orders, "o_custkey")},
        subjects,
    )



def q_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-pair separability over the embeddings: centroid distance +
    Fisher-style ratio against within-class scatter."""
    from otlp_cardinality_checker_spark.operators.similarity import (
        class_separability,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return class_separability(vecs)



def q_hopping_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-6h active users per 1h hop (exact distinct)."""
    from otlp_cardinality_checker_spark.operators.rollup import (
        hopping_distinct_users,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hopping_distinct_users(ev, size_seconds=21600, slide_seconds=3600)


def q_dup_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair evidence: first 3 shared trigram texts per
    qualifying pair (>= 0.5 Jaccard)."""
    from otlp_cardinality_checker_spark.operators.dedup import dup_evidence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dup_evidence(docs, min_jaccard=0.5, n=3, k_shingles=3)



def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5 weighted (A-ES) sample per source, n_chars-proportional,
    md5-deterministic."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        weighted_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, k=5, by="source", weight_col="n_chars")


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per doc, reduced to hashable
    scalars: position/fingerprint counts + integer checksum + the first
    three fingerprints as a string sample."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        winnow_fingerprints,
    )

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



def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language detector against the
    fixture's lang column, with per-cell share of the true class — the
    standard detector-evaluation view."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        language_id,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    det = language_id(docs).select("doc_id", "lang_detected")
    j = docs.select("doc_id", "lang").join(det, "doc_id")
    cell = j.groupBy("lang", "lang_detected").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("lang").agg(F.sum("n_docs").alias("n_true"))
    return cell.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_detected",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_true"), 6).alias("share_of_true"),
    )


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


def q_trending_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending terms: two ts-range micro-batches write
    (bucket, token) count partials; sums merge + the batch rank tail —
    hashes against the SAME oracle as the batch trending_terms."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_trending,
        trending_stream,
    )

    turns = _transcripts(spark, sf_dir)
    tmp = _stream_scratch("trendstream_")
    src = tmp / "src"
    _write_median_split(src, turns)
    trending_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_trending(spark, str(tmp / "out"), k=5)


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor of hourly volume per event type."""
    from otlp_cardinality_checker_spark.operators.anomaly import burstiness

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return burstiness(ev)



def q_ri_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-wide referential-integrity scorecard over the TPC-H
    fixture edges (lineitem->orders/part/supplier, orders->customer,
    customer/supplier->nation, nation->region)."""
    from otlp_cardinality_checker_spark.operators.quality import ri_scorecard

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return ri_scorecard({
        "lineitem.orderkey": (li, "l_orderkey", o, "o_orderkey"),
        "lineitem.partkey": (li, "l_partkey",
                             spark.read.parquet(f"{sf_dir}/part.parquet"),
                             "p_partkey"),
        "lineitem.suppkey": (li, "l_suppkey", su, "s_suppkey"),
        "orders.custkey": (o, "o_custkey", c, "c_custkey"),
        "customer.nationkey": (c, "c_nationkey", n, "n_nationkey"),
        "supplier.nationkey": (su, "s_nationkey", n, "n_nationkey"),
        "nation.regionkey": (n, "n_regionkey", r, "r_regionkey"),
    })



def q_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass string column profile of the transcripts (nulls,
    empties, md5-distincts, length stats per column)."""
    from otlp_cardinality_checker_spark.operators.profile import (
        string_profile,
    )

    t = _transcripts(spark, sf_dir).select(
        "conv_id", "role", "text", "tool"
    )
    return string_profile(t, ["conv_id", "role", "text", "tool"])



def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-savings forecast of survivor-only dedup: per source, the
    bytes and docs dropped if only each near-dup cluster's survivor
    ships (jaccard_clusters' is_survivor contract)."""
    from otlp_cardinality_checker_spark.operators.graph import (
        jaccard_clusters,
    )

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


def q_verbosity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the assistant get terser or wordier as conversations deepen?
    Mean assistant token count per turn-depth bucket (0-1, 2-3, 4-5,
    6+), with the corpus mean via broadcast for a drift index."""
    t = _transcripts(spark, sf_dir)
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    a = t.where(F.col("role") == "assistant").select(
        F.least(F.floor(F.col("turn_idx") / 2), F.lit(3)).cast("int").alias(
            "depth_bucket"
        ),
        ntok.cast("long").alias("ntok"),
    )
    gb = a.groupBy("depth_bucket").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ntok").alias("s"),
    )
    tot = gb.agg(
        F.sum("s").alias("st"), F.sum("n_turns").alias("nt")
    )
    return gb.crossJoin(F.broadcast(tot)).select(
        "depth_bucket",
        "n_turns",
        F.round(F.col("s") / F.col("n_turns"), 4).alias("mean_tokens"),
        F.round(
            (F.col("s") / F.col("n_turns"))
            / (F.col("st") / F.col("nt")),
            6,
        ).alias("vs_corpus_mean"),
    )


def q_tool_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over tools: for tool pairs co-occurring
    in the same conversation, support and lift
    P(a,b)/(P(a)P(b)) over the conversation universe — integer counts
    only, so lift is bit-deterministic."""
    t = _transcripts(spark, sf_dir)
    ct = (
        t.where(F.col("tool").isNotNull())
        .select("conv_id", "tool")
        .distinct()
    )
    n_convs = t.select("conv_id").distinct().count()
    a = ct.alias("a")
    b = ct.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.tool") < F.col("b.tool")),
        )
        .groupBy(F.col("a.tool").alias("tool_a"), F.col("b.tool").alias("tool_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    single = ct.groupBy("tool").agg(F.count(F.lit(1)).alias("n"))
    return (
        pair.where(F.col("n_both") >= 50)
        .join(
            F.broadcast(single.withColumnsRenamed({"tool": "tool_a", "n": "na"})),
            "tool_a",
        )
        .join(
            F.broadcast(single.withColumnsRenamed({"tool": "tool_b", "n": "nb"})),
            "tool_b",
        )
        .select(
            "tool_a",
            "tool_b",
            "n_both",
            F.round(F.col("n_both") / F.lit(float(n_convs)), 6).alias(
                "support"
            ),
            F.round(
                (F.col("n_both").cast("double") * F.lit(float(n_convs)))
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
    )



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



def q_corpus_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — the corpus-
    balance inequality number (0 = perfectly even mixture, ->1 = one
    source dominates). Exact mean-absolute-difference form
    ``G = sum_ij |x_i - x_j| / (2 n^2 mu)`` over the tiny source-grain
    frame (O(S^2) pairs — the triangular-join idiom), so no sorting or
    rank windows; one row out with the per-source masses' summary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    g = docs.groupBy("source").agg(F.sum(ntok).alias("x"))
    a = g.alias("a")
    b = g.alias("b")
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.abs(F.col("a.x") - F.col("b.x"))).alias("sad"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").alias("total_tokens"),
        F.max("x").alias("max_tokens"),
        F.min("x").alias("min_tokens"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "n_sources",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.round(
            F.col("sad").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_sources").cast("double")
                * F.col("total_tokens").cast("double")
            ),
            6,
        ).alias("gini"),
    )



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


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable epoch schedule under a 60k-token temperature budget:
    one row per (doc, epoch) read, full epochs + md5-threshold tail."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        epoch_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return epoch_plan(docs, budget_tokens=60000, alpha=0.7)


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square language-mix drift per source vs the corpus."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        chi2_drift,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chi2_drift(docs, cat="lang", by="source")


def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health audit: per-vector dim / L2 norm / degenerate
    flags — pure scan projection, zero exchanges."""
    from otlp_cardinality_checker_spark.operators.similarity import (
        embedding_health,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_health(vecs)


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group duplicate-leakage matrix over canonical turn-text
    fingerprints, grouped by ROLE (the documents fixture has no exact
    cross-source duplicates — the honest zero — while boilerplate turns
    genuinely recur across roles): (source_a, source_b, n_shared)."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        dup_source_matrix,
    )

    return dup_source_matrix(_transcripts(spark, sf_dir), by="role")


def q_conv_outcomes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-outcome rollup: last-turn severity per conversation
    with depth/tool/first-error enrichments."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_outcomes,
    )

    return conv_outcomes(_routed(spark, sf_dir))


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the customer table: same QI set as
    k_anonymity, sensitive attribute = market segment re-identified
    through (nation, balance bucket) classes; (k, l) histogram with
    at-risk (l < 2) homogeneity classification."""
    from otlp_cardinality_checker_spark.operators.pii import l_diversity

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_k"),
        "c_mktsegment",
    )
    return l_diversity(
        cust, ["c_nationkey", "bal_k"], "c_mktsegment", l_threshold=2
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-Kincaid readability from exact integer
    word/sentence/vowel-group counts."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        readability_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return readability_stats(docs, by="source")


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary growth: token/type mass, TTR, hapax share."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        vocab_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_stats(docs, by="source")


def q_response_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refusal/failure marker audit per (role, marker), zero rows kept."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        response_markers,
    )

    return response_markers(_transcripts(spark, sf_dir))


def q_markers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming marker audit: two ts-range micro-batches each write a
    (role, marker) counter partial; both counters are plain sums so the
    merged state is bit-identical to the batch audit — hashes against
    the SAME DuckDB oracle as the batch response_markers."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_markers,
        markers_stream,
    )

    turns = _transcripts(spark, sf_dir)
    tmp = _stream_scratch("markstream_")
    src = tmp / "src"
    _write_median_split(src, turns)
    markers_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_markers(spark, str(tmp / "out"))


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair builder: assistant responses grouped by the
    masked template of their preceding user turn; chosen/rejected by the
    tie-free (score, conv_id, turn_idx) key."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        preference_pairs,
    )

    return preference_pairs(_transcripts(spark, sf_dir))


def q_echo_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-parroting audit: distinct-token echo share of each
    assistant turn vs its 8-turn context window."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        echo_rate,
    )

    return echo_rate(_transcripts(spark, sf_dir), context_turns=8)


def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: exact integer cumulative-rank-share stages
    (k=4) over the whitespace-token difficulty score; ties share a
    stage, assignment is partitioning-invariant."""
    from otlp_cardinality_checker_spark.operators.curriculum import (
        curriculum_stages,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curriculum_stages(docs, n_stages=4)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency audit for length-grouped batching at
    boundaries (32, 64, 128, 256): per-bucket doc/token mass, pad-token
    waste, truncation count."""
    from otlp_cardinality_checker_spark.operators.curriculum import (
        length_buckets,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_buckets(docs, boundaries=(32, 64, 128, 256))


def q_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k=50 per language):
    md5-permutation ranks via the salted two-stage top-k, membership a
    pure function of (ids, salt)."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        fixed_k_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fixed_k_sample(docs, k=50, stratum_col="lang")


def q_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows (1 h size, 15 min slide): per-window
    per-type counts and value sums — the trailing-hour SLO panel shape,
    streaming-compatible by construction."""
    from otlp_cardinality_checker_spark.operators.rollup import (
        hopping_window_stats,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hopping_window_stats(
        ev, size_seconds=3600, slide_seconds=900
    )


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition stochastic matrix over consecutive turns."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        role_transitions,
    )

    return role_transitions(_transcripts(spark, sf_dir))


def q_conv_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-depth histogram (turns per conversation)."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_depth_stats,
    )

    return conv_depth_stats(_transcripts(spark, sf_dir))


def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role exact p50/p90/p99 of the inter-turn gap (seconds)."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        turn_gap_percentiles,
    )

    return turn_gap_percentiles(_transcripts(spark, sf_dir))


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent users (count > n/150) over the events stream via the
    two-pass MG-candidates + verify-scan operator — bounded memory at any
    user cardinality, exact output."""
    from otlp_cardinality_checker_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return heavy_hitters(events, "user_id", k=150)


def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate over the raw transcripts table: 9 declarative
    constraints (completeness, PK uniqueness, domain, regex, bounds, row
    count, referential integrity vs tool_dim) evaluated in ONE scan.
    `tool_short` deliberately fails (tool_19 has two digits) so the oracle
    hash also covers a failed row."""
    from otlp_cardinality_checker_spark.datagen import ROLES
    from otlp_cardinality_checker_spark.operators import quality as Q
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_dims,
        load_transcripts,
    )

    turns = load_transcripts(spark, sf_dir)
    _, tool_dim = load_dims(spark, sf_dir)
    return Q.constraint_audit(
        turns,
        [
            Q.complete("conv_complete", "conv_id"),
            Q.complete("text_complete", "text"),
            Q.unique("pk_unique", "conv_id", "turn_idx"),
            Q.in_domain("role_domain", "role", list(ROLES)),
            Q.matches("tool_short", "tool", r"^tool_\d$"),
            Q.min_value("turn_nonneg", "turn_idx", 0.0),
            Q.min_value("ts_after_2025", "ts", 1735689600.0),
            Q.row_count("nonempty", 1.0),
            Q.ref_integrity("tool_ri", "tool", tool_dim, "tool"),
        ],
    )


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse->enrich->route->aggregate at sf0.001."""
    return _key_stats_exact(spark, SF001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Entry order carries no meaning: every entry is run and checked.
    return {
        "sft_pairs": q_sft_pairs,
        "loss_spans": q_loss_spans,
        "curriculum_stages": q_curriculum_stages,
        "length_buckets": q_length_buckets,
        "echo_rate": q_echo_rate,
        "preference_pairs": q_preference_pairs,
        "vocab_stats": q_vocab_stats,
        "response_markers": q_response_markers,
        "markers_stream": q_markers_stream,
        "l_diversity": q_l_diversity,
        "readability": q_readability,
        "conv_outcomes": q_conv_outcomes,
        "dup_source_matrix": q_dup_source_matrix,
        "embedding_health": q_embedding_health,
        "chi2_drift": q_chi2_drift,
        "epoch_plan": q_epoch_plan,
        "fd_audit": q_fd_audit,
        "zipf_fit": q_zipf_fit,
        "code_detect": q_code_detect,
        "shard_plan": q_shard_plan,
        "winsorize_audit": q_winsorize_audit,
        "cusum_drift": q_cusum_drift,
        "norm_dedup_gain": q_norm_dedup_gain,
        "embedding_quantization": q_embedding_quantization,
        "containment_pairs": q_containment_pairs,
        "robust_outliers": q_robust_outliers,
        "pii_propagation": q_pii_propagation,
        "prefix_dups": q_prefix_dups,
        "jaccard_curve": q_jaccard_curve,
        "pmi_bigrams": q_pmi_bigrams,
        "cluster_size_hist": q_cluster_size_hist,
        "cusum_stream": q_cusum_stream,
        "dp_counts": q_dp_counts,
        "trending_terms": q_trending_terms,
        "ks_drift": q_ks_drift,
        "tokenizer_fertility": q_tokenizer_fertility,
        "numeric_profile": q_numeric_profile,
        "spike_attribution": q_spike_attribution,
        "tool_latency": q_tool_latency,
        "cost_report": q_cost_report,
        "type_correlation": q_type_correlation,
        "seasonality_profile": q_seasonality_profile,
        "neyman_allocation": q_neyman_allocation,
        "purge_audit": q_purge_audit,
        "class_separability": q_class_separability,
        "hopping_distinct_users": q_hopping_distinct_users,
        "dup_evidence": q_dup_evidence,
        "weighted_sample": q_weighted_sample,
        "winnow_fingerprints": q_winnow_fingerprints,
        "lang_confusion": q_lang_confusion,
        "decayed_counts": q_decayed_counts,
        "trending_stream": q_trending_stream,
        "burstiness": q_burstiness,
        "ri_scorecard": q_ri_scorecard,
        "string_profile": q_string_profile,
        "dedup_savings": q_dedup_savings,
        "verbosity_drift": q_verbosity_drift,
        "tool_lift": q_tool_lift,
        "label_balance": q_label_balance,
        "corpus_gini": q_corpus_gini,
        "daily_value_percentiles": q_daily_value_percentiles,
        "constraint_audit": q_constraint_audit,
        "heavy_hitters": q_heavy_hitters,
        "tool_bigrams": q_tool_bigrams,
        "role_transitions": q_role_transitions,
        "conv_depth_stats": q_conv_depth_stats,
        "turn_gaps": q_turn_gaps,
        "bloom_contamination": q_bloom_contamination,
        "volume_spikes": q_volume_spikes,
        "user_sessions": q_user_sessions,
        "repetition_stats": q_repetition_stats,
        "quantile_sketch": q_quantile_sketch,
        "attribution_join_stream": q_attribution_join_stream,
        "bpe_tokens": q_bpe_tokens,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "pps_sample": q_pps_sample,
        "quantile_stream": q_quantile_stream,
        "cms_events_stream": q_cms_events_stream,
        "simhash_hamming": q_simhash_hamming,
        "dataset_card": q_dataset_card,
        "card_diff": q_card_diff,
        "bm25_search": q_bm25_search,
        "bigram_perplexity": q_bigram_perplexity,
        "pack_sequences": q_pack_sequences,
        "dedup_incremental": q_dedup_incremental,
        "template_loops": q_template_loops,
        "tool_errors": q_tool_errors,
        "quality_classifier": q_quality_classifier,
        "loop_stream": q_loop_stream,
        "dsir_weights": q_dsir_weights,
        "transcript_card": q_transcript_card,
        "dup_spans": q_dup_spans,
        "boilerplate_turns": q_boilerplate_turns,
        "mixture_weights": q_mixture_weights,
        "compression_stats": q_compression_stats,
        "card_stream": q_card_stream,
        "ngram_novelty": q_ngram_novelty,
        "chunk_docs": q_chunk_docs,
        "conv_dedup": q_conv_dedup,
        "conv_near_dups": q_conv_near_dups,
        "psi_drift": q_psi_drift,
        "k_anonymity": q_k_anonymity,
        "context_budget": q_context_budget,
        "data_budget": q_data_budget,
        "hopping_windows": q_hopping_windows,
        "fixed_k_sample": q_fixed_k_sample,
        "split_assignment": q_split_assignment,
        "route_counts": q_route_counts,
        "routed_fingerprint": q_routed_fingerprint,
        "key_stats_exact": q_key_stats_exact,
        "session_merge": q_session_merge,
        "template_stats": q_template_stats,
        "attribute_catalog": q_attribute_catalog,
        "watched_values": q_watched_values,
        "active_series_exact": q_active_series_exact,
        "session_diff": q_session_diff,
        "severity_counts": q_severity_counts,
        "service_stats": q_service_stats,
        "high_cardinality": q_high_cardinality,
        "complexity": q_complexity,
        "template_topk": q_template_topk,
        "dedup_exact": q_dedup_exact,
        "metric_shapes": q_metric_shapes,
        "severity_pivot": q_severity_pivot,
        "severity_cube": q_severity_cube,
        "session_diff_filtered": q_session_diff_filtered,
        "service_diff": q_service_diff,
        "series_estimate": q_series_estimate,
        "enriched_tool_stats": q_enriched_tool_stats,
        "tool_detail": q_tool_detail,
        "paginated_keys": q_paginated_keys,
        "pattern_services": q_pattern_services,
        "service_overview": q_service_overview,
        "attribute_services": q_attribute_services,
        "pattern_detail": q_pattern_detail,
        "series_estimate_observed": q_series_estimate_observed,
        "logs_by_service": q_logs_by_service,
        "service_attributes": q_service_attributes,
        "log_patterns_filtered": q_log_patterns_filtered,
        "attribute_telemetry": q_attribute_telemetry,
        "event_funnel": q_event_funnel,
        "events_windowed_stream": q_events_windowed_stream,
        "dedup_stream": q_dedup_stream,
        "conv_sessions": q_conv_sessions,
        "events_json_props": q_events_json_props,
        "language_id": q_language_id,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "dup_ngram_rate": q_dup_ngram_rate,
        "doc_entropy": q_doc_entropy,
        "doc_perplexity": q_doc_perplexity,
        "source_drift": q_source_drift,
        "jaccard_clusters": q_jaccard_clusters,
        "quality_survivors": q_quality_survivors,
        "embedding_topk": q_embedding_topk,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_groups": q_simhash_groups,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "embedding_near_dups": q_embedding_near_dups,
        "label_outliers": q_label_outliers,
        "embedding_clusters": q_embedding_clusters,
        "key_stats_hll": q_key_stats_hll,
        "pii_stats": q_pii_stats,
        "stratified_sample": q_stratified_sample,
        "tfidf_terms": q_tfidf_terms,
        "filter_funnel": q_filter_funnel,
        "curation_pipeline": q_curation_pipeline,
        "contamination": q_contamination,
        "key_skew": q_key_skew,
        "cms_user_counts": q_cms_user_counts,
        "drain_templates": q_drain_templates,
        "drain_infer": q_drain_infer,
        "events_windowed": q_events_windowed,
        "sink_chat_turns": _sink_turns("chat"),
        "sink_error_turns": _sink_turns("error"),
        "sink_tool_call_turns": _sink_turns("tool_call"),
        "attribute_filter": q_attribute_filter,
        "attribute_filter_sorted": q_attribute_filter_sorted,
        "watched_prefix": q_watched_prefix,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_length_stats": q_doc_length_stats,
        "asof_enrich": q_asof_enrich,
        "interval_join": q_interval_join,
        "rollup_hierarchy": q_rollup_hierarchy,
        "cohort_retention": q_cohort_retention,
    }


def _metric_pts_sql() -> str:
    """Shared CTEs rebuilding metric_shapes.synthetic_metric_points (same
    deterministic length/modulo derivation — no engine-specific hash) and
    the per-metric shape union, over the pre-registered events view."""
    from otlp_cardinality_checker_spark.operators.metric_shapes import (
        BOUNDS_V0,
        BOUNDS_V1,
    )

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


_TEMPLATE_LOOPS_SQL = """
SELECT conv_id, CAST(sum(run_len) AS BIGINT) AS n_turns,
       count(*) AS n_runs,
       CAST(sum(run_len) - count(*) AS BIGINT) AS n_repeat_pairs,
       CAST(max(run_len) AS BIGINT) AS max_run,
       max(run_len) >= 3 AS flagged
FROM (
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
) GROUP BY 1
"""


def oracle_sql() -> dict[str, str]:
    # The driver's gate runs at sf0.01, so the pipeline-prefix CTEs default
    # to that scale's truth paths.  SPARK_GRAFT_ORACLE_SF lets the local
    # gate replica (scripts/check_oracle.py) re-point the prefix when
    # verifying at another scale (e.g. the sf0.1 scale-divergence pass).
    import os

    pre = _oracle_prefix(os.environ.get("SPARK_GRAFT_ORACLE_SF", SF01))

    def sink_turns_sql(sink: str) -> str:
        return (
            pre
            + f"SELECT conv_id, turn_idx, text FROM routed WHERE sink = '{sink}'"
        )

    key_stats_sql = (
        pre
        + """
, totals AS (SELECT sink, count(*) AS sink_rows FROM routed GROUP BY sink)
SELECT a.sink, a."key", count(*) AS count,
       count(DISTINCT a."value") AS est_cardinality,
       array_to_string((list_sort(list(DISTINCT a."value")))[1:10], '|') AS value_samples,
       max(CASE WHEN contains(a."value", '�') THEN 1 ELSE 0 END) AS has_invalid_utf8,
       round(count(*) * 100.0 / any_value(t.sink_rows), 4) AS pct
FROM rattrs a JOIN totals t ON a.sink = t.sink
GROUP BY a.sink, a."key"
"""
    )

    diff_sql = (
        pre
        + """
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
    )

    diff_filtered_sql = (
        diff_sql
        + "WHERE sink = 'chat' AND severity IN ('warning', 'critical')"
    )

    merge_sql = (
        pre
        + """
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
    )

    oracles = {
        "route_counts": pre
        + "SELECT sink, count(*) AS n_rows FROM routed GROUP BY sink",
        "sink_chat_turns": sink_turns_sql("chat"),
        "sink_error_turns": sink_turns_sql("error"),
        "sink_tool_call_turns": sink_turns_sql("tool_call"),
        "severity_counts": pre
        + "SELECT severity_inferred, count(*) AS n_rows FROM parsed GROUP BY severity_inferred",
        "service_stats": pre
        + """
SELECT sink, role, severity, count(*) AS sample_count,
       count(DISTINCT conv_id) AS n_conversations
FROM routed GROUP BY sink, role, severity
""",
        "key_stats_exact": key_stats_sql,
        "template_stats": pre
        + """
SELECT role, severity, template, count(*) AS count,
       arg_min(text, conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0')) AS example,
       round(count(*) * 100.0 /
             sum(count(*)) OVER (PARTITION BY role, severity), 4) AS pct
FROM rtruth GROUP BY role, severity, template
""",
        # tool_error_attribution (operators/conversation.py): next-turn
        # severity attribution + Wilson LB; 1.96*1.96 written as the
        # product so both engines fold the same IEEE double.
        "tool_errors": pre
        + """
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
""",
        # template_loops (operators/conversation.py): gaps-and-islands over
        # the truth templates — the same cross-implementation pinning as
        # template_stats (Spark masks live, DuckDB reads datagen truth).
        "template_loops": pre + _TEMPLATE_LOOPS_SQL,
        # transcript_card: every section recomputed from the same
        # definitions the dedicated operators hash-match (depth grain,
        # turn_gaps' epoch_us pairing, truth-template islands).
        "transcript_card": pre
        + """
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
""",
        # loop_stream: the streaming/batch equivalence IS the claim — the
        # monoid-merged state must hash-match the same batch truth SQL.
        "loop_stream": pre
        + _TEMPLATE_LOOPS_SQL,
        "attribute_catalog": pre
        + """
SELECT "key", count(*) AS count,
       count(DISTINCT "value") AS est_cardinality,
       array_to_string(list_sort(list(DISTINCT sink)), '|') AS signal_types,
       array_to_string((list_sort(list(DISTINCT "value")))[1:10], '|') AS value_samples,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       max(CASE WHEN contains("value", '�') THEN 1 ELSE 0 END) AS has_invalid_utf8
FROM rattrs GROUP BY "key"
""",
        "watched_values": pre
        + """
, freq AS (
  SELECT "key", "value", count(*) AS count
  FROM rattrs WHERE "key" IN ('user_id', 'tool_name')
  GROUP BY "key", "value"
)
SELECT "key", "value", count,
       CASE WHEN count(*) OVER (PARTITION BY "key") > 10000 THEN 1 ELSE 0 END AS overflow
FROM freq
QUALIFY row_number() OVER (PARTITION BY "key" ORDER BY count DESC, "value" ASC) <= 10000
""",
        "active_series_exact": pre
        + """
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
""",
        "high_cardinality": pre
        + """
, ks AS (
  SELECT sink, "key", count(*) AS count,
         count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY sink, "key"
)
SELECT sink, "key", count, est_cardinality FROM ks
WHERE est_cardinality >= 50
ORDER BY est_cardinality DESC, sink ASC, "key" ASC LIMIT 1000
""",
        "complexity": pre
        + """
, ks AS (
  SELECT sink, "key", count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY sink, "key"
)
SELECT sink, count(*) AS total_keys, max(est_cardinality) AS max_cardinality,
       CAST(sum(CASE WHEN est_cardinality >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         AS high_card_count,
       CAST(count(*) * max(est_cardinality) AS BIGINT) AS complexity_score
FROM ks GROUP BY sink
""",
        "session_diff": diff_sql,
        "session_diff_filtered": diff_filtered_sql,
        "service_diff": pre
        + """
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
""",
        "series_estimate": pre
        + f"""
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
""",
        "session_merge": merge_sql,
        "enriched_tool_stats": _oracle_prefix()
        + f"""
SELECT d.tool_family, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.is_privileged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_privileged,
       count(DISTINCT r.tool) AS n_tools
FROM routed r JOIN read_parquet('{_tool_dim_path()}') d ON r.tool = d.tool
GROUP BY d.tool_family
""",
        "tool_detail": _oracle_prefix()
        + f"""
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
""",
        "template_topk": pre
        + """
SELECT template, count(*) AS count FROM rtruth
GROUP BY template ORDER BY count DESC, template ASC LIMIT 20
""",
        "paginated_keys": pre
        + """
, ks AS (
  SELECT sink, "key", count(*) AS count FROM rattrs GROUP BY sink, "key"
)
SELECT sink, "key", count, rn FROM (
  SELECT *, row_number() OVER (ORDER BY sink ASC, "key" ASC) AS rn FROM ks
) WHERE rn > 5 AND rn <= 25
""",
        "routed_fingerprint": pre
        + """
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
""",
        "cms_user_counts": pre
        + """
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
""",
        "severity_pivot": pre
        + """
SELECT sink,
  CAST(sum(CASE WHEN severity = 'DEBUG' THEN 1 ELSE 0 END) AS BIGINT) AS n_debug,
  CAST(sum(CASE WHEN severity = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
  CAST(sum(CASE WHEN severity = 'INFO' THEN 1 ELSE 0 END) AS BIGINT) AS n_info,
  CAST(sum(CASE WHEN severity = 'UNSET' THEN 1 ELSE 0 END) AS BIGINT) AS n_unset,
  CAST(sum(CASE WHEN severity = 'WARN' THEN 1 ELSE 0 END) AS BIGINT) AS n_warn
FROM routed GROUP BY sink
""",
        "severity_cube": pre
        + """
SELECT sink, severity, count(*) AS n_turns,
       GROUPING(sink, severity) AS gid
FROM routed GROUP BY CUBE (sink, severity)
""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, count(*) AS n_copies,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
""",
        "text_quality": """
SELECT doc_id,
  length(text) AS n_chars_actual,
  length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS n_tokens,
  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS alpha_ratio,
  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS digit_ratio,
  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS punct_ratio
FROM documents
""",
        "token_counts": """
SELECT lang,
  count(*) AS n_docs,
  CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS total_tokens,
  CAST(max(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS max_tokens
FROM documents GROUP BY lang
""",
        "doc_length_stats": """
WITH n AS (
  SELECT lang,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS nt
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 4) AS p90_tokens,
       round(quantile_cont(nt, 0.99), 4) AS p99_tokens,
       round(avg(nt), 4) AS mean_tokens
FROM n GROUP BY lang
""",
        "doc_fingerprints": """
SELECT doc_id,
  md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
        "pattern_services": pre
        + """
SELECT template, count(*) AS count,
       array_to_string(list_sort(list(DISTINCT service)), '|') AS services,
       count(DISTINCT service) AS n_services
FROM rtruth GROUP BY template
""",
        "attribute_telemetry": pre
        + """
SELECT "key", sink, count(*) AS count, count(DISTINCT "value") AS n_values
FROM rattrs WHERE "key" IN ('user_id', 'trace_id')
GROUP BY "key", sink
""",
        "service_overview": pre
        + """
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
""",
        "attribute_services": pre
        + """
SELECT "key", service, sink, count(*) AS count,
       count(DISTINCT "value") AS n_values
FROM rattrs WHERE "key" IN ('user_id', 'trace_id', 'tool_name')
GROUP BY "key", service, sink
""",
        "logs_by_service": pre
        + """
, agg AS (
  SELECT service, severity, count(*) AS sample_count
  FROM routed GROUP BY service, severity
)
SELECT service, severity, sample_count FROM (
  SELECT *, row_number() OVER (ORDER BY service ASC, severity ASC) AS rn
  FROM agg
) WHERE rn > 1 AND rn <= 9
""",
        "service_attributes": pre
        + """
SELECT service, count(DISTINCT "key") AS n_keys,
       array_to_string(list_sort(list(DISTINCT "key")), '|')
         AS attribute_keys
FROM rattrs GROUP BY service
""",
        "log_patterns_filtered": pre
        + """
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
""",
        "metric_shapes": _metric_pts_sql()
        + """
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
""",
        "series_estimate_observed": _metric_pts_sql()
        + """
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
""",
        "pattern_detail": pre
        + """
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
""",
        "attribute_filter": pre
        + """
, cat AS (
  SELECT "key", count(*) AS count, count(DISTINCT "value") AS est_cardinality
  FROM rattrs GROUP BY "key"
)
SELECT "key", count, est_cardinality, rn FROM (
  SELECT *, row_number() OVER (
    ORDER BY est_cardinality DESC, "key" ASC) AS rn
  FROM cat WHERE est_cardinality BETWEEN 5 AND 1000
) WHERE rn > 2 AND rn <= 12
""",
        "attribute_filter_sorted": pre
        + """
, cat AS (
  SELECT "key", count(*) AS count, count(DISTINCT "value") AS est_cardinality,
         array_to_string(list_sort(list(DISTINCT sink)), '|') AS signal_types
  FROM rattrs GROUP BY "key"
)
SELECT "key", count, est_cardinality, signal_types, rn FROM (
  SELECT *, row_number() OVER (ORDER BY lower("key") ASC, "key" ASC) AS rn
  FROM cat WHERE list_contains(string_split(signal_types, '|'), 'tool_call')
) WHERE rn <= 5
""",
        "watched_prefix": pre
        + """
SELECT "key", "value", count(*) AS count
FROM rattrs WHERE "key" = 'user_id' AND "value" LIKE '1%'
GROUP BY "key", "value"
ORDER BY count DESC, "value" ASC LIMIT 20
""",
        "asof_enrich": """
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
""",
        "interval_join": """
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
""",
        "rollup_hierarchy": """
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
""",
        "cohort_retention": """
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
""",
        "event_funnel": """
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
""",
        "events_windowed": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
        "events_windowed_stream": """
WITH b AS (SELECT max(ts) AS tmax FROM events),
w AS (
  SELECT date_trunc('hour', ts) AS ws, event_type,
         count(*) AS n_events, round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type, n_events, total_value
FROM w, b
WHERE ws + INTERVAL 1 HOUR <= tmax - INTERVAL 30 MINUTE
""",
        "dedup_stream": """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
)
SELECT doc_id, md5(text) AS text_hash,
  CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT)
    AS is_first
FROM corpus
""",
        "conv_sessions": f"""
WITH src AS (
  SELECT conv_id, turn_idx, tool,
         ts + to_hours(CAST(turn_idx // 7 AS BIGINT)) AS ts
  FROM read_parquet('{_transcripts_path()}')
), m AS (SELECT max(ts) AS tmax FROM src),
l AS (
  SELECT conv_id, turn_idx, tool, ts,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM src
), s AS (
  SELECT conv_id, tool, ts,
         sum(CASE WHEN prev IS NULL OR ts - prev > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM l
), agg AS (
  SELECT conv_id, sid,
         min(ts) AS s_start, max(ts) AS s_end,
         CAST(count(*) AS BIGINT) AS n_turns,
         CAST(count(tool) AS BIGINT) AS n_tool_calls
  FROM s GROUP BY 1, 2
), mx AS (SELECT conv_id, max(sid) AS max_sid FROM agg GROUP BY 1)
SELECT a.conv_id,
       strftime(a.s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(a.s_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       a.n_turns, a.n_tool_calls
FROM agg a JOIN mx ON a.conv_id = mx.conv_id CROSS JOIN m
WHERE a.sid < mx.max_sid
   OR a.s_end + INTERVAL 30 MINUTE < m.tmax - INTERVAL 45 MINUTE
""",
        "events_json_props": """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
FROM events GROUP BY event_type
""",
        "language_id": _language_id_sql(),
        "ngram_jaccard": """
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
""",
        "ngram_jaccard_capped": """
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
""",
        "jaccard_clusters": """
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
""",
        "quality_survivors": """
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
""",
        "embedding_topk": """
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
""",
        "label_outliers": """
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
""",
        "embedding_near_dups": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(
         CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND round(list_cosine_similarity(
        CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6)
      >= 0.35
""",
        "embedding_clusters": """
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
""",
        "pii_stats": pre + _pii_stats_sql(),
        "filter_funnel": _filter_funnel_sql(),
        "doc_entropy": _char_entropy_sql(),
        "source_drift": """
WITH ex AS (
  SELECT source, t AS term FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 1
), st AS (SELECT source, term, count(*) AS c FROM ex GROUP BY 1, 2),
corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS tc FROM st GROUP BY 1),
stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS s_total FROM st GROUP BY 1),
n AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total FROM corpus)
SELECT source, CAST(max(s_total) AS BIGINT) AS n_tokens,
       count(*) AS n_terms,
       round(sum((c / CAST(s_total AS DOUBLE))
                 * ln((c / CAST(s_total AS DOUBLE))
                      / (tc / CAST(n_total AS DOUBLE)))), 4)
         AS kl_divergence
FROM st JOIN corpus USING (term) JOIN stot USING (source) CROSS JOIN n
GROUP BY 1
""",
        "doc_perplexity": """
WITH ex AS (
  SELECT doc_id, lang, t AS term FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 1
), lm AS (SELECT term, count(*) AS tc FROM ex GROUP BY 1),
s AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total, count(*) AS v FROM lm)
SELECT doc_id, lang, count(*) AS n_tokens,
       round(avg(-ln((tc + 1) / CAST(n_total + v AS DOUBLE))), 4)
         AS cross_entropy
FROM ex JOIN lm USING (term) CROSS JOIN s
GROUP BY 1, 2
""",
        "dup_ngram_rate": """
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
""",
        "dup_spans": """
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
""",
        "mixture_weights": """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t, sum(pow(n_tokens, 0.7)) AS ta
  FROM per_src
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       round(n_tokens / t, 6) AS raw_share,
       round(pow(n_tokens, 0.7) / ta, 6) AS alpha_share,
       round((pow(n_tokens, 0.7) / ta) / (n_tokens * 1.0 / t), 4)
         AS upsample_factor
FROM per_src, tot
""",
        "curation_pipeline": _curation_pipeline_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "dataset_card": _dataset_card_sql(),
        "card_diff": f"""
WITH card_a AS ({_dataset_card_sql(
    "(SELECT * FROM documents WHERE doc_id % 2 = 0)")}),
card_b AS ({_dataset_card_sql(
    "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})
SELECT coalesce(a.section, b.section) AS section,
       coalesce(a.metric, b.metric) AS metric,
       a.value AS value_a, b.value AS value_b,
       round(b.value - a.value, 6) AS delta
FROM card_a a FULL OUTER JOIN card_b b
  ON a.section = b.section AND a.metric = b.metric
""",
        # DSIR importance weights (operators/importance.py): md5-prefix
        # hex -> int bucket hash (('0x'||…)::INTEGER == Spark conv(…,16,10));
        # add-one smoothing over the 1024-bucket space on both models.
        "dsir_weights": """
WITH t AS (
  SELECT doc_id, lang, source IN ('src0', 'src1') AS tgt,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS tk
  FROM documents
), uni AS (
  SELECT doc_id, lang, tgt, unnest(tk) AS gram FROM t
), bi AS (
  SELECT doc_id, lang, tgt, tk[i] || ' ' || tk[i + 1] AS gram
  FROM (SELECT doc_id, lang, tgt, tk,
               unnest(generate_series(1, length(tk) - 1)) AS i FROM t)
), ex AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
db AS (
  SELECT doc_id, lang, tgt,
         (('0x' || substr(md5(gram), 1, 4))::INTEGER) % 1024 AS b,
         count(*) AS c
  FROM ex GROUP BY 1, 2, 3, 4
),
tgtm AS (SELECT b, CAST(sum(c) AS BIGINT) AS tc FROM db WHERE tgt GROUP BY 1),
srcm AS (SELECT b, CAST(sum(c) AS BIGINT) AS sc FROM db WHERE NOT tgt GROUP BY 1),
tn AS (SELECT CAST(sum(tc) AS BIGINT) AS t_n FROM tgtm),
sn AS (SELECT CAST(sum(sc) AS BIGINT) AS s_n FROM srcm),
ratio AS (
  SELECT coalesce(tgtm.b, srcm.b) AS b,
         ln((coalesce(tc, 0) + 1) / CAST(t_n + 1024 AS DOUBLE))
         - ln((coalesce(sc, 0) + 1) / CAST(s_n + 1024 AS DOUBLE))
           AS log_ratio
  FROM tgtm FULL OUTER JOIN srcm ON tgtm.b = srcm.b
  CROSS JOIN tn CROSS JOIN sn
)
SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_grams,
       round(sum(c * log_ratio), 4) AS log_weight
FROM db JOIN ratio USING (b) WHERE NOT tgt
GROUP BY 1, 2
""",
        # Logistic quality classifier (text_analysis.quality_classifier):
        # features are the 4dp-rounded text_quality forms, weights written
        # in the exact Python fold order (bias + 4a - 6d - 3p + 0.5lt).
        "quality_classifier": """
WITH f AS (
  SELECT lang, source,
    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS alpha_ratio,
    round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS digit_ratio,
    round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS punct_ratio,
    ln(1.0 + (length(trim(text)) - length(replace(trim(text), ' ', ''))
              + 1)) AS lt
  FROM documents
), s AS (
  SELECT lang, source,
    1.0 / (1.0 + exp(-(-3.0 + 4.0 * alpha_ratio + -6.0 * digit_ratio
                       + -3.0 * punct_ratio + 0.5 * lt))) AS score
  FROM f
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  round(CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        / CAST(count(*) AS DOUBLE), 4) AS pass_rate,
  round(avg(score), 4) AS avg_score
FROM s GROUP BY 1, 2
""",
        # Incremental dedup vs fingerprint store (operators/dedup.py:
        # fingerprint_store/incremental_dedup): same canonical md5 as
        # doc_fingerprints; status precedence dup_store > dup_batch.
        "dedup_incremental": """
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
""",
        # Sequence packing (operators/packing.py): pure integer span
        # arithmetic; `//` on nonnegative BIGINTs == Spark `div`.
        "pack_sequences": """
WITH n AS (
  SELECT doc_id, doc_id % 8 AS shard,
         length(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                            x -> length(x) >= 1)) AS n
  FROM documents
), spans AS (
  SELECT shard,
         CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
         CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
           AS cum_before
  FROM n WHERE n > 0
), ex AS (
  SELECT shard, cum_before, cum_end,
         unnest(generate_series(cum_before // 256,
                                (cum_end - 1) // 256)) AS chunk
  FROM spans
)
SELECT shard, chunk,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN cum_before < chunk * 256 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_carryover,
       CAST(sum(least((chunk + 1) * 256, cum_end)
                - greatest(chunk * 256, cum_before)) AS BIGINT) AS n_tokens,
       CAST(sum(least((chunk + 1) * 256, cum_end)
                - greatest(chunk * 256, cum_before)) AS BIGINT) = 256 AS full
FROM ex GROUP BY 1, 2
""",
        # Bigram LM cross-entropy (text_analysis.bigram_cross_entropy):
        # bigrams via generate_series over the filtered token list (order
        # preserved by both engines' split+filter); V = distinct contexts,
        # derived from the LM frame exactly as the Spark plan does.
        "bigram_perplexity": """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS t
  FROM documents
), idx AS (
  SELECT doc_id, lang, t,
         unnest(generate_series(1, length(t) - 1)) AS i
  FROM toks
), ex AS (
  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2 FROM idx
), dt AS (
  SELECT doc_id, lang, w1, w2, count(*) AS c FROM ex GROUP BY 1, 2, 3, 4
), lm AS (
  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS bc FROM dt GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(bc) AS BIGINT) AS cc FROM lm GROUP BY 1
), s AS (SELECT count(*) AS v FROM ctx)
SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(sum(c * -ln((bc + 1) / CAST(cc + v AS DOUBLE))) / sum(c), 4)
         AS cross_entropy
FROM dt JOIN lm USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN s
GROUP BY 1, 2
""",
        # Okapi BM25 (operators/search.py): constants mirror the Spark
        # expression after Python folding — (1.0 - b) folds to 0.25
        # BEFORE entering the Column tree, so the SQL writes 0.25, not
        # (1 - 0.75); sum-over-terms is <= 3 doubles, absorbed by the
        # 4dp pre-rank rounding.
        "bm25_search": """
WITH q(query_id, term) AS (
  VALUES (1,'hash'),(1,'join'),(1,'merge'),
         (2,'fast'),(2,'scan'),(2,'filter'),
         (3,'stream'),(3,'window'),(3,'agg'),
         (4,'customer'),(4,'query'),(4,'table')
),
ex AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 2
),
dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY 1),
s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM ex
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         count(*) AS n_terms_matched,
         round(sum(
           ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
           * (tf / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))
         ), 4) AS score
  FROM tf JOIN q USING (term) JOIN dfr USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms_matched, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
        # Deliberately NOT the FastSS algorithm: the brute-force distinct-
        # name cross join is the semantic spec the bucketed Spark plan
        # must equal (operators/fuzzy.py docstring).
        "fuzzy_name_pairs": """
WITH nm AS (SELECT p_name AS s, count(*) AS freq FROM part GROUP BY p_name)
SELECT a.s AS name_a, b.s AS name_b, levenshtein(a.s, b.s) AS dist,
       a.freq AS freq_a, b.freq AS freq_b
FROM nm a JOIN nm b ON a.s < b.s AND levenshtein(a.s, b.s) <= 2
""",
        # Exact-integer PPS thresholds (operators/sampling.py): same
        # md5 -> 32-bit uniform, same div arithmetic, same %08x rendering.
        "pps_sample": """
WITH w AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents),
x AS (
  SELECT d.*,
    least(4294967296, (100 * n_chars * 4294967296) // w_total) AS t,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS u
  FROM documents d CROSS JOIN w
), y AS (
  SELECT *, CASE WHEN t >= 4294967296 OR u < printf('%08x', t)
                 THEN 1 ELSE 0 END AS keep
  FROM x
)
SELECT lang, count(*) AS n_total,
       CAST(sum(keep) AS BIGINT) AS n_sampled,
       CAST(sum(doc_id * keep) AS BIGINT) AS sampled_id_sum,
       CAST(sum(n_chars * keep) AS BIGINT) AS sampled_w_sum,
       round(CAST(sum(t) AS DOUBLE) / 4294967296, 4) AS expected_n
FROM y GROUP BY lang
""",
        "tfidf_terms": """
WITH ex AS (
  SELECT doc_id, lang, t AS term FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 3
), tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_total FROM documents)
SELECT lang, term, tf, df, score, rank FROM (
  SELECT lang, term, tf, df,
    round(tf * ln(CAST(n_total AS DOUBLE) / df), 4) AS score,
    row_number() OVER (
      PARTITION BY lang
      ORDER BY round(tf * ln(CAST(n_total AS DOUBLE) / df), 4) DESC,
               term ASC) AS rank
  FROM tf JOIN dfx USING (term) CROSS JOIN n
) WHERE rank <= 5
""",
        "contamination": """
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
""",
        "ngram_novelty": """
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
""",
        "chunk_docs": """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), meta AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE 1 + (len(t) - 64 + 47) // 48 END AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(u.ci AS BIGINT) AS chunk_idx,
       CAST(u.ci * 48 AS BIGINT) AS start_tok,
       CAST(least(64, n - u.ci * 48) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(
         t[u.ci * 48 + 1 : u.ci * 48 + least(64, n - u.ci * 48)], ' '))
         AS chunk_digest
FROM meta, unnest(range(n_chunks)) AS u(ci)
""",
        "key_skew": pre
        + """
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
""",
        "constraint_audit": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
m AS (
  SELECT
    round(count(conv_id)*1.0/count(*), 6) AS conv_complete,
    round(count(text)*1.0/count(*), 6) AS text_complete,
    round(count(DISTINCT (conv_id, turn_idx))*1.0/count(*), 6) AS pk_unique,
    round(sum(CASE WHEN role IN ('user','assistant','system','tool')
              THEN 1 ELSE 0 END)*1.0/count(role), 6) AS role_domain,
    round(sum(CASE WHEN regexp_matches(tool, '^tool_\\d$')
              THEN 1 ELSE 0 END)*1.0/count(tool), 6) AS tool_short,
    round(min(turn_idx)*1.0, 6) AS turn_nonneg,
    round(min(epoch_us(ts)/1000000.0), 6) AS ts_after_2025,
    round(count(*)*1.0, 6) AS nonempty,
    round(sum(CASE WHEN tool IN (
                SELECT tool FROM read_parquet('{_tool_dim_path()}'))
              THEN 1 ELSE 0 END)*1.0/count(tool), 6) AS tool_ri
  FROM t
)
SELECT * FROM (
  SELECT 'conv_complete' AS constraint, 'completeness' AS kind,
         'conv_id' AS "column", conv_complete AS metric, 1.0 AS threshold,
         '>=' AS op, CASE WHEN conv_complete >= 1.0 THEN 1 ELSE 0 END AS passed
  FROM m
  UNION ALL SELECT 'text_complete', 'completeness', 'text', text_complete,
         1.0, '>=', CASE WHEN text_complete >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'pk_unique', 'uniqueness', 'conv_id,turn_idx', pk_unique,
         1.0, '>=', CASE WHEN pk_unique >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'role_domain', 'domain', 'role', role_domain,
         1.0, '>=', CASE WHEN role_domain >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'tool_short', 'pattern', 'tool', tool_short,
         1.0, '>=', CASE WHEN tool_short >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'turn_nonneg', 'min_value', 'turn_idx', turn_nonneg,
         0.0, '>=', CASE WHEN turn_nonneg >= 0.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'ts_after_2025', 'min_value', 'ts', ts_after_2025,
         1735689600.0, '>=',
         CASE WHEN ts_after_2025 >= 1735689600.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'nonempty', 'row_count', '', nonempty,
         1.0, '>=', CASE WHEN nonempty >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'tool_ri', 'ref_integrity', 'tool', tool_ri,
         1.0, '>=', CASE WHEN tool_ri >= 1.0 THEN 1 ELSE 0 END FROM m
)
""",
        "heavy_hitters": """
WITH n AS (SELECT count(user_id) AS n FROM events),
c AS (
  SELECT user_id, count(*) AS cnt FROM events
  WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT user_id AS value, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / n.n, 6) AS share
FROM c, n WHERE cnt * 150 > n.n
""",
        "tool_bigrams": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
chain AS (
  SELECT conv_id, turn_idx, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM t WHERE tool IS NOT NULL
),
c AS (
  SELECT prev_tool, tool, count(*) AS cnt
  FROM chain WHERE prev_tool IS NOT NULL GROUP BY 1, 2
)
SELECT prev_tool, tool, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / sum(cnt) OVER (), 6) AS share
FROM c
""",
        "boilerplate_turns": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         count(DISTINCT conv_id) AS n_convs,
         count(*) AS n_turns,
         min(substring(text, 1, 80)) AS example
  FROM t GROUP BY 1, 2
)
SELECT role, fingerprint, CAST(n_convs AS BIGINT) AS n_convs,
       CAST(n_turns AS BIGINT) AS n_turns, example
FROM g WHERE n_convs >= 3
""",
        "conv_near_dups": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
sh AS (
  SELECT conv_id,
         list_distinct(list(md5(role || chr(31) || text))) AS s
  FROM t GROUP BY 1
), inv0 AS (
  SELECT conv_id, unnest(s) AS d FROM sh
), cap AS (
  SELECT least(greatest(20, count(*) // 100), 50) AS c FROM sh
), hot AS (
  SELECT d FROM inv0, cap GROUP BY d, c HAVING count(*) > c
),
inv AS (SELECT inv0.* FROM inv0 ANTI JOIN hot USING (d)),
sizes AS (SELECT conv_id, count(*) AS n FROM inv GROUP BY 1),
pairs AS (
  SELECT l.conv_id AS conv_a, r.conv_id AS conv_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.d = r.d AND l.conv_id < r.conv_id
  GROUP BY 1, 2
), j AS (
  SELECT conv_a, conv_b, n_common,
         n_common * 1.0 / (sa.n + sb.n - n_common) AS raw
  FROM pairs
  JOIN sizes sa ON conv_a = sa.conv_id
  JOIN sizes sb ON conv_b = sb.conv_id
)
SELECT conv_a, conv_b, CAST(n_common AS BIGINT) AS n_common,
       round(raw, 6) AS jaccard
FROM j WHERE raw >= 0.3
""",
        "psi_drift": """
WITH d AS (
  SELECT source AS grp,
         length(bin(greatest(
           len(string_split_regex(trim(coalesce(text, '')), '\\s+')), 1
         ))) AS bin
  FROM documents
),
gb AS (SELECT grp, bin, count(*) AS c FROM d GROUP BY 1, 2),
corpus AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM gb GROUP BY 1),
gtot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_docs FROM gb GROUP BY 1),
tot AS (SELECT CAST(sum(cb) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_bins FROM corpus),
dom AS (SELECT * FROM gtot CROSS JOIN corpus CROSS JOIN tot),
j AS (
  SELECT dom.grp, dom.n_docs, dom.n_bins,
         (coalesce(gb.c, 0) + 0.5)
           / (dom.n_docs + 0.5 * dom.n_bins) AS q,
         (dom.cb + 0.5) / (dom.n_total + 0.5 * dom.n_bins) AS p
  FROM dom LEFT JOIN gb ON gb.grp = dom.grp AND gb.bin = dom.bin
)
SELECT grp AS source, max(n_docs) AS n_docs, max(n_bins) AS n_bins,
       round(sum((q - p) * ln(q / p)), 4) AS psi
FROM j GROUP BY 1
""",
        "k_anonymity": """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
         count(*) AS k
  FROM customer GROUP BY 1, 2, 3
),
hist AS (SELECT k, count(*) AS n_classes FROM cls GROUP BY 1),
tot AS (SELECT CAST(sum(k * n_classes) AS BIGINT) AS n_total FROM hist)
SELECT CAST(k AS BIGINT) AS k, CAST(n_classes AS BIGINT) AS n_classes,
       CAST(k * n_classes AS BIGINT) AS n_rows,
       k < 5 AS at_risk,
       round(k * n_classes * 1.0 / n_total, 6) AS row_share
FROM hist CROSS JOIN tot
""",
        "zipf_fit": """
WITH tok AS (
  SELECT source,
         unnest(list_filter(
           string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
           x -> x <> '')) AS t
  FROM documents
), grain AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT source, t, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, t ASC) AS r
  FROM grain
), top AS (
  SELECT source, c,
         ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE r <= 128
), s AS (
  SELECT source, count(*) AS n_top, CAST(sum(c) AS BIGINT) AS top_mass,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(x * y) AS sxy, sum(y * y) AS syy
  FROM top GROUP BY 1
)
SELECT source, n_top, top_mass,
  round(CASE WHEN n_top * sxx - sx * sx > 1e-9
             THEN (n_top * sxy - sx * sy) / (n_top * sxx - sx * sx)
        END, 6) AS zipf_slope,
  round((sy - CASE WHEN n_top * sxx - sx * sx > 1e-9
                   THEN (n_top * sxy - sx * sy) / (n_top * sxx - sx * sx)
              END * sx) / n_top, 6) AS zipf_intercept,
  round(CASE WHEN n_top * sxx - sx * sx > 1e-9
              AND n_top * syy - sy * sy > 1e-9
             THEN (n_top * sxy - sx * sy) * (n_top * sxy - sx * sy)
                  / ((n_top * sxx - sx * sx) * (n_top * syy - sy * sy))
        END, 6) AS r2
FROM s
""",
        "code_detect": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
f AS (
  SELECT role, trim(coalesce(text, '')) AS txt FROM t
), g AS (
  SELECT role,
         greatest(length(txt), 1) AS nc,
         len(regexp_extract_all(txt, '[{{}}\\[\\]();=<>]')) AS sym,
         list_filter(string_split_regex(txt, '\\s+'),
                     x -> x <> '') AS toks
  FROM f
), sc AS (
  SELECT role,
         6.0 * sym / nc
         + 1.5 * len(list_filter(toks,
                                 x -> contains(x, '=') OR suffix(x, ';')))
           / greatest(len(toks), 1) AS s
  FROM g
)
SELECT role, count(*) AS n_rows,
       CAST(sum(CASE WHEN s > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code,
       round(sum(CASE WHEN s > 0.25 THEN 1 ELSE 0 END) * 1.0 / count(*),
             6) AS code_share,
       round(avg(s), 6) AS avg_score
FROM sc GROUP BY 1
""",
        "shard_plan": """
WITH n AS (
  SELECT source, doc_id,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS ntok
  FROM documents
), c AS (
  SELECT source, ntok,
         sum(ntok) OVER (ORDER BY source, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - ntok AS doc_start
  FROM n
)
SELECT CAST(doc_start // 1000 AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS shard_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(doc_start) AS BIGINT) AS start_token,
       CAST(max(doc_start + ntok) AS BIGINT) AS end_token
FROM c GROUP BY 1
""",
        "winsorize_audit": """
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
""",
        "cusum_drift": """
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
""",
        "cusum_stream": """
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
""",
        "norm_dedup_gain": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         md5(coalesce(text, '')) AS rfp,
         md5(trim(regexp_replace(regexp_replace(
             lower(coalesce(text, '')), '[0-9]+', '#', 'g'),
             '\\s+', ' ', 'g'))) AS nfp
  FROM t
), a AS (
  SELECT role, count(*) AS n_rows,
         count(DISTINCT rfp) AS n_raw_distinct,
         count(DISTINCT nfp) AS n_norm_distinct
  FROM g GROUP BY 1
)
SELECT role, n_rows, n_raw_distinct, n_norm_distinct,
       round((n_rows - n_raw_distinct) * 1.0 / n_rows, 6)
         AS raw_dup_share,
       round((n_rows - n_norm_distinct) * 1.0 / n_rows, 6)
         AS norm_dup_share,
       round((n_raw_distinct - n_norm_distinct) * 1.0 / n_raw_distinct, 6)
         AS reveal_gain
FROM a
""",
        "embedding_quantization": """
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
""",
        "containment_pairs": """
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
""",
        "robust_outliers": """
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
""",
        "pii_propagation": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}'))
{_pii_propagation_sql()}
""",
        "prefix_dups": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
p AS (
  SELECT role,
         md5(array_to_string(
           list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), x -> x <> '')[1:8],
           ' ')) AS pfp
  FROM t
), g AS (
  SELECT role, pfp, count(*) AS c FROM p GROUP BY 1, 2
)
SELECT role,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_prefixes,
       round(1.0 - count(*) * 1.0 / sum(c), 6) AS prefix_dup_share,
       CAST(max(c) AS BIGINT) AS max_prefix_count
FROM g GROUP BY 1
""",
        "jaccard_curve": """
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
""",
        "pmi_bigrams": """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS t
  FROM documents
), idx AS (
  SELECT source, t, unnest(generate_series(1, length(t) - 1)) AS i
  FROM toks
), ex AS (
  SELECT source, t[i] AS w1, t[i + 1] AS w2 FROM idx
), grain AS (
  SELECT source, w1, w2, count(*) AS c12 FROM ex GROUP BY 1, 2, 3
), l AS (
  SELECT source, w1, CAST(sum(c12) AS BIGINT) AS cl
  FROM grain GROUP BY 1, 2
), r AS (
  SELECT source, w2, CAST(sum(c12) AS BIGINT) AS cr
  FROM grain GROUP BY 1, 2
), tt AS (
  SELECT source, CAST(sum(c12) AS BIGINT) AS nb FROM grain GROUP BY 1
), j AS (
  SELECT g.source, g.w1, g.w2, g.c12,
         ln(CAST(g.c12 AS DOUBLE) * CAST(nb AS DOUBLE)
            / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))) AS pmi
  FROM grain g
  JOIN l USING (source, w1)
  JOIN r USING (source, w2)
  JOIN tt USING (source)
  WHERE g.c12 >= 5
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM j
)
SELECT source, w1, w2, c12 AS n_pair, round(pmi, 6) AS pmi,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 10
""",
        "cluster_size_hist": """
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
""",
        "dp_counts": """
WITH a AS (
  SELECT source AS grp, count(*) AS true_count FROM documents GROUP BY 1
), u AS (
  SELECT grp, true_count,
         CAST(('0x' || substr(md5('' || grp), 1, 8)) AS BIGINT)
           / 4294967296.0 - 0.5 AS v
  FROM a
), nz AS (
  SELECT grp, true_count,
         -1.0 * sign(v) * ln(greatest(1.0 - 2.0 * abs(v), 1e-12)) AS noise
  FROM u
)
SELECT grp AS source, true_count,
       1.0 AS epsilon,
       round(noise, 4) AS noise,
       round(true_count + noise, 4) AS released_count
FROM nz
""",
        "trending_terms": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
tok AS (
  SELECT date_trunc('hour', ts) AS bucket,
         unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[^a-z]+'),
           x -> length(x) >= 3)) AS tok
  FROM t
), grain AS (
  SELECT bucket, tok, count(*) AS n FROM tok GROUP BY 1, 2
), rk AS (
  SELECT bucket, tok, n,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY n DESC, tok ASC) AS rank
  FROM grain
)
SELECT bucket, tok AS token, n, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
""",
        "trending_stream": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
tok AS (
  SELECT date_trunc('hour', ts) AS bucket,
         unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[^a-z]+'),
           x -> length(x) >= 3)) AS tok
  FROM t
), grain AS (
  SELECT bucket, tok, count(*) AS n FROM tok GROUP BY 1, 2
), rk AS (
  SELECT bucket, tok, n,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY n DESC, tok ASC) AS rank
  FROM grain
)
SELECT bucket, tok AS token, n, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
""",
        "ks_drift": """
WITH n AS (
  SELECT source AS grp,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS l
  FROM documents
), g AS (
  SELECT grp, l, count(*) AS c FROM n GROUP BY 1, 2
), corp AS (
  SELECT l, CAST(sum(c) AS BIGINT) AS cc FROM g GROUP BY 1
), ns AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n_s FROM g GROUP BY 1
), tot AS (SELECT CAST(sum(cc) AS BIGINT) AS n_tot FROM corp),
dom AS (SELECT l AS d FROM corp),
ccum AS (
  SELECT dom.d, CAST(sum(corp.cc) AS BIGINT) AS ccum
  FROM dom JOIN corp ON corp.l <= dom.d GROUP BY 1
), sd AS (
  SELECT ns.grp, ns.n_s, dom.d FROM ns CROSS JOIN dom
), scum AS (
  SELECT sd.grp, sd.d, sd.n_s,
         CAST(coalesce(sum(g.c), 0) AS BIGINT) AS scum
  FROM sd LEFT JOIN g ON g.grp = sd.grp AND g.l <= sd.d
  GROUP BY 1, 2, 3
), j AS (
  SELECT scum.grp, scum.d, scum.n_s,
         CASE WHEN n_tot > scum.n_s THEN
           abs(scum.scum * 1.0 / scum.n_s
               - (ccum.ccum - scum.scum) * 1.0 / (n_tot - scum.n_s))
         END AS dev
  FROM scum JOIN ccum USING (d) CROSS JOIN tot
), mx AS (
  SELECT grp, max(n_s) AS n_docs, max(dev) AS mdev FROM j GROUP BY 1
), at AS (
  SELECT j.grp, min(j.d) AS ks_at
  FROM j JOIN mx ON j.grp = mx.grp AND j.dev = mx.mdev
  GROUP BY 1
)
SELECT mx.grp AS source, mx.n_docs, round(mx.mdev, 6) AS ks_stat,
       CAST(at.ks_at AS BIGINT) AS ks_at
FROM mx LEFT JOIN at ON mx.grp = at.grp
""",
        "numeric_profile": """
SELECT 'l_quantity' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_quantity AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_quantity AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_quantity AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_quantity AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_extendedprice' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_extendedprice AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_extendedprice AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_extendedprice AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_extendedprice AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_discount' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_discount AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_discount AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_discount AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_discount AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_tax' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_tax AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_tax AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_tax AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_tax AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_partkey' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_partkey AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_partkey AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_partkey AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_partkey AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_suppkey' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_suppkey AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_suppkey AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_suppkey AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_suppkey AS DOUBLE)), 4) AS mean_value
FROM lineitem
""",
        "spike_attribution": """
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
""",
        "tool_latency": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
l AS (
  SELECT tool, ts,
         lead(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM t
), lat AS (
  SELECT tool,
         epoch(nxt) - epoch(ts) AS lat_s
  FROM l WHERE tool IS NOT NULL AND nxt IS NOT NULL
)
SELECT tool, count(*) AS n_calls,
       round(quantile_cont(lat_s, 0.5), 4) AS p50_s,
       round(quantile_cont(lat_s, 0.95), 4) AS p95_s,
       round(quantile_cont(lat_s, 0.99), 4) AS p99_s,
       CAST(sum(CASE WHEN lat_s > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach,
       round(sum(CASE WHEN lat_s > 2.0 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS breach_share
FROM lat GROUP BY 1
""",
        "cost_report": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
r AS (
  SELECT role,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS ntok
  FROM t
), c AS (
  SELECT role, ntok,
         CAST(ntok AS DOUBLE) / 1000.0 *
         CASE role WHEN 'assistant' THEN 3.0 WHEN 'system' THEN 1.0
                   WHEN 'tool' THEN 0.5 WHEN 'user' THEN 1.0
                   ELSE 1.0 END AS cost
  FROM r
), a AS (
  SELECT role, count(*) AS n_turns,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         sum(cost) AS cost_raw
  FROM c GROUP BY 1
), tt AS (SELECT sum(cost_raw) AS total FROM a)
SELECT role, n_turns, n_tokens,
       round(cost_raw, 4) AS cost,
       round(cost_raw / total, 6) AS cost_share
FROM a CROSS JOIN tt
""",
        "type_correlation": """
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
""",
        "seasonality_profile": """
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
""",
        "neyman_allocation": """
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
""",
        "purge_audit": """
WITH subj AS (
  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 97 = 7
)
SELECT 'events' AS "table", count(*) AS n_rows,
       CAST(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       round(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS purge_share,
       count(DISTINCT CASE WHEN s.k IS NOT NULL THEN e.user_id END)
         AS n_subjects_hit
FROM events e LEFT JOIN subj s ON e.user_id = s.k
UNION ALL
SELECT 'orders', count(*),
       CAST(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6),
       count(DISTINCT CASE WHEN s.k IS NOT NULL THEN o.o_custkey END)
FROM orders o LEFT JOIN subj s ON o.o_custkey = s.k
""",
        "class_separability": """
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
""",
        "hopping_distinct_users": """
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
""",
        "dup_evidence": """
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
""",
        "weighted_sample": """
WITH r AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
         ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) + 1) / 4294967297.0)
         / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
), rk AS (
  SELECT source, doc_id, weight,
         row_number() OVER (PARTITION BY source
                            ORDER BY k DESC, doc_id ASC) AS rank
  FROM r
)
SELECT source, doc_id, weight, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
""",
        "winnow_fingerprints": """
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
""",
        "lang_confusion": _lang_confusion_sql(),
        "decayed_counts": """
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
""",
        "burstiness": """
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
""",
        "ri_scorecard": """
SELECT 'lineitem.orderkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.o_orderkey IS NULL THEN f.l_orderkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) d
  ON f.l_orderkey = d.o_orderkey
WHERE f.l_orderkey IS NOT NULL
UNION ALL
SELECT 'lineitem.partkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.p_partkey IS NULL THEN f.l_partkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT p_partkey FROM part) d
  ON f.l_partkey = d.p_partkey
WHERE f.l_partkey IS NOT NULL
UNION ALL
SELECT 'lineitem.suppkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.s_suppkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.s_suppkey IS NULL THEN f.l_suppkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) d
  ON f.l_suppkey = d.s_suppkey
WHERE f.l_suppkey IS NOT NULL
UNION ALL
SELECT 'orders.custkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.c_custkey IS NULL THEN f.o_custkey END)
         AS n_distinct_orphan_keys
FROM orders f LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) d
  ON f.o_custkey = d.c_custkey
WHERE f.o_custkey IS NOT NULL
UNION ALL
SELECT 'customer.nationkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.n_nationkey IS NULL THEN f.c_nationkey END)
         AS n_distinct_orphan_keys
FROM customer f LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) d
  ON f.c_nationkey = d.n_nationkey
WHERE f.c_nationkey IS NOT NULL
UNION ALL
SELECT 'supplier.nationkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.n_nationkey IS NULL THEN f.s_nationkey END)
         AS n_distinct_orphan_keys
FROM supplier f LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) d
  ON f.s_nationkey = d.n_nationkey
WHERE f.s_nationkey IS NOT NULL
UNION ALL
SELECT 'nation.regionkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.r_regionkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.r_regionkey IS NULL THEN f.n_regionkey END)
         AS n_distinct_orphan_keys
FROM nation f LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) d
  ON f.n_regionkey = d.r_regionkey
WHERE f.n_regionkey IS NOT NULL
""",
        "string_profile": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}'))
SELECT 'conv_id' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(conv_id AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(conv_id AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(conv_id AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(conv_id AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(conv_id AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'role' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(role AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(role AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(role AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(role AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(role AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'text' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(text AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(text AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(text AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(text AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(text AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'tool' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(tool AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(tool AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(tool AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(tool AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(tool AS VARCHAR))), 4) AS avg_length
FROM t
""",
        "dedup_savings": """
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
""",
        "verbosity_drift": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
a AS (
  SELECT CAST(least(turn_idx // 2, 3) AS INT) AS depth_bucket,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')),
                                          '\\s+'))
         END AS ntok
  FROM t WHERE role = 'assistant'
), g AS (
  SELECT depth_bucket, count(*) AS n_turns,
         CAST(sum(ntok) AS BIGINT) AS s
  FROM a GROUP BY 1
), tt AS (
  SELECT CAST(sum(s) AS BIGINT) AS st,
         CAST(sum(n_turns) AS BIGINT) AS nt
  FROM g
)
SELECT depth_bucket, n_turns,
       round(s * 1.0 / n_turns, 4) AS mean_tokens,
       round((s * 1.0 / n_turns) / (st * 1.0 / nt), 6) AS vs_corpus_mean
FROM g CROSS JOIN tt
""",
        "tool_lift": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
nc AS (SELECT count(DISTINCT conv_id) AS n_convs FROM t),
ct AS (
  SELECT DISTINCT conv_id, tool FROM t WHERE tool IS NOT NULL
), pair AS (
  SELECT a.tool AS tool_a, b.tool AS tool_b, count(*) AS n_both
  FROM ct a JOIN ct b
    ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY 1, 2
), single AS (
  SELECT tool, count(*) AS n FROM ct GROUP BY 1
)
SELECT tool_a, tool_b, n_both,
       round(n_both * 1.0 / n_convs, 6) AS support,
       round((CAST(n_both AS DOUBLE) * CAST(n_convs AS DOUBLE))
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)), 6) AS lift
FROM pair
JOIN single sa ON tool_a = sa.tool
JOIN single sb ON tool_b = sb.tool
CROSS JOIN nc
WHERE n_both >= 50
""",
        "label_balance": """
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
""",
        "corpus_gini": """
WITH g AS (
  SELECT source,
    CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
             ELSE len(string_split_regex(trim(coalesce(text, '')),
                                         '\\s+')) END) AS BIGINT) AS x
  FROM documents GROUP BY 1
), p AS (
  SELECT CAST(sum(abs(a.x - b.x)) AS BIGINT) AS sad
  FROM g a CROSS JOIN g b
), t AS (
  SELECT count(*) AS n_sources,
         CAST(sum(x) AS BIGINT) AS total_tokens,
         CAST(max(x) AS BIGINT) AS max_tokens,
         CAST(min(x) AS BIGINT) AS min_tokens
  FROM g
)
SELECT n_sources, total_tokens, max_tokens, min_tokens,
       round(CAST(sad AS DOUBLE)
             / (2.0 * CAST(n_sources AS DOUBLE)
                * CAST(total_tokens AS DOUBLE)), 6) AS gini
FROM p CROSS JOIN t
""",
        "daily_value_percentiles": """
SELECT event_type, date_trunc('day', ts) AS day,
       count(*) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
        "fd_audit": """
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
""",
        "epoch_plan": """
WITH per AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(pow(n_tokens, 0.7)) AS ta FROM per),
plan AS (
  SELECT source, n_tokens, round(pow(n_tokens, 0.7) / ta, 6) AS share
  FROM per CROSS JOIN tot
),
plan2 AS (
  SELECT source,
    least(CAST(floor(60000.0 * share / n_tokens) AS BIGINT), 64)
      AS nfull,
    CAST(floor((60000.0 * share / n_tokens
                - floor(60000.0 * share / n_tokens)) * 65536.0)
         AS BIGINT) AS thr
  FROM plan
),
x AS (
  SELECT d.source, d.doc_id, p.nfull, p.thr, u.epoch
  FROM documents d JOIN plan2 p USING (source),
       unnest(generate_series(1, p.nfull + 1)) AS u(epoch)
)
SELECT source, doc_id, epoch,
       md5(CAST(doc_id AS VARCHAR) || '@' || CAST(epoch AS VARCHAR))
         AS order_key
FROM x
WHERE epoch <= nfull
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)
""",
        "chi2_drift": """
WITH gb AS (
  SELECT source AS grp, lang AS cat, count(*) AS c
  FROM documents GROUP BY 1, 2
), corpus AS (SELECT cat, sum(c) AS cc FROM gb GROUP BY 1),
gtot AS (SELECT grp, sum(c) AS n_docs FROM gb GROUP BY 1),
tot AS (SELECT sum(cc) AS n_total, count(*) AS n_cats FROM corpus),
dom AS (SELECT * FROM gtot CROSS JOIN corpus CROSS JOIN tot),
j AS (
  SELECT d.grp, d.n_docs, d.n_cats,
         CAST(coalesce(g.c, 0) AS DOUBLE) AS obs,
         CAST(d.n_docs AS DOUBLE) * d.cc / d.n_total AS exp
  FROM dom d LEFT JOIN gb g ON d.grp = g.grp AND d.cat = g.cat
)
SELECT grp AS source, CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(max(n_cats) AS BIGINT) AS n_cats,
       round(sum((obs - exp) * (obs - exp) / exp), 4) AS chi2
FROM j GROUP BY 1
""",
        "embedding_health": """
SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6)
         AS l2_norm,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 6) = 0.0
         AS is_zero,
       len(list_filter(embedding, x -> isnan(x))) > 0 AS has_nan
FROM embeddings
""",
        "dup_source_matrix": f"""
WITH grain AS (
  SELECT DISTINCT
    md5(lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')))
      AS fp,
    role AS src
  FROM read_parquet('{_transcripts_path()}')
)
SELECT a.src AS source_a, b.src AS source_b,
       count(*) AS n_shared
FROM grain a JOIN grain b ON a.fp = b.fp AND a.src < b.src
GROUP BY 1, 2
""",
        "l_diversity": """
WITH cls AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
         count(*) AS k,
         count(DISTINCT c_mktsegment) AS l
  FROM customer GROUP BY 1, 2
),
hist AS (SELECT k, l, count(*) AS n_classes FROM cls GROUP BY 1, 2),
tot AS (SELECT CAST(sum(k * n_classes) AS BIGINT) AS n_total FROM hist)
SELECT CAST(k AS BIGINT) AS k, CAST(l AS BIGINT) AS l,
       CAST(n_classes AS BIGINT) AS n_classes,
       CAST(k * n_classes AS BIGINT) AS n_rows,
       l < 2 AS at_risk,
       round(k * n_classes * 1.0 / n_total, 6) AS row_share
FROM hist CROSS JOIN tot
""",
        "readability": """
WITH s AS (
  SELECT source,
    lower(trim(coalesce(text, ''))) AS low
  FROM documents
), c AS (
  SELECT source,
    CASE WHEN length(low) = 0 THEN 0
         ELSE len(string_split_regex(low, '\\s+')) END AS words,
    len(regexp_extract_all(low, '[.!?]+')) AS sentences,
    len(regexp_extract_all(low, '[aeiouy]+')) AS syllables
  FROM s
), a AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(words) AS BIGINT) AS n_words,
         CAST(sum(sentences) AS BIGINT) AS n_sentences,
         CAST(sum(syllables) AS BIGINT) AS n_syllables
  FROM c GROUP BY 1
)
SELECT source, n_docs, n_words, n_sentences, n_syllables,
       round(0.39 * (n_words * 1.0 / greatest(n_sentences, 1))
             + 11.8 * (n_syllables * 1.0 / greatest(n_words, 1))
             - 15.59, 4) AS fk_grade
FROM a
""",
        "context_budget": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
p AS (
  SELECT conv_id, turn_idx,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')),
                                          '\\s+'))
         END AS ntok
  FROM t
),
s AS (
  SELECT conv_id, ntok,
         sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS suffix
  FROM p
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(ntok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN suffix <= 128 THEN 1 ELSE 0 END) AS BIGINT)
         AS turns_kept,
       CAST(sum(CASE WHEN suffix <= 128 THEN ntok ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       count(*) > sum(CASE WHEN suffix <= 128 THEN 1 ELSE 0 END)
         AS truncated
FROM s GROUP BY 1
""",
        "data_budget": """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(pow(n_tokens, 0.7)) AS ta FROM per),
plan AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens, 0.7) / ta, 6) AS alpha_share
  FROM per CROSS JOIN tot
),
plan2 AS (SELECT *, 30000.0 * alpha_share AS alloc FROM plan),
plan3 AS (
  SELECT source, n_docs, n_tokens, alpha_share,
         CAST(floor(alloc) AS BIGINT) AS alloc_tokens,
         round(alloc / n_tokens, 4) AS epochs,
         alloc > n_tokens AS oversampled,
         CAST(floor(least(1.0, alloc / n_tokens) * 65536.0) AS BIGINT)
           AS thr
  FROM plan2
),
k AS (
  SELECT d.source, d.doc_id,
         len(string_split_regex(trim(d.text), '\\s+')) AS ntok,
         CASE WHEN p.thr >= 65536 THEN 1
              WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                     < printf('%04x', p.thr) THEN 1
              ELSE 0 END AS kp
  FROM documents d JOIN plan3 p USING (source)
),
ka AS (
  SELECT source, CAST(sum(kp) AS BIGINT) AS n_kept,
         CAST(sum(ntok * kp) AS BIGINT) AS kept_tokens,
         CAST(sum(doc_id * kp) AS BIGINT) AS kept_id_sum
  FROM k GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_tokens, p.alpha_share, p.alloc_tokens,
       p.epochs, p.oversampled, ka.n_kept, ka.kept_tokens, ka.kept_id_sum
FROM plan3 p JOIN ka USING (source)
""",
        "split_assignment": """
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
""",
        "sft_pairs": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
r AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS resp,
         role || ': ' || coalesce(text, '') AS rendered
  FROM t
), w AS (
  SELECT conv_id, turn_idx, role, resp,
    coalesce(string_agg(rendered, chr(10)) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), '') AS prompt,
    count(*) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS n_context_turns
  FROM r
)
SELECT conv_id, turn_idx, prompt, resp AS response,
       CAST(n_context_turns AS BIGINT) AS n_context_turns,
       CAST(length(prompt) AS BIGINT) AS prompt_chars,
       CAST(length(resp) AS BIGINT) AS response_chars
FROM w WHERE role = 'assistant'
""",
        "vocab_stats": """
WITH tok AS (
  SELECT source,
    unnest(list_filter(
      string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
      x -> x <> '')) AS t
  FROM documents
), g AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS hapax_share
FROM g GROUP BY 1
""",
        "response_markers": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
m(marker) AS (VALUES ('i cannot'), ('i''m sorry'), ('unable to'),
              ('as an ai'), ('error'), ('failed'), ('timeout'))
SELECT t.role, m.marker,
  CAST(sum(CASE WHEN contains(lower(coalesce(t.text, '')), m.marker)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
  count(*) AS role_turns,
  round(sum(CASE WHEN contains(lower(coalesce(t.text, '')), m.marker)
            THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS share
FROM t CROSS JOIN m
GROUP BY 1, 2
""",
        "preference_pairs": pre
        + """
, cand AS (
  SELECT conv_id, turn_idx, role, text,
    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prev_role,
    lag(template) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prompt_template
  FROM rtruth
), sc AS (
  SELECT prompt_template, conv_id, turn_idx,
    len(list_distinct(list_filter(
      string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
      x -> x <> ''))) AS score
  FROM cand WHERE role = 'assistant' AND prev_role IS NOT NULL
), k AS (
  SELECT *,
    lpad(CAST(score AS VARCHAR), 8, '0') || '|' || conv_id || '|'
      || lpad(CAST(turn_idx AS VARCHAR), 8, '0') AS ordkey
  FROM sc
), a AS (
  SELECT prompt_template, count(*) AS n_candidates,
    arg_max(conv_id, ordkey) AS chosen_conv,
    arg_max(turn_idx, ordkey) AS chosen_turn,
    arg_max(score, ordkey) AS chosen_score,
    arg_min(conv_id, ordkey) AS rejected_conv,
    arg_min(turn_idx, ordkey) AS rejected_turn,
    arg_min(score, ordkey) AS rejected_score
  FROM k GROUP BY 1
)
SELECT md5(prompt_template) AS prompt_fp, prompt_template,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       chosen_conv, chosen_turn,
       CAST(chosen_score AS BIGINT) AS chosen_score,
       rejected_conv, rejected_turn,
       CAST(rejected_score AS BIGINT) AS rejected_score,
       CAST(chosen_score - rejected_score AS BIGINT) AS score_gap
FROM a WHERE n_candidates >= 2
""",
        "echo_rate": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
w AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS resp,
    coalesce(string_agg(coalesce(text, ''), ' ') OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), '') AS ctx
  FROM t
), tok AS (
  SELECT conv_id, turn_idx,
    list_distinct(list_filter(
      string_split_regex(lower(trim(resp)), '\\s+'), x -> x <> ''))
      AS rt,
    list_distinct(list_filter(
      string_split_regex(lower(trim(ctx)), '\\s+'), x -> x <> ''))
      AS ct
  FROM w WHERE role = 'assistant'
)
SELECT conv_id, turn_idx,
       CAST(len(rt) AS BIGINT) AS n_resp_tokens,
       CAST(len(list_intersect(rt, ct)) AS BIGINT) AS n_echoed,
       CASE WHEN len(rt) = 0 THEN 0.0
            ELSE round(len(list_intersect(rt, ct)) * 1.0 / len(rt), 6)
       END AS echo_rate
FROM tok
""",
        "curriculum_stages": """
WITH s AS (
  SELECT doc_id,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS difficulty
  FROM documents
), g AS (
  SELECT difficulty, count(*) AS cnt FROM s GROUP BY 1
), cum AS (
  SELECT difficulty, cnt,
         sum(cnt) OVER (ORDER BY difficulty) AS c
  FROM g
), st AS (
  SELECT difficulty, cnt,
         (c * 4 + (SELECT count(*) FROM s) - 1)
           // (SELECT count(*) FROM s) AS stage
  FROM cum
), sz AS (
  SELECT stage, CAST(sum(cnt) AS BIGINT) AS stage_size
  FROM st GROUP BY 1
)
SELECT s.doc_id, CAST(s.difficulty AS BIGINT) AS difficulty,
       CAST(st.stage AS BIGINT) AS stage, sz.stage_size
FROM s JOIN st USING (difficulty) JOIN sz USING (stage)
""",
        "length_buckets": """
WITH s AS (
  SELECT CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS ntok
  FROM documents
), b AS (
  SELECT ntok,
    CASE WHEN ntok <= 32 THEN 32 WHEN ntok <= 64 THEN 64
         WHEN ntok <= 128 THEN 128 ELSE 256 END AS bucket_cap,
    least(ntok, 256) AS billed,
    CASE WHEN ntok > 256 THEN 1 ELSE 0 END AS trunc
  FROM s
), a AS (
  SELECT bucket_cap, count(*) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         CAST(sum(billed) AS BIGINT) AS billed,
         CAST(sum(trunc) AS BIGINT) AS n_truncated
  FROM b GROUP BY 1
)
SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap, n_docs, n_tokens,
       n_truncated,
       CAST(bucket_cap * n_docs - billed AS BIGINT) AS pad_tokens,
       round((bucket_cap * n_docs - billed) * 1.0 / (bucket_cap * n_docs),
             6) AS waste_share
FROM a
""",
        "loss_spans": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
seg AS (
  SELECT conv_id, turn_idx, role,
         length(coalesce(text, '')) AS text_len,
         length(role) + 4 + length(coalesce(text, '')) + 1 AS seg_len
  FROM t
), o AS (
  SELECT conv_id, turn_idx, role, text_len,
    coalesce(sum(seg_len) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + length(role) + 5 AS span_start,
    sum(seg_len) OVER (PARTITION BY conv_id) AS rendered_len
  FROM seg
)
SELECT conv_id, turn_idx,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(text_len AS BIGINT) AS span_len,
       CAST(rendered_len AS BIGINT) AS rendered_len
FROM o WHERE role = 'assistant'
""",
        "fixed_k_sample": """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 50
""",
        "hopping_windows": """
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
""",
        "conv_dedup": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
td AS (
  SELECT conv_id, turn_idx, md5(role || chr(31) || text) AS td FROM t
), fp AS (
  SELECT conv_id,
         md5(string_agg(td, '' ORDER BY turn_idx)) AS conv_digest,
         count(*) AS n_turns
  FROM td GROUP BY 1
)
SELECT conv_digest, CAST(min(n_turns) AS BIGINT) AS n_turns,
       CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS keep_conv_id
FROM fp GROUP BY 1
""",
        "role_transitions": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
seq AS (
  SELECT role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM t
),
c AS (
  SELECT prev_role, role, count(*) AS cnt
  FROM seq WHERE prev_role IS NOT NULL GROUP BY 1, 2
)
SELECT prev_role, role, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY prev_role), 6)
         AS row_share
FROM c
""",
        "conv_depth_stats": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
d AS (SELECT conv_id, count(*) AS depth FROM t GROUP BY 1),
h AS (SELECT depth, count(*) AS n_convs FROM d GROUP BY 1)
SELECT CAST(depth AS BIGINT) AS depth, CAST(n_convs AS BIGINT) AS n_convs,
       round(n_convs * 1.0 / sum(n_convs) OVER (), 6) AS conv_share,
       CAST(depth * n_convs AS BIGINT) AS n_turns
FROM h
""",
        "turn_gaps": f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         (epoch_us(ts) - lag(epoch_us(ts))
            OVER (PARTITION BY conv_id ORDER BY turn_idx)) / 1000000.0
           AS gap_s
  FROM t
)
SELECT role, CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 6) AS p50,
       round(quantile_cont(gap_s, 0.9), 6) AS p90,
       round(quantile_cont(gap_s, 0.99), 6) AS p99
FROM g WHERE gap_s IS NOT NULL GROUP BY role
""",
        "bloom_contamination": """
WITH d AS (
  SELECT doc_id, source,
         array_to_string((string_split(lower(text), ' '))[1:8], ' ')
           AS prefix
  FROM documents
)
SELECT doc_id, source, prefix FROM d
WHERE length(source) >= 5
  AND prefix IN (SELECT prefix FROM d WHERE length(source) < 5)
""",
        "volume_spikes": """
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
""",
        "user_sessions": """
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
""",
        # same determinism contract as intra_doc_repetition: literal
        # single-space split, chars = re-joined words, top-gram tie-break
        # (count DESC, gram DESC), <2-word docs -> NULL gram / 0 fractions
        "repetition_stats": """
WITH base AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
), stats AS (
  SELECT doc_id, len(w) AS n_words,
         length(array_to_string(w, ' ')) AS n_chars,
         len(list_distinct(w)) AS n_distinct, w
  FROM base
), grams AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
  FROM stats, unnest(range(1, n_words)) t(i)
  WHERE n_words >= 2
), gc AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram AS top_gram, cnt AS top_cnt
  FROM gc
  QUALIFY row_number()
    OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
), dup AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
           AS dup_mass
  FROM gc GROUP BY 1
)
SELECT s.doc_id, CAST(n_words AS BIGINT) AS n_words,
  round(n_distinct / CAST(n_words AS DOUBLE), 4) AS distinct_frac,
  top_gram,
  CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_gram_count,
  round(coalesce(top_cnt * length(top_gram), 0)
        / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS top_gram_char_frac,
  round(coalesce(dup_mass, 0)
        / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS dup_gram_frac
FROM stats s LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
""",
    }
    # same integer bucketing as operators/quantiles.py: bit_length via
    # printf('%b') (Spark twin: length(conv(v, 10, 2)))
    oracles["quantile_sketch"] = """
WITH vals AS (
  SELECT lang, GREATEST(CAST(n_chars AS BIGINT), 1) AS v FROM documents
), b AS (
  SELECT lang,
    ((v >> GREATEST(length(printf('%b', v)) - 3, 0)) + 1)
      << GREATEST(length(printf('%b', v)) - 3, 0) AS bucket_hi
  FROM vals
), sk AS (
  SELECT lang, bucket_hi, count(*) AS cnt FROM b GROUP BY 1, 2
), cum AS (
  SELECT lang, bucket_hi,
    sum(cnt) OVER (PARTITION BY lang ORDER BY bucket_hi) AS cum,
    sum(cnt) OVER (PARTITION BY lang) AS n
  FROM sk
), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
SELECT lang, q, CAST(min(bucket_hi) AS BIGINT) AS estimate,
       CAST(max(n) AS BIGINT) AS n
FROM cum, qs WHERE cum >= ceil(q * n)
GROUP BY lang, q
"""
    # streaming/batch hash-exact equivalence: the streamed partials merge
    # (union + sum over deterministic integer buckets) reproduces the
    # batch sketch bit-for-bit, so the SAME batch oracle applies verbatim
    oracles["quantile_stream"] = oracles["quantile_sketch"]
    # CMS merge is cell-wise addition, so the streamed sketch == the batch
    # sketch — the oracle rebuilds the identical counter table over the
    # whole events table (micro-batch split is irrelevant to the sum)
    oracles["cms_events_stream"] = """
WITH vals AS (
  SELECT coalesce(CAST(user_id AS VARCHAR), chr(0) || '<NULL>') AS "value"
  FROM events
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
"""
    # streaming cardinality — the digest partials' distinct-union monoid
    # makes the streamed exact count equal the batch count(DISTINCT ...)
    # regardless of how rows were split across micro-batches
    oracles["card_stream"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT coalesce(CAST(user_id AS VARCHAR),
                                    chr(0) || '<NULL>')) AS BIGINT)
         AS exact_cardinality
FROM events GROUP BY 1
"""
    # stream-stream join exact batch-equivalence (see
    # q_attribution_join_stream's eviction-safety argument)
    oracles["attribution_join_stream"] = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
       round(p.value, 3) AS purchase_value
FROM events c
JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""
    # the streamed marker audit merges to a state BIT-IDENTICAL to the
    # batch audit, so it hashes against the same oracle
    oracles["markers_stream"] = oracles["response_markers"]
    oracles["conv_outcomes"] = (
        pre
        + """
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
"""
    )
    return oracles



def _pii_propagation_sql() -> str:
    """Generated from the SAME pattern table as the operator (the
    _pii_stats_sql contract): class i extracted from text already
    redacted by classes 0..i-1."""
    from otlp_cardinality_checker_spark.operators.pii import PII_PATTERNS

    selects = []
    staged = "coalesce(text, '')"
    for name, pat, placeholder in PII_PATTERNS:
        selects.append(
            f"SELECT conv_id, turn_idx, '{name}' AS kind,\n"
            f"       unnest(regexp_extract_all({staged}, '{pat}')) AS v\n"
            f"FROM t"
        )
        staged = f"regexp_replace({staged}, '{pat}', '{placeholder}', 'g')"
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""
, hits AS (
  {union}
), pv AS (
  SELECT kind, conv_id, v, count(DISTINCT turn_idx) AS n_turns,
         min(turn_idx) AS ft, max(turn_idx) AS lt
  FROM hits GROUP BY 1, 2, 3
)
SELECT kind, count(*) AS n_values,
  CAST(sum(CASE WHEN n_turns > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_propagated,
  round(sum(CASE WHEN n_turns > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
    AS propagation_rate,
  CAST(max(lt - ft) AS BIGINT) AS max_spread_turns,
  round(avg(CASE WHEN n_turns > 1 THEN lt - ft END), 4)
    AS avg_spread_turns
FROM pv GROUP BY 1
"""

def _pii_stats_sql() -> str:
    """Generated from the SAME pattern table the Spark operator compiles,
    so the two engines can never drift: staged counts (class i counted on
    text already redacted by classes 0..i-1) + the full redaction chain."""
    from otlp_cardinality_checker_spark.operators.pii import PII_PATTERNS

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


def _stratified_sample_sql() -> str:
    """CASE thresholds generated from the same rate table as the operator."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        _hex_threshold,
    )

    whens = "\n           ".join(
        f"WHEN '{stratum}' THEN '{_hex_threshold(rate)}'"
        for stratum, rate in sorted(SAMPLE_RATES.items())
    )
    default = _hex_threshold(SAMPLE_DEFAULT_RATE)
    return f"""
WITH k AS (
  SELECT lang, doc_id,
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang {whens} ELSE '{default}' END
    THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, count(*) AS n_total,
  CAST(sum(keep) AS BIGINT) AS n_sampled,
  round(sum(keep) / count(*), 4) AS realized_rate,
  CAST(sum(doc_id * keep) AS BIGINT) AS sampled_id_sum
FROM k GROUP BY lang
"""


def _filter_funnel_sql() -> str:
    """Funnel oracle generated from the same marker table as the operator."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        LANG_MARKERS,
    )

    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    return f"""
WITH f AS (
  SELECT doc_id,
    length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS nt,
    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS ar,
    {best} AS best
  FROM (SELECT *, ' ' || lower(text) || ' ' AS t FROM documents)
), staged AS (
  SELECT CASE WHEN nt < 16 THEN '1_too_short'
              WHEN ar < 0.81 THEN '2_low_alpha'
              WHEN best = 0 THEN '3_lang_unknown'
              ELSE '4_kept' END AS stage
  FROM f
), c AS (SELECT stage, count(*) AS n_docs FROM staged GROUP BY 1),
n AS (SELECT count(*) AS n_total FROM documents)
SELECT stage, n_docs, round(n_docs / n_total, 4) AS share
FROM c CROSS JOIN n
"""


def _dataset_card_sql(rel: str = "documents") -> str:
    """Card oracle: every number recomputed from the same definitions the
    dedicated operators use (token count, kept predicate incl. the marker
    table, md5 digest grain, quantile_cont pairing). ``rel`` is any
    relation expression (card_diff runs it once per side)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        LANG_MARKERS,
    )

    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    return f"""
WITH base AS (SELECT *, ' ' || lower(text) || ' ' AS t FROM {rel}),
a AS (
  SELECT count(*) AS n,
    CAST(sum(n_chars) AS BIGINT) AS chars,
    CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
      AS BIGINT) AS toks,
    CAST(sum(CASE WHEN
        length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 >= 16
        AND round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS DOUBLE) / greatest(length(text), 1), 4) >= 0.81
        AND {best} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
    count(DISTINCT md5(text)) AS digests,
    quantile_cont(CAST(n_chars AS DOUBLE), [0.5, 0.9, 0.99]) AS p
  FROM base
)
SELECT 'volume' AS section, 'n_docs' AS metric,
       round(CAST(n AS DOUBLE), 6) AS value FROM a
UNION ALL SELECT 'volume', 'total_chars', round(CAST(chars AS DOUBLE), 6) FROM a
UNION ALL SELECT 'volume', 'avg_chars', round(CAST(chars AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'tokens', 'avg_tokens', round(CAST(toks AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'tokens', 'total_tokens', round(CAST(toks AS DOUBLE), 6) FROM a
UNION ALL SELECT 'quality', 'pass_rate', round(CAST(kept AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'dedup', 'exact_dup_rate',
       round(1.0 - CAST(digests AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'lang', lang,
       round(CAST(count(*) AS DOUBLE) /
             (SELECT count(*) FROM {rel}), 6)
  FROM {rel} GROUP BY lang
UNION ALL SELECT 'length', 'p50', round(p[1], 6) FROM a
UNION ALL SELECT 'length', 'p90', round(p[2], 6) FROM a
UNION ALL SELECT 'length', 'p99', round(p[3], 6) FROM a
"""


def _curation_pipeline_sql() -> str:
    """Composition oracle: funnel `kept` predicate + the sample threshold
    CASE, both generated from the operators' own tables."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        _hex_threshold,
    )
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        LANG_MARKERS,
    )

    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    whens = "\n             ".join(
        f"WHEN '{stratum}' THEN '{_hex_threshold(rate)}'"
        for stratum, rate in sorted(SAMPLE_RATES.items())
    )
    default = _hex_threshold(SAMPLE_DEFAULT_RATE)
    return f"""
WITH kept AS (
  SELECT * FROM (SELECT *, ' ' || lower(text) || ' ' AS t FROM documents)
  WHERE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 >= 16
    AND round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS DOUBLE) / greatest(length(text), 1), 4) >= 0.81
    AND {best} > 0
), sampled AS (
  SELECT * FROM kept
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        CASE lang {whens} ELSE '{default}' END
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS total_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY 1, 2
"""



def _char_entropy_sql() -> str:
    """Entropy oracle with the EXACT same term order as the operator, so
    IEEE summation order matches and round(…,4) parity is bit-stable."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    cnts = [
        f"(length(t) - length(replace(t, '{c}', '')))" for c in letters
    ]
    total = " + ".join(cnts)
    terms = " + ".join(
        f"CASE WHEN {c} > 0 THEN -({c} / safe) * ln({c} / safe) "
        f"ELSE 0.0 END"
        for c in cnts
    )
    return f"""
WITH b AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
s AS (
  SELECT doc_id, lang, ({total}) AS total,
         CAST(greatest(({total}), 1) AS DOUBLE) AS safe, t
  FROM b
)
SELECT doc_id, lang, CAST(total AS BIGINT) AS n_letters,
       round(0.0 + {terms}, 4) AS entropy
FROM s
"""



def _lang_confusion_sql() -> str:
    """Confusion-matrix oracle built on the same generated detector SQL
    as _language_id_sql (one source of truth for the marker table)."""
    inner = _language_id_sql()
    return f"""
WITH det AS ({inner})
, cell AS (
  SELECT lang_declared AS lang, lang_detected, count(*) AS n_docs
  FROM det GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_true FROM cell GROUP BY 1
)
SELECT cell.lang, cell.lang_detected, cell.n_docs,
       round(cell.n_docs * 1.0 / tot.n_true, 6) AS share_of_true
FROM cell JOIN tot USING (lang)
"""

def _language_id_sql() -> str:
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        LANG_MARKERS,
        LANG_PRIORITY,
    )

    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    cases = "\n       ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANG_PRIORITY
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents
), s AS (
  SELECT doc_id, lang, {', '.join(score_exprs)} FROM base
)
SELECT doc_id, lang AS lang_declared,
  CASE WHEN {best} = 0 THEN 'und'
       {cases}
       ELSE 'und' END AS lang_detected,
  {best} AS marker_score
FROM s
"""


def _oracle_sf() -> str:
    """Scale dir for standalone fixture-path oracles.

    Same contract as the pipeline-prefix CTEs (oracle_sql() line ~1986):
    the driver's gate runs at sf0.01, SPARK_GRAFT_ORACLE_SF re-points the
    oracle side when the local replica verifies another scale — without
    this the conversation/tool oracles silently kept reading sf0.01
    fixtures during an sf0.1 sweep (caught by the round-5 full sweep).
    """
    import os

    return os.environ.get("SPARK_GRAFT_ORACLE_SF", SF01)


def _tool_dim_path() -> str:
    from otlp_cardinality_checker_spark.sources.transcripts import truth_paths

    return truth_paths(_oracle_sf())["tool_dim"]


def _transcripts_path() -> str:
    from otlp_cardinality_checker_spark.sources.transcripts import truth_paths

    return truth_paths(_oracle_sf())["transcripts"]


def _metric_dim_path() -> str:
    from otlp_cardinality_checker_spark.datagen import ensure_dataset

    return str(ensure_dataset(_oracle_sf()) / "metric_dim.parquet")
