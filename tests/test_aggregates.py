"""Aggregate-operator tests vs pandas oracles on the tiny corpus."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F


def test_service_stats(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import service_stats

    got = service_stats(tiny_routed).toPandas()
    base = tiny_routed.select("sink", "role", "severity", "conv_id").toPandas()
    exp = (
        base.groupby(["sink", "role", "severity"])
        .agg(sample_count=("conv_id", "size"), n_conversations=("conv_id", "nunique"))
        .reset_index()
    )
    m = got.merge(exp, on=["sink", "role", "severity"], suffixes=("", "_e"))
    assert len(m) == len(exp) == len(got)
    assert (m["sample_count"] == m["sample_count_e"]).all()
    assert (m["n_conversations"] == m["n_conversations_e"]).all()


def test_template_stats_example_deterministic(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import template_stats

    got = template_stats(tiny_routed).toPandas()
    base = tiny_routed.select(
        "role", "severity", "template", "text", "conv_id", "turn_idx"
    ).toPandas()
    base = base.sort_values(["conv_id", "turn_idx"])
    exp_example = base.groupby(["role", "severity", "template"]).first()["text"]
    for _, r in got.iterrows():
        assert r["example"] == exp_example[(r["role"], r["severity"], r["template"])]
    totals = base.groupby(["role", "severity"]).size()
    for _, r in got.iterrows():
        cnt = len(
            base[
                (base.role == r["role"])
                & (base.severity == r["severity"])
                & (base.template == r["template"])
            ]
        )
        assert r["count"] == cnt
        assert abs(r["pct"] - round(cnt * 100.0 / totals[(r["role"], r["severity"])], 4)) < 1e-9


def test_watched_values_exact(tiny_routed, tiny_frames):
    from otlp_cardinality_checker_spark.operators.aggregate import watched_values

    _, _, truth_attrs = tiny_frames
    got = watched_values(tiny_routed).toPandas()
    exp = (
        truth_attrs[truth_attrs.key.isin(["user_id", "tool_name"])]
        .groupby(["key", "value"])
        .size()
        .reset_index(name="count")
    )
    m = got.merge(exp, on=["key", "value"], suffixes=("", "_e"))
    assert len(m) == len(exp) == len(got)
    assert (m["count"] == m["count_e"]).all()
    assert not got["overflow"].any()


def test_watched_value_cap_and_overflow(spark):
    """Cap semantics: >cap uniques -> exactly cap rows kept + overflow flag
    (reference attribute.go:295-334)."""
    from otlp_cardinality_checker_spark.operators.aggregate import watched_values

    rows = [("tool_call", f"c{i}", 0, None, "user_id", f"v{i:05d}") for i in range(30)]
    df = spark.createDataFrame(
        rows, "sink string, conv_id string, turn_idx int, ts timestamp, key string, value string"
    )
    routed_like = df.select(
        "sink", "conv_id", "turn_idx", "ts",
        F.create_map(F.col("key"), F.col("value")).alias("attrs"),
    )
    got = watched_values(routed_like, watched_keys=("user_id",), cap=10).toPandas()
    assert len(got) == 10
    assert got["overflow"].all()


def test_active_series_fingerprint_grain(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import active_series

    got = active_series(tiny_routed, exact=True).toPandas()
    assert set(got.columns) == {"sink", "active_series", "sample_count"}
    assert (got["active_series"] <= got["sample_count"]).all()
    assert (got["active_series"] > 0).all()


def test_complexity_and_high_cardinality(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import (
        high_cardinality_keys,
        key_stats,
        metadata_complexity,
    )

    ks = key_stats(tiny_routed, exact=True)
    ks_pd = ks.toPandas()
    comp = metadata_complexity(ks, high_card_threshold=5).toPandas()
    for _, r in comp.iterrows():
        sub = ks_pd[ks_pd.sink == r["sink"]]
        assert r["total_keys"] == len(sub)
        assert r["max_cardinality"] == sub["est_cardinality"].max()
        assert r["high_card_count"] == (sub["est_cardinality"] >= 5).sum()
        assert r["complexity_score"] == len(sub) * sub["est_cardinality"].max()
    hc = high_cardinality_keys(ks, threshold=5, limit=3).toPandas()
    assert len(hc) <= 3
    assert (hc["est_cardinality"] >= 5).all()


def test_uid_cardinality_constant(spark):
    """FIXTURES.md: user_id ranges over exactly CARDINALITY_UID values at
    scale (mirrors reference test-hll-cardinality.sh: known constant)."""
    from otlp_cardinality_checker_spark.datagen import (
        EXPECTED_UID_CARDINALITY,
        generate_transcripts,
    )

    _, _, truth_attrs = generate_transcripts(5000)
    n_uid = truth_attrs[truth_attrs.key == "user_id"]["value"].nunique()
    assert n_uid == EXPECTED_UID_CARDINALITY


def test_watched_key_lifecycle_cap():
    """Reference store.go:1092-1160: cap on ACTIVE watches, idempotent
    watch, unwatch preserves (deactivates) rather than deletes."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.watch import WatchedKeys

    reg = WatchedKeys(max_watched=3)
    for k in ("a", "b", "c"):
        reg.watch(k)
    with _pytest.raises(RuntimeError, match="maximum watched fields"):
        reg.watch("d")
    reg.watch("b")  # idempotent re-activate, no error
    reg.unwatch("c")  # deactivates, preserved in all()
    assert reg.active() == ("a", "b")
    assert reg.all() == ("a", "b", "c")
    reg.watch("d")  # slot freed by deactivation
    assert "d" in reg.active()
    with _pytest.raises(KeyError):
        reg.unwatch("never-watched")
    with _pytest.raises(ValueError):
        reg.watch("")


def test_filter_diff(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats
    from otlp_cardinality_checker_spark.operators.sessions import (
        diff_key_stats,
        filter_diff,
    )

    a = key_stats(tiny_routed.where(F.col("turn_idx") < 5), exact=True)
    b = key_stats(tiny_routed, exact=True)
    diff = diff_key_stats(a, b)
    only_chat = filter_diff(diff, signal_type="chat")
    assert only_chat.select("sink").distinct().collect() == [("chat",)]
    warn_up = filter_diff(diff, min_severity="warning")
    got = {r["severity"] for r in warn_up.select("severity").distinct().collect()}
    assert got <= {"warning", "critical"}
    # key_contains pushes down as a plain predicate
    assert (
        filter_diff(diff, key_contains="user").where(
            ~F.col("key").contains("user")
        ).count()
        == 0
    )


def test_prometheus_series_estimate(spark):
    """Golden check of metric_types.go:140-190 arithmetic on all shapes."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        prometheus_series_estimate,
    )

    act = spark.createDataFrame(
        [("chat", 100), ("tool_call", 100), ("error", 100), ("extra", 7)],
        "sink string, active_series long",
    )
    mdim = spark.createDataFrame(
        pd.DataFrame(
            {
                "sink": ["chat", "tool_call", "error", "deep"],
                "metric_type": [
                    "gauge",
                    "histogram",
                    "exp_histogram",
                    "exp_histogram",
                ],
                "explicit_bounds": [None, [0.1, 0.5, 1.0], None, None],
                "scales": [None, None, [3, 1, -2], [9]],
            }
        )
    )
    got = {
        r["sink"]: (r["metric_type"], r["prometheus_series"])
        for r in prometheus_series_estimate(act, mdim).collect()
    }
    assert got["chat"] == ("gauge", 100)  # non-histogram: unchanged
    # histogram: series * (len(bounds)+1+2) = 100 * 6
    assert got["tool_call"] == ("histogram", 600)
    # exp hist: maxScale=3 -> 2^4=16 buckets -> series * 18
    assert got["error"] == ("exp_histogram", 1800)
    # sink with no dim row: treated as gauge
    assert got["extra"] == ("gauge", 7)
    # scale 9 -> 1024 capped at 160 -> series * 162
    deep = prometheus_series_estimate(
        spark.createDataFrame([("deep", 10)], "sink string, active_series long"),
        mdim,
    ).collect()[0]
    assert deep["prometheus_series"] == 10 * 162


def test_bounded_samples_equals_collect_set_path(tiny_routed):
    """key_stats' salted two-stage min-10 samples (rank-guarded per salt,
    then merged) must equal the naive collect_set slice."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        SAMPLE_CAP,
        exploded_attrs,
        key_stats,
    )

    attrs = exploded_attrs(tiny_routed)
    naive = {
        (r["sink"], r["key"]): r["s"]
        for r in attrs.groupBy("sink", "key")
        .agg(
            F.array_join(
                F.slice(F.sort_array(F.collect_set("value")), 1, SAMPLE_CAP), "|"
            ).alias("s")
        )
        .collect()
    }
    bounded = {
        (r["sink"], r["key"]): r["value_samples"]
        for r in key_stats(tiny_routed, exact=True).collect()
    }
    assert bounded == naive


def _final_plan(df) -> str:
    """Run ``df`` (AQE on) and return its final executed plan only, not the
    initial plan AdaptiveSparkPlanExec also prints."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    assert plan.isFinalPlan()
    return plan.executedPlan().toString()


def test_grouping_sets_key_stats_and_catalog(tiny_routed):
    """The one-pass grouping-sets fold must equal the direct operators
    (HLL mode), and in the production shape — a report's to_json union of
    both frames in one action — the attrs explode must run once, inside
    the materialized grouping-sets frame, not once per branch (pruning
    gives the branches different aggregate lists, so ReuseExchange never
    fires on the unmaterialized plan)."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        attribute_catalog,
        key_stats,
        key_stats_and_catalog,
    )

    ks_shared, cat_shared = key_stats_and_catalog(tiny_routed)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(ks_shared) == rows(key_stats(tiny_routed, exact=False))
    assert rows(cat_shared) == rows(attribute_catalog(tiny_routed, exact=False))

    def tagged(name, df):
        return df.select(
            F.lit(name).alias("agg"),
            F.to_json(F.struct(*df.columns)).alias("row"),
        )

    report = tagged("key_stats", ks_shared).unionByName(
        tagged("attribute_catalog", cat_shared)
    )
    assert "Generate explode" not in _final_plan(report)


def _assert_checkpoint_cached(spark, df) -> None:
    """Every partition of the one checkpoint RDD that ``df`` reads is
    already cached, before any action on ``df``."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    [rdd_id] = {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName() == "LogicalRDD"
    }
    cached = {
        info.id(): (info.numCachedPartitions(), info.numPartitions())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert rdd_id in cached, "checkpoint not materialized on return"
    n_cached, n_partitions = cached[rdd_id]
    assert n_cached == n_partitions > 0


def test_key_stats_and_catalog_checkpoint_is_eager(spark, tiny_routed):
    """When key_stats_and_catalog returns, before any action, every
    partition of its grouping-sets checkpoint is already cached. A lazy
    checkpoint is filled by the caller's action instead, where both
    branches of a report's union can compute the same partition at once
    (Spark logs ``Block rdd_N_0 already exists``)."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        key_stats_and_catalog,
    )

    _, catalog = key_stats_and_catalog(tiny_routed)
    _assert_checkpoint_cached(spark, catalog)


def test_watched_values_checkpoint_is_eager(spark, tiny_routed):
    """watched_values' top-k and totals branches read one (key, value)
    frequency checkpoint in one action; it is fully cached when the
    function returns, so the two branches never compute it at once."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        watched_values,
    )

    _assert_checkpoint_cached(spark, watched_values(tiny_routed))


def test_attr_frequencies_explode_once(tiny_routed, tmp_path):
    """watched_values' top-k and per-key totals share ONE (key, value)
    frequency frame: its explode and (key, value) shuffle must not run
    once per consumer. key_skew keeps identical aggregate lists in both
    consumers, so over a file-backed routed table AQE reuses the shuffle
    (over a cached frame the two scans canonicalize differently and reuse
    does not fire, hence the parquet copy)."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        key_skew,
        watched_values,
    )

    assert "Generate explode" not in _final_plan(watched_values(tiny_routed))

    path = str(tmp_path / "routed")
    tiny_routed.write.parquet(path)
    routed = tiny_routed.sparkSession.read.parquet(path)
    plan = _final_plan(key_skew(routed))
    assert plan.count("Generate explode") == 1
    assert "ReusedExchange" in plan


def _stage1_rows(df) -> int:
    """Rows salted_top_k's stage-1 filter (``_r <= k``) passed on to the
    final window, read from the SQL metrics of a run without AQE (``df``
    must not have run yet: its physical plan is fixed at the first run)."""
    conf = df.sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df.collect()
        stack = [df._jdf.queryExecution().executedPlan()]
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)
    rows = []
    while stack:
        node = stack.pop()
        if node.nodeName() == "Filter" and "_r#" in node.condition().toString():
            rows.append(node.metrics().apply("numOutputRows").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    assert len(rows) == 1, rows
    return rows[0]


def test_salted_top_k_equals_global_window(spark, monkeypatch):
    """Property: the two-stage salted top-k must equal the naive single
    global window for every k and salt count, on seeded random data with
    heavy ties; and its memory bound holds: the final window sees at most
    N_SALT * k rows per group."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from otlp_cardinality_checker_spark.operators import aggregate

    rng = random.Random(42)
    rows = [
        (f"g{rng.randrange(5)}", f"v{rng.randrange(40)}", rng.randrange(4))
        for _ in range(600)
    ]
    df = (
        spark.createDataFrame(rows, "g string, value string, w int")
        .groupBy("g", "value")
        .agg(F.sum("w").alias("cnt"))
    )
    n_groups = df.select("g").distinct().count()
    order = (F.desc("cnt"), F.asc("value"))
    for n_salt in (1, 3, 16):
        monkeypatch.setattr(aggregate, "N_SALT", n_salt)
        for k in (1, 3, 10):
            def top():
                return aggregate.salted_top_k(df, ["g"], order, k=k)

            fast = {(r["g"], r["value"]) for r in top().collect()}
            naive = {
                (r["g"], r["value"])
                for r in df.withColumn(
                    "_rn",
                    F.row_number().over(Window.partitionBy("g").orderBy(*order)),
                )
                .where(F.col("_rn") <= k)
                .collect()
            }
            assert fast == naive, (n_salt, k)
            assert _stage1_rows(top()) <= n_groups * n_salt * k, (n_salt, k)


# ---------------------------------------------------------------------------
# A10 histogram half: data-derived shape union (metrics.go:327-376)
# ---------------------------------------------------------------------------


def test_observed_shape_union_and_multiplier(spark):
    """The bounds union across data points is strictly larger than any
    single point's layout; scale rules follow metric_types.go:140-190:
    no positive scale -> 1 bucket, else min(2^(max+1), 160)."""
    from otlp_cardinality_checker_spark.operators.metric_shapes import (
        observed_metric_shapes,
    )

    rows = [
        # histogram with two different layouts across points
        ("lat", "histogram", [1.0, 5.0], None),
        ("lat", "histogram", [1.0, 10.0], None),
        # exp-hist: max scale 3 -> 2^4 = 16 buckets + 2
        ("exp", "exp_histogram", [], -1),
        ("exp", "exp_histogram", [], 3),
        # exp-hist with only non-positive scales -> 1 bucket + 2
        ("expz", "exp_histogram", [], 0),
        ("expz", "exp_histogram", [], -2),
        # exp-hist hitting the 160 cap: scale 9 -> 2^10 = 1024 -> 160
        ("expcap", "exp_histogram", [], 9),
        ("g", "gauge", [], None),
    ]
    pts = spark.createDataFrame(
        rows,
        "metric string, metric_type string, "
        "explicit_bounds array<double>, scale int",
    )
    got = {
        r["metric"]: r for r in observed_metric_shapes(pts).collect()
    }
    assert got["lat"]["bounds_csv"] == "1.0,5.0,10.0"  # union, not either
    assert got["lat"]["n_bounds"] == 3
    assert got["lat"]["prom_multiplier"] == 3 + 1 + 2
    assert got["exp"]["scales_csv"] == "-1,3"
    assert got["exp"]["prom_multiplier"] == 16 + 2
    assert got["expz"]["prom_multiplier"] == 1 + 2
    assert got["expcap"]["prom_multiplier"] == 160 + 2
    assert got["g"]["prom_multiplier"] == 1
