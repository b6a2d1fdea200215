"""Physical-plan quality gates.

These pin the scale-critical plan properties so regressions fail loudly:
parse -> enrich -> route must be a plain projection of the scan (no join,
no fact-side shuffle), the parse stage must stay JVM-side (no Python eval
nodes), and projections must prune columns down to the parquet scan.
"""

from __future__ import annotations

import contextlib
import io

import pyspark.sql.functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _node_names(plan: str) -> list[str]:
    """The operator name of every node of a "simple" mode plan."""
    return [
        line.lstrip(" :+-|*").split(" ")[0].split("(")[0]
        for line in plan.splitlines()
        if line.strip() and not line.startswith("==")
    ]


def test_enrich_route_has_no_join_or_exchange(spark, tiny_frames, tmp_path):
    """Over parquet-backed turns and dims, the routed frame's plan has no
    join node of any kind and no exchange: the dims are lookup maps, so
    the fact side is never shuffled or joined."""
    from otlp_cardinality_checker_spark.datagen import role_dim, tool_dim
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.operators.route import route_turns

    transcripts, _, _ = tiny_frames
    paths = []
    for name, df in (
        ("turns", transcripts), ("role_dim", role_dim()), ("tool_dim", tool_dim())
    ):
        paths.append(str(tmp_path / name))
        spark.createDataFrame(df).write.parquet(paths[-1])
    turns, rd, td = (spark.read.parquet(p) for p in paths)
    nodes = _node_names(
        plan_of(route_turns(enrich_turns(parse_turns(turns), rd, td)), "simple")
    )
    assert any(n == "FileScan" for n in nodes), nodes
    assert not [n for n in nodes if n.endswith("Join") or "Exchange" in n], nodes


def test_sql_parse_engine_has_no_python(tiny_routed):
    plan = plan_of(tiny_routed)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_column_pruning_reaches_scan(spark):
    # use a table no other test caches: cached plans shadow the FileScan
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = plan_of(agg)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_returnflag" in read_schema[0] and "l_quantity" in read_schema[0]
    assert "l_extendedprice" not in read_schema[0]
    assert "l_orderkey" not in read_schema[0]


def test_filter_pushdown_reaches_scan(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    plan = plan_of(
        orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    )
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "o_orderstatus" in pushed[0]


def test_key_stats_is_partial_final_hash_agg(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    plan = plan_of(key_stats(tiny_routed, exact=False))
    assert "HashAggregate" in plan
    # salted two-stage: sketch partials then union agg, all JVM-side
    assert "hll_sketch_agg" in plan or "hll_union_agg" in plan
    assert "BatchEvalPython" not in plan


def test_whole_stage_codegen_covers_severity_and_attrs(spark):
    # must be file-backed: Catalyst eagerly folds Project(LocalRelation).
    # Note: the template projection itself uses higher-order functions
    # (transform/filter lambdas) which Spark evaluates JVM-interpreted —
    # codegen does not support HOFs — so the codegen assertion targets the
    # regexp-only projections; the Python-free property is asserted for all.
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_transcripts,
    )

    df = parse_turns(load_transcripts(spark, "/root/testdata/sf0.001"))
    # attrs uses map_filter (also a HOF), so only the severity/taint
    # projection is codegen-eligible
    plan_sev = plan_of(
        df.select("severity_inferred", "has_invalid_utf8"), mode="simple"
    )
    assert "WholeStageCodegen" in plan_sev or "*(1)" in plan_sev
    plan_tmpl = plan_of(df.select("template"), mode="simple")
    assert "BatchEvalPython" not in plan_tmpl
    assert "FileScan parquet" in plan_tmpl


def test_minhash_verification_scores_candidates_only(spark):
    """The LSH stage must prune work: verification joins candidate pairs
    back to the shingle arrays (array_intersect per pair) instead of
    running the full inverted-index self-join (explode + equi-join on the
    shingle hash), which would cost the same as no LSH at all."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        minhash_near_dups,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(minhash_near_dups(docs, min_jaccard=0.7))
    assert "explode(shingles" not in plan


def test_topk_windows_are_two_stage(tiny_routed):
    """watched_values and key_skew, two salted_top_k callers, must never
    sort an unbounded key partition on one reducer: the first window
    ranks within (key, _salt)."""
    from otlp_cardinality_checker_spark.operators.aggregate import (
        key_skew,
        watched_values,
    )

    for df in (watched_values(tiny_routed), key_skew(tiny_routed)):
        assert "_salt" in plan_of(df)  # salted local top-k stage present


def test_fused_diff_scans_once(tiny_routed):
    """diff_from_predicate must read/parse the corpus ONCE: a single
    data FileScan, no sort-merge join, and the
    three-stage bounded aggregation chain — not the two-pass diff's
    doubled parse subtree."""
    from otlp_cardinality_checker_spark.operators.sessions import (
        diff_from_predicate,
    )

    from otlp_cardinality_checker_spark.operators.aggregate import key_stats
    from otlp_cardinality_checker_spark.operators.sessions import (
        diff_key_stats,
    )

    def fact_scans(p: str) -> int:
        # tiny_routed is cached, so its reads appear as InMemoryTableScan
        return p.count("InMemoryTableScan")

    pred = F.col("turn_idx") < 5
    # "simple" mode prints each node once ("formatted" repeats nodes in
    # the details section, double-counting scans)
    fused = plan_of(diff_from_predicate(tiny_routed, pred), "simple")
    two_pass = plan_of(
        diff_key_stats(
            key_stats(tiny_routed.where(pred), exact=True),
            key_stats(tiny_routed, exact=True),
        ),
        "simple",
    )
    assert "SortMergeJoin" not in fused
    assert fact_scans(fused) == 1
    # key_stats' own grouping branches mean the two-pass shape scans the
    # corpus at least twice (4 at HEAD); the fused form strictly wins.
    assert fact_scans(two_pass) > fact_scans(fused)


def test_training_ops_plan_shapes(spark, tiny_routed):
    """Scale-shape pins for the round-2 training ops:

    * pii_stats — pure Catalyst (no Python eval nodes)
    * stratified sample stats — scan + one exchange (the final hash-agg)
    * tfidf — the corpus-size scalar joins via broadcast, never a
      shuffled cartesian
    * capped jaccard — the hot-shingle anti-join broadcasts
    * key_skew — salted two-stage argmax present
    """
    from otlp_cardinality_checker_spark.operators.aggregate import key_skew
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        word_shingles,
    )
    from otlp_cardinality_checker_spark.operators.pii import pii_stats
    from otlp_cardinality_checker_spark.operators.sampling import (
        stratified_sample_stats,
    )
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    pii = plan_of(pii_stats(tiny_routed))
    assert "BatchEvalPython" not in pii and "ArrowEvalPython" not in pii

    samp = plan_of(stratified_sample_stats(docs, {"en": 0.5}, 0.1), "simple")
    assert samp.count("Exchange") == 1  # only the final aggregation shuffle
    assert "BatchEvalPython" not in samp

    tfidf = plan_of(tfidf_top_terms(docs))
    assert "BroadcastNestedLoopJoin" in tfidf  # 1-row N joins broadcast
    assert "CartesianProduct" not in tfidf

    capped = plan_of(exact_jaccard(word_shingles(docs), max_df=4))
    assert "BroadcastHashJoin" in capped and "LeftAnti" in capped

    skew = plan_of(key_skew(tiny_routed))
    assert "_salt" in skew  # two-stage argmax, no full-key single sort


def test_rollup_hierarchy_scans_raw_once(spark):
    """Multi-resolution rollup must not rescan the raw table per
    resolution: partials are checkpointed, so the downstream plan has NO
    parquet scan at all (the single scan ran during materialization)."""
    from otlp_cardinality_checker_spark.operators.rollup import (
        rollup_hierarchy,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = rollup_hierarchy(ev, ["event_type"], {"1h": 3600, "6h": 21600})
    assert "Scan parquet" not in plan_of(df)


def test_round3_plan_shapes(spark, tiny_routed):
    """Scale-shape pins for the round-3 additions:

    * service_overview — two per-service aggregates joined, no cartesian,
      no Python eval nodes
    * pattern_detail — the window runs over AGGREGATED (template,
      severity) rows, i.e. below it sits a hash-agg, and only one window
    * metric_shapes — one hash-agg over the points projection, pure
      Catalyst
    * attribute_services — the key filter is applied BEFORE the explode
      output reaches the aggregation (projection-level, not post-agg)
    """
    from otlp_cardinality_checker_spark.operators.metric_shapes import (
        observed_metric_shapes,
        synthetic_metric_points,
    )
    from otlp_cardinality_checker_spark.operators.overview import (
        attribute_services,
        pattern_detail,
        service_overview,
    )

    so = plan_of(service_overview(tiny_routed))
    assert "CartesianProduct" not in so
    assert "BatchEvalPython" not in so and "ArrowEvalPython" not in so

    pd_plan = plan_of(pattern_detail(tiny_routed), "simple")
    assert pd_plan.count("Window") == 1
    agg_pos = pd_plan.find("HashAggregate")
    win_pos = pd_plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # simple-mode plans print top-down: the Window node appears ABOVE the
    # aggregate that feeds it — raw rows never enter the window
    assert win_pos < agg_pos

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ms = plan_of(observed_metric_shapes(synthetic_metric_points(events)))
    assert "BatchEvalPython" not in ms and "ArrowEvalPython" not in ms

    asv = plan_of(
        attribute_services(tiny_routed, keys=["user_id"]), "simple"
    )
    assert "Generate" in asv  # the explode
    assert "user_id" in asv  # the key filter is in the plan, not client-side


def test_session6_plan_shapes(spark):
    """Scale-shape pins for the session-6 statistical operators:

    * code_detect — pure scan + ONE hash-agg: no explode (Generate), no
      window, no join, no Python eval nodes
    * shard_plan — NO corpus-wide single-partition sort: every Window
      has partition keys, and no Exchange is SinglePartition except the
      final tiny shard-grain collect
    * ks_drift — no WindowExec at all (triangular joins only)
    * cusum_drift — both windows share the group partitioning; the only
      full-data exchange is the (group, bucket) hash-agg
    """
    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift
    from otlp_cardinality_checker_spark.operators.packing import shard_plan
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        code_detect,
        ks_drift,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    cd = plan_of(code_detect(docs))
    assert "Generate" not in cd and "Window" not in cd
    assert "SortMergeJoin" not in cd and "BroadcastHashJoin" not in cd
    assert "BatchEvalPython" not in cd and "ArrowEvalPython" not in cd

    sp = plan_of(shard_plan(docs, budget=1000, block_size=64))
    # every Window node must carry partition keys: an empty-partition
    # window would print "windowspecdefinition(" with a leading ORDER
    # clause only — assert the banned single-partition window is absent
    for line in sp.splitlines():
        if "windowspecdefinition(" in line:
            assert "windowspecdefinition(source" in line.replace(
                "windowspecdefinition(gg.source", "windowspecdefinition(source"
            ) or "source" in line.split("windowspecdefinition(")[1][:60]

    ks = plan_of(ks_drift(docs))
    assert "Window" not in ks

    cu = plan_of(cusum_drift(ev))
    # formatted mode lists Exchange args separately: assert at least one
    # hash-partitioned exchange exists and both windows partition by grp
    assert "hashpartitioning" in cu
    assert "windowspecdefinition(grp" in cu


def test_global_rank_windows_are_two_stage(spark, tiny_routed):
    """r6: no declared pagination/top-k query may rank a data-sized frame
    on one reducer via a partitionless Window. global_top_k must get the
    optimizer's WindowGroupLimit (map-side top-k before the exchange —
    the engine's two-stage form, see the 20M-row soak), and no Window
    may run with an empty partition spec (the WindowExec
    single-partition warning shape): every `windowspecdefinition(` must
    carry a partition expression before its ORDER BY clause."""
    import re

    import pandas as pd

    from otlp_cardinality_checker_spark.operators.aggregate import (
        global_top_k,
        list_attributes,
    )
    from otlp_cardinality_checker_spark.operators.overview import (
        logs_by_service,
    )

    def assert_no_empty_partition_window(plan: str) -> None:
        # empty spec renders as windowspecdefinition(<order>, specifiedwindowframe...)
        # with NO partition expressions; a salted/constant spec renders as
        # windowspecdefinition(<part...>, <order> ASC/DESC, ...). Detect the
        # empty form: "windowspecdefinition(" immediately followed by a
        # column reference whose first comma-delimited token ends with
        # ASC NULLS FIRST / DESC NULLS LAST (i.e. it is an order key).
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            first = m.group(1).split(",")[0]
            assert " ASC" not in first and " DESC" not in first, (
                "partitionless window in plan: " + m.group(0)[:120]
            )

    df = spark.createDataFrame(
        pd.DataFrame({"k": [f"k{i}" for i in range(40)], "c": range(40)})
    )
    ranked = global_top_k(df, (F.desc("c"), F.asc("k")), k=5, salt_col="k")
    plan = plan_of(ranked)
    assert "WindowGroupLimit" in plan  # engine-side map-local top-k
    assert_no_empty_partition_window(plan)
    # exact equivalence with the naive single-window form
    from pyspark.sql import Window

    naive = (
        df.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("c"), F.asc("k"))),
        )
        .where(F.col("rank") <= 5)
    )
    assert sorted(map(tuple, ranked.collect())) == sorted(
        map(tuple, naive.collect())
    )

    # the swapped call sites keep the bounded shape
    plan = plan_of(logs_by_service(tiny_routed, limit=8, offset=1))
    assert "WindowGroupLimit" in plan
    assert_no_empty_partition_window(plan)

    cat = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": [f"a{i}" for i in range(10)],
                "count": range(10),
                "est_cardinality": range(10),
                "signal_types": ["chat"] * 10,
                "first_seen": ["2026-01-01"] * 10,
                "last_seen": ["2026-01-02"] * 10,
            }
        )
    )
    plan = plan_of(list_attributes(cat, limit=3, offset=1))
    assert "WindowGroupLimit" in plan
    assert_no_empty_partition_window(plan)


def test_list_attributes_rejects_unbounded_limit(spark):
    """An unbounded listing would rank the whole catalog in one
    partitionless window; list_attributes refuses it instead."""
    import pytest

    from otlp_cardinality_checker_spark.operators.aggregate import (
        list_attributes,
    )

    cat = spark.createDataFrame(
        [("a", 1, 1, "chat")], "key string, count long, "
        "est_cardinality long, signal_types string",
    )
    for bad in (0, -1):
        with pytest.raises(ValueError, match="limit must be > 0"):
            list_attributes(cat, limit=bad)


def test_char_entropy_projection_stack_compiles(spark, char_entropy_ref):
    """char_entropy must stay a STACKED projection chain:
    the single-expression form inlined each length/replace count 3x into
    the entropy sum, blew the 64KB codegen method limit, and silently
    fell back to interpreted eval recomputing lower(text) 52x/row (2.3x
    slower at sf0.1). Pin: counts and total are bound attributes in the
    final projection (CollapseProject must not undo the stack)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        char_entropy,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(char_entropy(docs))
    # four Project nodes: lower, 26 counts, total, entropy. Count the
    # "(n) Project" detail headers; the tree line and the header would
    # otherwise count every node twice
    assert plan.count(") Project") >= 4
    # the entropy projection consumes the total ATTRIBUTE, not an
    # inlined 26-term re-sum of length/replace expressions: log() and
    # replace() must live in DIFFERENT Project detail sections. The
    # formatted plan renders one-argument log as ln(
    assert "_ce_total" in plan
    for section in plan.split("\n\n"):
        assert not ("replace(" in section and "ln(" in section), (
            "entropy projection re-inlined the replace-based counts"
        )
    # results identical to the scalar reference (spot value check)
    sample = docs.orderBy("doc_id").limit(50)
    rows = {r["doc_id"]: r for r in char_entropy(sample).collect()}
    ref = {
        r["doc_id"]: char_entropy_ref(r["text"])
        for r in sample.select("doc_id", "text").collect()
    }
    assert rows.keys() == ref.keys()
    for k in rows:
        assert rows[k]["n_letters"] == ref[k][0]
        assert abs(rows[k]["entropy"] - ref[k][1]) < 1e-9
