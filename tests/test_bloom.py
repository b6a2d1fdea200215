"""Bloom-prefiltered exact membership: exactness, FP removal, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.bloom import (
    bitmap_candidates,
    build_bloom_bitmap,
    exact_membership,
    prefix_fingerprint,
)


@pytest.fixture(scope="module")
def splits(spark):
    train = spark.createDataFrame(
        [(i, f"train_val_{i % 40}") for i in range(200)], "id long, v string"
    )
    test = spark.createDataFrame(
        [(i, f"train_val_{i}") for i in range(20)]  # 20 members
        + [(100 + i, f"test_only_{i}") for i in range(80)],  # 80 non-members
        "id long, v string",
    )
    return train, test


def _exact_ids(train, test):
    return {
        r["id"]
        for r in test.join(
            train.select("v").distinct(), "v", "leftsemi"
        ).collect()
    }


def test_exact_at_default_params(splits):
    train, test = splits
    got = {r["id"] for r in exact_membership(train, test, "v").collect()}
    assert got == _exact_ids(train, test)
    assert len(got) == 20


@pytest.mark.parametrize("m_per_item,k", [(1, 1), (2, 2), (64, 8)])
def test_exact_even_with_saturated_filter(splits, m_per_item, k):
    """At m_per_item=1 the filter is saturated (FP rate near 1): the
    verify join must still make the answer exact."""
    train, test = splits
    got = {
        r["id"]
        for r in exact_membership(
            train, test, "v", m_per_item=m_per_item, k=k
        ).collect()
    }
    assert got == _exact_ids(train, test)


def test_prefilter_actually_prunes(splits):
    """With a reasonable filter the candidate set must be far smaller than
    the test domain (that's the whole point at scale)."""
    train, test = splits
    train_vals = train.select("v").distinct()
    n = train_vals.count()
    m, k = 16 * n, 4
    bitmap = build_bloom_bitmap(train_vals, "v", m, k)
    assert len(bitmap) == m // 8  # the filter is m BITS, not a relation
    cand = bitmap_candidates(
        test.select("v").distinct(), bitmap, "v", m, k
    ).count()
    # 20 true members; allow a small number of false positives
    assert 20 <= cand <= 30


def test_no_false_negatives_property(spark):
    """Bloom can never drop a true member, for any m/k — pinned on a
    domain engineered to collide heavily."""
    train = spark.range(500).select(
        F.concat(F.lit("x"), F.col("id")).alias("v")
    )
    test = spark.range(400, 600).select(
        F.concat(F.lit("x"), F.col("id")).alias("v"), F.col("id")
    )
    got = {
        r["id"]
        for r in exact_membership(
            train, test, "v", m_per_item=1, k=2
        ).collect()
    }
    assert got == set(range(400, 500))


def test_nulls_never_match(spark):
    train = spark.createDataFrame([("a",), (None,)], "v string")
    test = spark.createDataFrame([(1, None), (2, "a")], "id long, v string")
    got = {r["id"] for r in exact_membership(train, test, "v").collect()}
    assert got == {2}


def test_train_side_never_shuffled(splits):
    """Plan pin: every join in the membership plan is a broadcast join —
    the train relation must not appear under an Exchange hashpartitioning."""
    train, test = splits
    plan = (
        exact_membership(train, test, "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_prefix_fingerprint_semantics(spark):
    df = spark.createDataFrame(
        [("The Quick brown fox jumps over the lazy dog extra",),
         ("short one",)],
        "text string",
    )
    got = [r[0] for r in df.select(prefix_fingerprint("text")).collect()]
    assert got == [
        "the quick brown fox jumps over the lazy",
        "short one",
    ]


def test_bloom_driver_budget(spark):
    """r6 (VERDICT #6): a many-partition input must not collect one
    bitmap per partition — the position frame coalesces so the driver
    transfer stays under driver_budget_bytes, and the OR-reduced filter is
    bit-identical under any partitioning. 64 partitions x 128B bitmaps
    already exceed the 512-byte budget (cap 4), so the coalesce path runs
    without scheduling thousands of tasks; the cap arithmetic asserts
    cover the 4096-partition case."""
    import pandas as pd

    from otlp_cardinality_checker_spark.operators.bloom import (
        _collect_partition_cap,
        build_bloom_bitmap,
    )

    m, k = 1024, 3  # nbytes = 128
    # cap math: 4096 partitions x 128B bitmaps vs a 512-byte budget -> 4
    assert _collect_partition_cap(4096, 128, 512) == 4
    assert _collect_partition_cap(2, 128, 512) == 2  # never exceeds input
    assert _collect_partition_cap(10, 128, 1) == 1  # floor at 1

    vals = spark.createDataFrame(
        pd.DataFrame({"v": [f"val{i}" for i in range(500)]})
    ).repartition(64)
    tight = build_bloom_bitmap(vals, "v", m, k, driver_budget_bytes=512)
    default = build_bloom_bitmap(vals, "v", m, k)
    assert tight == default
    assert len(tight) == m // 8
