"""Stream-stream watermarked join: batch equivalence + state eviction."""

from __future__ import annotations

import datetime as dt
import tempfile
from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def _write_batches(src: Path, frames: list[pd.DataFrame]) -> None:
    import os
    import time

    src.mkdir(parents=True, exist_ok=True)
    now = time.time()
    for i, pdf in enumerate(frames):
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = src / f"part{i}.parquet"
        pdf.to_parquet(path, index=False)
        # mtime order == micro-batch order: 2 s apart, in the past
        mt = now - 2.0 * (len(frames) - i)
        os.utime(path, (mt, mt))


def _rows(user, *specs):
    """specs: (event_id, type, minutes_offset, value)."""
    t0 = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "event_id": [s[0] for s in specs],
            "event_type": [s[1] for s in specs],
            "user_id": [user] * len(specs),
            "value": [float(s[3]) for s in specs],
            "ts": [t0 + dt.timedelta(minutes=s[2]) for s in specs],
        }
    )


def test_stream_join_equals_batch_join(spark):
    """The driver query contract: emitted pairs == plain batch join."""
    import __spark_entry__ as entry

    got = entry.q_attribution_join_stream(spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    c = ev.where("event_type = 'click'").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.round("value", 3).alias("purchase_value"),
    )
    exact = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 30 minutes")),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        "purchase_value",
    )
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0


def test_stream_join_evicts_late_state(spark):
    """State-bounding proof: once the watermark passes, a late-arriving
    partner does NOT produce a pair — the left row's state was evicted
    (bounded state is the whole point at 10^12 events)."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        run_stream_stream_join,
    )

    tmp = Path(tempfile.mkdtemp(prefix="ssjoin_evict_"))
    # Two Spark semantics shape this scenario: the GLOBAL watermark is
    # the MIN across both sides' watermark nodes (so batch A advances
    # BOTH sides to ~350min), and state cleanup runs at batch END with
    # the batch's own watermark (so the eviction of click 1 lands at the
    # end of batch B, one batch after the advance). The late partner
    # must therefore arrive in batch C: by then click 1's state is gone
    # and no pair can be produced.
    _write_batches(
        tmp / "left",
        [
            _rows(1, (1, "click", 0, 1.0), (2, "click", 400, 1.0)),
            _rows(1, (3, "click", 500, 1.0)),
            _rows(1, (4, "click", 600, 1.0)),
        ],
    )
    _write_batches(
        tmp / "right",
        [
            _rows(1, (10, "purchase", 360, 5.0)),
            _rows(1, (12, "purchase", 460, 5.0)),
            _rows(1, (11, "purchase", 2, 5.0)),
        ],
    )
    run_stream_stream_join(
        spark,
        str(tmp / "left"),
        str(tmp / "right"),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        horizon="5 minutes",
        watermark="10 minutes",
    )
    res = spark.read.parquet(str(tmp / "out" / "joined"))
    pairs = {(r["l_id"], r["r_id"]) for r in res.collect()}
    # the late partner (click 1, purchase 11) must NOT appear
    assert (1, 11) not in pairs
    # sanity: nothing else matches either (gaps all exceed the horizon)
    assert pairs == set()


def test_stream_join_emits_cross_batch_pair(spark):
    """The positive twin of the eviction test: a partner arriving in the
    NEXT micro-batch within the watermark window IS joined."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        run_stream_stream_join,
    )

    tmp = Path(tempfile.mkdtemp(prefix="ssjoin_cross_"))
    _write_batches(
        tmp / "left",
        [
            _rows(1, (1, "click", 0, 1.0)),
            _rows(1, (2, "click", 30, 1.0)),
        ],
    )
    _write_batches(
        tmp / "right",
        [
            _rows(1, (10, "purchase", 1, 5.0)),
            _rows(1, (11, "purchase", 3, 5.0)),  # partner of click 1
        ],
    )
    run_stream_stream_join(
        spark,
        str(tmp / "left"),
        str(tmp / "right"),
        str(tmp / "out"),
        str(tmp / "ckpt"),
        horizon="5 minutes",
        watermark="10 minutes",
    )
    res = spark.read.parquet(str(tmp / "out" / "joined"))
    pairs = {(r["l_id"], r["r_id"]) for r in res.collect()}
    assert (1, 10) in pairs  # same-batch pair
    assert (1, 11) in pairs  # cross-batch pair within watermark
