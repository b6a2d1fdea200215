"""Streaming resume-equivalence test (FIXTURES.md §7).

Run (a) straight through vs (b) kill after the first micro-batch and resume
from checkpoint: all sinks must be byte-identical.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


def _stamp_mtimes(*paths) -> None:
    """Give ``paths`` increasing mtimes, 2 s apart and in the past: the
    file source takes one file per micro-batch in mtime order."""
    now = time.time()
    for i, p in enumerate(paths):
        mt = now - 2.0 * (len(paths) - i)
        os.utime(p, (mt, mt))


def _read_all_sinks(spark, out_dir):
    """Each sink of ``run_stream``'s ``sinks/`` table, in its own columns."""
    from otlp_cardinality_checker_spark.operators.route import SINK_COLUMNS

    routed = spark.read.parquet(f"{out_dir}/sinks").toPandas()
    return {
        sink: routed.loc[routed["sink"] == sink, list(cols)]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        for sink, cols in SINK_COLUMNS.items()
    }


def test_stream_source_lookup_writes_no_truth(tmp_path, monkeypatch):
    """``run_stream`` needs only the transcripts: looking up its source on
    a dataset written without truth tables must not add them."""
    from otlp_cardinality_checker_spark import datagen
    from otlp_cardinality_checker_spark.streaming.stream import _stream_paths

    monkeypatch.setattr(datagen, "DATA_ROOT", tmp_path)
    out = datagen.ensure_dataset("sf0.0002", with_truth=False)
    transcripts, src_dir = _stream_paths("sf0.0002")
    assert transcripts == str(out / "transcripts.parquet")
    assert src_dir == str(out / "transcripts.parquet" / "stream_src")
    assert not (out / "_SUCCESS_TRUTH").exists()
    assert not (out / "truth.parquet").exists()


@pytest.mark.slow
def test_kill_resume_equivalence(spark, tmp_path):
    from otlp_cardinality_checker_spark.streaming.stream import (
        read_lineage,
        run_stream,
    )

    straight = tmp_path / "straight"
    resumed = tmp_path / "resumed"

    n_full = run_stream(
        spark, SF, str(straight / "out"), str(straight / "ckpt")
    )
    assert n_full >= 2, "fixture must produce multiple micro-batches"

    n_first = run_stream(
        spark,
        SF,
        str(resumed / "out"),
        str(resumed / "ckpt"),
        stop_after_batches=1,
    )
    assert n_first >= 1
    n_rest = run_stream(spark, SF, str(resumed / "out"), str(resumed / "ckpt"))
    assert n_rest >= 1

    a = _read_all_sinks(spark, str(straight / "out"))
    b = _read_all_sinks(spark, str(resumed / "out"))
    for sink in a:
        pd.testing.assert_frame_equal(a[sink], b[sink])

    lineage = read_lineage(str(resumed / "out"))
    assert {r["sink"] for r in lineage} == {"chat", "error", "tool_call"}
    total_routed = sum(r["n_rows"] for r in lineage)
    assert total_routed == sum(len(frame) for frame in a.values())
    # per-partition lineage: partition sizes must account for the sink's
    # rows and expose the skew/starvation envelope on the WRITE partitioning
    for r in lineage:
        assert r["min_partition_rows"] <= r["max_partition_rows"]
        assert r["n_partitions"] >= 1
        assert 1 <= r["n_nonempty_partitions"] <= r["n_partitions"]
        assert r["max_partition_rows"] * r["n_partitions"] >= r["n_rows"]
        if r["n_nonempty_partitions"] < r["n_partitions"]:
            assert r["min_partition_rows"] == 0  # starvation is visible
        else:
            assert r["min_partition_rows"] >= 1


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermarked event-time window (append mode): a window row finalizes
    once the watermark passes its end, and an event arriving LATER than
    the watermark is dropped — bounded state, documented loss semantics."""
    import pandas as pd

    from otlp_cardinality_checker_spark.streaming.stream import (
        run_windowed_stream,
    )

    src = tmp_path / "events_src"
    src.mkdir()

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "event_type", "user_id", "value", "ts"]
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.astype({"event_id": "int64", "user_id": "int64"}).to_parquet(
            src / name, index=False
        )

    # batch 0: window [10:00, 11:00) gets 3 events; a 13:00 event advances
    # the max event time so the watermark (30 min) will pass 11:00
    write_batch(
        "a.parquet",
        [
            (1, "click", 1, 1.0, "2026-01-01 10:05:00"),
            (2, "click", 2, 1.0, "2026-01-01 10:15:00"),
            (3, "click", 3, 1.0, "2026-01-01 10:25:00"),
            (4, "click", 4, 1.0, "2026-01-01 13:00:00"),
        ],
    )
    # batch 1: the advanced watermark takes effect; the 10:00 window
    # finalizes during THIS batch (watermark application lags one batch)
    write_batch("b.parquet", [(6, "click", 6, 1.0, "2026-01-01 13:30:00")])
    # batch 2: a LATE event for the already-finalized 10:00 window
    write_batch("c.parquet", [(5, "click", 5, 99.0, "2026-01-01 10:30:00")])
    # file mtime order == processing order
    _stamp_mtimes(*(src / f for f in ("a.parquet", "b.parquet", "c.parquet")))

    out = tmp_path / "out"
    run_windowed_stream(
        spark, str(src), str(out), str(tmp_path / "ckpt"),
        window_duration="1 hour", watermark="30 minutes",
    )
    got = {
        (str(r["window_start"]), r["n_events"], r["total_value"])
        for r in spark.read.parquet(str(out / "windowed")).collect()
    }
    # the 10:00 window finalized with exactly the 3 on-time events; the
    # late 99.0-value event was dropped, not restated
    assert ("2026-01-01 10:00:00", 3, 3.0) in got
    assert not any(v == 102.0 or n == 4 for (_, n, v) in got)


def test_sessionize_stream_semantics(spark, tmp_path):
    """applyInPandasWithState sessionization: close-by-successor,
    close-by-timeout, cross-batch state carry, and the still-open tail
    staying unemitted — on a hand-built two-batch timeline.

    gap=30min, watermark=45min, final watermark = 02:30 - 45min = 01:45;
    a trailing session emits iff end + 30min < 01:45."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        sessionize_stream,
    )

    t = lambda s: pd.Timestamp(f"2026-01-01 {s}")
    rows = [
        # conv, turn, tool, ts
        ("c1", 0, None, t("00:00:00")),   # sess1 (closed by 02:00 row)
        ("c1", 1, "web", t("00:00:10")),
        ("c1", 2, None, t("02:00:00")),   # sess2: open tail, NOT emitted
        ("c1", 3, None, t("02:00:05")),
        ("c2", 0, None, t("00:00:00")),   # timeout-emitted (no-data batch)
        ("c3", 0, None, t("01:00:00")),   # batch A ...
        ("c3", 1, None, t("01:00:10")),   # batch A
        ("c3", 2, "db", t("01:00:20")),   # batch B, within gap -> merges
        ("c4", 0, None, t("02:30:00")),   # sentinel: tmax, open tail
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "tool", "ts"]
    ).assign(role="user", text="hi")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    src = tmp_path / "src"
    src.mkdir()
    cutoff = t("01:00:15")
    pdf[pdf.ts < cutoff][cols].to_parquet(src / "a.parquet", index=False)
    pdf[pdf.ts >= cutoff][cols].to_parquet(src / "b.parquet", index=False)
    _stamp_mtimes(src / "a.parquet", src / "b.parquet")

    sessionize_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        gap="30 minutes", watermark="45 minutes",
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "out" / "sessions"))
        .collect()
    )
    assert got == [
        ("c1", "2026-01-01 00:00:00", "2026-01-01 00:00:10", 2, 1),
        ("c2", "2026-01-01 00:00:00", "2026-01-01 00:00:00", 1, 0),
        ("c3", "2026-01-01 01:00:00", "2026-01-01 01:00:20", 3, 1),
    ]


def test_sessionize_stream_checkpoint_restart(spark, tmp_path):
    """Keyed state must survive a full query restart: run the stream with
    only batch A on disk, then add batch B and run AGAIN from the same
    checkpoint — the union of outputs must equal the single-run result
    (state for open sessions is restored, not rebuilt)."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        sessionize_stream,
    )

    t = lambda s: pd.Timestamp(f"2026-01-01 {s}")
    rows = [
        ("c1", 0, None, t("00:00:00")),
        ("c1", 1, "web", t("00:00:10")),
        ("c1", 2, None, t("02:00:00")),
        ("c1", 3, None, t("02:00:05")),
        ("c2", 0, None, t("00:00:00")),
        ("c3", 0, None, t("01:00:00")),
        ("c3", 1, None, t("01:00:10")),
        ("c3", 2, "db", t("01:00:20")),
        ("c4", 0, None, t("02:30:00")),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "tool", "ts"]
    ).assign(role="user", text="hi")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    cutoff = t("01:00:15")

    def run_split(workdir, restart):
        src = workdir / "src"
        src.mkdir(parents=True)
        kw = dict(gap="30 minutes", watermark="45 minutes")
        pdf[pdf.ts < cutoff][cols].to_parquet(src / "a.parquet", index=False)
        # b (written below, after any first run) is newer than a
        _stamp_mtimes(src / "a.parquet")
        if restart:
            sessionize_stream(
                spark, str(src), str(workdir / "out"),
                str(workdir / "ckpt"), **kw,
            )
        pdf[pdf.ts >= cutoff][cols].to_parquet(src / "b.parquet", index=False)
        sessionize_stream(
            spark, str(src), str(workdir / "out"), str(workdir / "ckpt"), **kw
        )
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                str(workdir / "out" / "sessions")
            ).collect()
        )

    single = run_split(tmp_path / "single", restart=False)
    restarted = run_split(tmp_path / "restarted", restart=True)
    assert restarted == single and len(single) == 3


def test_dedup_stream_incremental_resume(spark, tmp_path):
    """Dedup-at-ingest: cross-batch digest state + checkpoint resume.

    Phase 1 streams two files; phase 2 adds a third file containing
    duplicates of phase-1 texts and re-runs with the SAME checkpoint — only
    the new file is processed, and its rows must be flagged as duplicates
    against the persisted digest state."""
    import pandas as pd

    from otlp_cardinality_checker_spark.streaming.stream import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def doc(i, text):
        return {"doc_id": i, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    # batch 0: unique texts + an IN-batch duplicate (docs 1 and 2)
    pd.DataFrame([doc(1, "aaa"), doc(2, "aaa"), doc(3, "bbb")]).to_parquet(
        src / "f0.parquet", index=False
    )
    pd.DataFrame([doc(4, "ccc"), doc(5, "bbb")]).to_parquet(
        src / "f1.parquet", index=False
    )
    # f2 (written below, after the first run) is newer than f1
    _stamp_mtimes(src / "f0.parquet", src / "f1.parquet")
    assert dedup_stream(spark, str(src), out, ckpt) == 2

    # batch 2 (after resume): duplicates of earlier texts + one new
    pd.DataFrame([doc(6, "aaa"), doc(7, "ddd")]).to_parquet(
        src / "f2.parquet", index=False
    )
    assert dedup_stream(spark, str(src), out, ckpt) == 1  # only the new file

    got = {
        r["doc_id"]: r["is_first"]
        for r in spark.read.parquet(f"{out}/decisions").collect()
    }
    assert got == {1: 1, 2: 0, 3: 1, 4: 1, 5: 0, 6: 0, 7: 1}


def test_stream_sinks_keep_a_conversation_in_one_file(spark, tmp_path):
    """In each micro-batch, a conversation's rows of a sink are in one
    file. The micro-batch is written in its own partitioning, with no
    ``conv_id`` shuffle: each staged source file is one split, so one
    task writes each sink, and the lineage records that one task."""
    from otlp_cardinality_checker_spark.streaming.stream import (
        read_lineage,
        run_stream,
    )

    out = tmp_path / "out"
    assert run_stream(spark, SF, str(out), str(tmp_path / "ckpt")) >= 2
    files = (
        spark.read.parquet(str(out / "sinks"))
        .groupBy("_batch_id", "sink", "conv_id")
        .agg(F.countDistinct("_metadata.file_path").alias("n_files"))
    )
    assert files.count() > 0
    assert files.where(F.col("n_files") != 1).count() == 0
    assert {r["n_partitions"] for r in read_lineage(str(out))} == {1}


def test_stream_progress_metrics_persisted(spark, tmp_path):
    """run_stream must persist the engine's per-micro-batch progress
    (rows, rows/sec, stage durations) next to the lineage table."""
    import json as _json

    from otlp_cardinality_checker_spark.streaming.stream import run_stream

    out = tmp_path / "out"
    n = run_stream(spark, SF, str(out), str(tmp_path / "ckpt"))
    pfile = out / "stream_progress.json"
    assert pfile.exists()
    prog = _json.loads(pfile.read_text())
    data_batches = [p for p in prog if (p["num_input_rows"] or 0) > 0]
    assert len(data_batches) >= 2  # multiple micro-batches carried rows
    for p in data_batches:
        assert p["batch_id"] is not None
        assert p["duration_ms"]  # per-stage duration map present


def test_loop_stream_monoid_merge_edges(spark, tmp_path):
    """current_loops' run-length monoid vs batch template_loops on
    crafted boundary cases: a run spanning all three slices, a
    single-run slice stitched on both sides, null templates at a
    boundary, and a conversation absent from the middle slice."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        loop_partials,
        template_loops,
    )
    from otlp_cardinality_checker_spark.streaming.stream import current_loops
    import pyspark.sql.functions as F

    rows = [
        # conv a: A A | A | A B  -> middle slice is a single run stitched
        # on both sides; total run of A spans all three slices (max_run 4)
        ("a", 1, "A"), ("a", 2, "A"), ("a", 3, "A"), ("a", 4, "A"), ("a", 5, "B"),
        # conv b: NULL | NULL B  -> null templates stitch across boundary
        ("b", 1, None), ("b", 2, None), ("b", 3, "B"),
        # conv c: turns only in slices 1 and 3 (absent from slice 2):
        # C | (nothing) | C  -> contiguity per conv still holds, runs stitch
        ("c", 1, "C"), ("c", 5, "C"),
        # conv d: no stitch at boundary (A | B)
        ("d", 2, "A"), ("d", 3, "B"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, template string"
    )
    slices = [
        turns.where(F.col("turn_idx") <= 2),
        turns.where((F.col("turn_idx") > 2) & (F.col("turn_idx") <= 3)),
        turns.where(F.col("turn_idx") > 3),
    ]
    out = tmp_path / "out" / "loop_partials"
    for i, sl in enumerate(slices):
        loop_partials(sl).withColumn("_batch_id", F.lit(i)).write.mode(
            "append"
        ).partitionBy("_batch_id").parquet(str(out))

    got = sorted(
        map(tuple, current_loops(spark, str(tmp_path / "out")).collect())
    )
    want = sorted(map(tuple, template_loops(turns).collect()))
    assert got == want
    by_conv = {r[0]: r for r in got}
    assert by_conv["a"][4] == 4 and by_conv["a"][5] is True   # max_run, flagged
    assert by_conv["b"][3] == 1                                # null stitch: 1 repeat pair
    assert by_conv["c"][2] == 1                                # C|C -> one run
    assert by_conv["d"][2] == 2                                # no stitch


def test_card_stream_equals_batch_and_replay_safe(spark, tmp_path):
    """Streamed exact cardinality == batch count(DISTINCT); streamed HLL
    estimate == batch hll_sketch_agg estimate (register-max union is
    split-invariant); checkpoint-wiped replay leaves state unchanged."""
    import shutil

    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.checksum import (
        NULL_SENTINEL,
    )
    from otlp_cardinality_checker_spark.streaming.stream import (
        card_stream,
        current_cardinality,
    )

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select("event_id", "ts", "user_id", "event_type", "value")
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(src / "part0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "part1.parquet", index=False)

    n_batches = card_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert n_batches >= 2
    streamed = sorted(
        tuple(r)
        for r in current_cardinality(spark, str(tmp_path / "out")).collect()
    )
    sval = F.coalesce(F.col("user_id").cast("string"), F.lit(NULL_SENTINEL))
    batch = sorted(
        tuple(r)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(sval).alias("exact_cardinality"),
            F.hll_sketch_estimate(F.hll_sketch_agg(sval, 12)).alias(
                "est_cardinality"
            ),
        )
        .collect()
    )
    assert streamed == batch

    shutil.rmtree(tmp_path / "ckpt")
    card_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    replayed = sorted(
        tuple(r)
        for r in current_cardinality(spark, str(tmp_path / "out")).collect()
    )
    assert replayed == batch


def test_markers_stream_equals_batch_and_replay_safe(spark, tmp_path):
    """Streamed marker audit == batch response_markers exactly (both
    counters are plain sums, split-invariant); checkpoint-wiped replay
    overwrites its batch partitions instead of double counting."""
    import shutil

    from otlp_cardinality_checker_spark.datagen import ensure_dataset
    from otlp_cardinality_checker_spark.operators.conversation import (
        response_markers,
    )
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_markers,
        markers_stream,
    )

    turns = spark.read.parquet(str(ensure_dataset(SF) / "transcripts.parquet"))
    pdf = turns.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(src / "part0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "part1.parquet", index=False)

    n_batches = markers_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert n_batches >= 2
    streamed = sorted(
        tuple(r)
        for r in current_markers(spark, str(tmp_path / "out")).collect()
    )
    batch = sorted(tuple(r) for r in response_markers(turns).collect())
    assert streamed == batch

    shutil.rmtree(tmp_path / "ckpt")
    markers_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    replayed = sorted(
        tuple(r)
        for r in current_markers(spark, str(tmp_path / "out")).collect()
    )
    assert replayed == batch


def test_cusum_stream_equals_batch_and_replay_safe(spark, tmp_path):
    """Streamed CUSUM state (sum-merged bucket counts + the batch tail)
    must equal the batch monitor row-for-row, and a checkpoint-wiped
    replay of the same files must leave the state unchanged (dynamic
    partition overwrite, no double counting)."""
    import shutil

    from otlp_cardinality_checker_spark.operators.anomaly import cusum_drift
    from otlp_cardinality_checker_spark.streaming.stream import (
        cusum_stream,
        current_cusum,
    )

    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select("event_id", "event_type", "user_id", "value", "ts")
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(src / "part0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "part1.parquet", index=False)

    n_batches = cusum_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert n_batches >= 2
    streamed = sorted(
        tuple(r) for r in current_cusum(spark, str(tmp_path / "out")).collect()
    )
    batch = sorted(tuple(r) for r in cusum_drift(ev).collect())
    assert streamed == batch

    # replay: wipe the checkpoint, re-run over the same files — dynamic
    # overwrite must absorb the duplicate batch ids
    shutil.rmtree(tmp_path / "ckpt")
    cusum_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    replayed = sorted(
        tuple(r) for r in current_cusum(spark, str(tmp_path / "out")).collect()
    )
    assert replayed == streamed


def test_trending_stream_equals_batch_and_replay_safe(spark, tmp_path):
    import shutil

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        trending_terms,
    )
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_transcripts,
    )
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_trending,
        trending_stream,
    )

    turns = load_transcripts(spark, "/root/testdata/sf0.001")
    pdf = turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(src / "p0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "p1.parquet", index=False)

    nb = trending_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert nb >= 2
    streamed = sorted(
        tuple(r) for r in current_trending(spark, str(tmp_path / "out")).collect()
    )
    batch = sorted(tuple(r) for r in trending_terms(turns, k=5).collect())
    assert streamed == batch

    shutil.rmtree(tmp_path / "ckpt")
    trending_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    replayed = sorted(
        tuple(r) for r in current_trending(spark, str(tmp_path / "out")).collect()
    )
    assert replayed == streamed


def test_drain_stops_query_and_raises_past_deadline(monkeypatch):
    """A query still running at the drain deadline is stopped and the
    caller gets TimeoutError instead of partial state (Spark-free: the
    query never terminates and never reports itself inactive)."""
    from otlp_cardinality_checker_spark.streaming import stream

    class StuckQuery:
        isActive = True
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    monkeypatch.setattr(stream, "DRAIN_TIMEOUT_S", 0.05)
    query = StuckQuery()
    with pytest.raises(TimeoutError):
        stream._drain(query)
    assert query.stopped
