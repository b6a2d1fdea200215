"""Streaming aggregate state + session persistence tests."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.mark.slow
def test_streaming_state_equals_batch(spark, tmp_path):
    """Micro-batched mergeable state == one-shot batch aggregate (U1):
    counts exact, cardinality within HLL band, regardless of batch cuts."""
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats
    from otlp_cardinality_checker_spark.plans.pipeline import routed_turns
    from otlp_cardinality_checker_spark.streaming.stream import (
        current_key_stats,
        run_stream,
    )

    out = tmp_path / "out"
    n = run_stream(spark, SF, str(out), str(tmp_path / "ckpt"))
    assert n >= 2
    streamed = {
        (r["sink"], r["key"]): r for r in current_key_stats(spark, str(out)).collect()
    }
    batch = {
        (r["sink"], r["key"]): r
        for r in key_stats(routed_turns(spark, SF), exact=True).collect()
    }
    assert set(streamed) == set(batch)
    for k, b in batch.items():
        s = streamed[k]
        assert s["count"] == b["count"]
        exact_card = b["est_cardinality"]
        assert abs(s["est_cardinality"] - exact_card) <= max(1, 0.1 * exact_card)
        assert s["value_samples"] == b["value_samples"]


def test_session_save_load_merge_roundtrip(spark, tiny_routed, tmp_path):
    """S3/S4: snapshot -> parquet (binary sketches) -> load -> merge keeps
    counts exact and cardinality within band (serializer round-trip test,
    reference serializer_test.go:13-520 analogue)."""
    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.aggregate import key_stats
    from otlp_cardinality_checker_spark.operators.sessions import (
        estimate,
        load_session,
        merge_snapshots,
        save_session,
        snapshot_key_stats,
    )

    a = tiny_routed.where(F.col("turn_idx") < 5)
    b = tiny_routed.where(F.col("turn_idx") >= 5)
    save_session(snapshot_key_stats(a), str(tmp_path / "sess_a"))
    save_session(snapshot_key_stats(b), str(tmp_path / "sess_b"))

    merged = estimate(
        merge_snapshots(
            load_session(spark, str(tmp_path / "sess_a")),
            load_session(spark, str(tmp_path / "sess_b")),
        )
    ).toPandas()
    exact = key_stats(tiny_routed, exact=True).toPandas()
    m = merged.merge(exact, on=["sink", "key"], suffixes=("_m", "_e"))
    assert len(m) == len(exact) == len(merged)
    assert (m["count_m"] == m["count_e"]).all()
    assert (m["value_samples_m"] == m["value_samples_e"]).all()
    for _, r in m.iterrows():
        assert abs(r["est_cardinality_m"] - r["est_cardinality_e"]) <= max(
            1, 0.1 * r["est_cardinality_e"]
        )


@pytest.mark.slow
def test_state_compaction_and_replay_safety(spark, tmp_path):
    """compact_state folds per-batch partials behind a watermark: the
    merged view is unchanged by compaction, and a checkpoint replay that
    re-materializes an already-folded batch partition cannot double-count
    (partitions at or below the watermark are ignored on read)."""
    import shutil
    from pathlib import Path

    from otlp_cardinality_checker_spark.streaming.stream import (
        compact_state,
        current_key_stats,
        run_stream,
    )

    out = tmp_path / "out"
    n = run_stream(spark, SF, str(out), str(tmp_path / "ckpt"))
    assert n >= 2

    def snap():
        return sorted(
            tuple(r)
            for r in current_key_stats(spark, str(out))
            .select("sink", "key", "count", "value_samples")
            .collect()
        )

    before = snap()
    state_dir = Path(out) / "agg_state"
    first_part = sorted(state_dir.glob("_batch_id=*"))[0]
    backup = tmp_path / "replayed_partition"
    shutil.copytree(first_part, backup)

    wm = compact_state(spark, str(out))
    assert wm >= 0
    assert snap() == before  # compaction is invisible to readers

    # compacting again with no new batches is a no-op
    assert compact_state(spark, str(out)) == wm

    # simulate a replay: the folded batch partition reappears
    shutil.rmtree(first_part, ignore_errors=True)
    shutil.copytree(backup, first_part)
    assert snap() == before  # watermark excludes it: no double count


def test_compaction_gc_keeps_previous_version_one_cycle(spark, tmp_path):
    """Superseded snapshot versions are GC'd one compaction LATE: a reader
    that resolved CURRENT just before the pointer swap can still finish
    reading the previous version; only versions two generations back are
    deleted."""
    import shutil
    from pathlib import Path

    from otlp_cardinality_checker_spark.streaming.stream import (
        compact_state,
        run_stream,
    )

    out = tmp_path / "out"
    run_stream(spark, SF, str(out), str(tmp_path / "ckpt"))
    state_dir = Path(out) / "agg_state"
    comp_dir = Path(out) / "agg_state_compacted"
    a_part = sorted(state_dir.glob("_batch_id=*"))[0]

    wm1 = compact_state(spark, str(out))
    v1 = comp_dir / f"v{wm1}"
    assert v1.exists()

    # new batch arrives -> second compaction supersedes v1 but KEEPS it
    shutil.copytree(a_part, state_dir / "_batch_id=99")
    wm2 = compact_state(spark, str(out))
    v2 = comp_dir / f"v{wm2}"
    assert wm2 == 99 and v2.exists()
    assert v1.exists()  # deferred GC: one extra cycle of grace
    assert (comp_dir / "CURRENT").read_text().strip() == v2.name

    # third compaction: v1 is now two generations back -> collected
    shutil.copytree(a_part, state_dir / "_batch_id=100")
    wm3 = compact_state(spark, str(out))
    assert wm3 == 100
    assert not v1.exists()
    assert v2.exists() and (comp_dir / f"v{wm3}").exists()


def _write_state_batches(tiny_routed, state_dir) -> None:
    """Two micro-batches' state snapshots, ``_batch_id=0`` and ``=1``, from
    disjoint halves of the tiny routed frame."""
    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.sessions import (
        snapshot_key_stats,
    )

    early = F.col("turn_idx") < 5
    for batch_id, part in enumerate((early, ~early)):
        snapshot_key_stats(tiny_routed.where(part)).write.parquet(
            str(state_dir / f"_batch_id={batch_id}")
        )


def test_state_read_is_one_job(spark, tiny_routed, count_jobs, tmp_path):
    """After compaction, a state read is one Spark job, with no batch
    above the watermark and with one: the listed directories are read
    with the declared state schema (no schema-inference jobs) and merged
    on one partition (no shuffle)."""
    import shutil

    from otlp_cardinality_checker_spark.streaming.stream import (
        compact_state,
        current_key_stats,
    )

    out = tmp_path / "out"
    state = out / "agg_state"
    _write_state_batches(tiny_routed, state)
    assert compact_state(spark, str(out)) == 1

    def read():
        return count_jobs(lambda: current_key_stats(spark, str(out)).collect())

    rows, jobs = read()
    assert rows and jobs == 1
    shutil.copytree(state / "_batch_id=0", state / "_batch_id=2")
    rows, jobs = read()
    assert rows and jobs == 1


def test_compaction_folds_exactly_the_batches_it_listed(
    spark, tiny_routed, tmp_path, monkeypatch
):
    """A batch committed while compact_state runs, after it listed the
    batch directories and before it read them, stays out of the snapshot:
    the new watermark does not cover it, so it is read once, from
    ``agg_state``, and folded by the next compaction."""
    import shutil

    from otlp_cardinality_checker_spark.streaming import stream

    out = tmp_path / "out"
    state = out / "agg_state"
    _write_state_batches(tiny_routed, state)

    def counts(out_dir):
        return sorted(
            (r["sink"], r["key"], r["count"])
            for r in stream.current_key_stats(spark, str(out_dir)).collect()
        )

    # the same state with batch 7 committed before any compaction
    ref = tmp_path / "ref"
    shutil.copytree(out, ref)
    shutil.copytree(state / "_batch_id=0", ref / "agg_state" / "_batch_id=7")
    want = counts(ref)
    assert want != counts(out)

    merged_state = stream._merged_state

    def late_commit(*args):
        shutil.copytree(state / "_batch_id=0", state / "_batch_id=7")
        return merged_state(*args)

    monkeypatch.setattr(stream, "_merged_state", late_commit)
    assert stream.compact_state(spark, str(out)) == 1
    monkeypatch.undo()
    assert counts(out) == want
    assert stream.compact_state(spark, str(out)) == 7
    assert counts(out) == want


@pytest.mark.slow
def test_state_compaction_crash_safety(spark, tmp_path):
    """The compaction commit is a single atomic CURRENT-pointer swap: a
    crash that leaves a fully-written but unpublished version directory
    (data + manifest present, pointer not moved) is invisible to readers
    — watermark and merged view are unchanged — and the next compaction
    supersedes the garbage cleanly."""
    from pathlib import Path

    from otlp_cardinality_checker_spark.streaming.stream import (
        _compaction_watermark,
        compact_state,
        current_key_stats,
        run_stream,
    )

    out = tmp_path / "out"
    run_stream(spark, SF, str(out), str(tmp_path / "ckpt"))

    def snap():
        return sorted(
            tuple(r)
            for r in current_key_stats(spark, str(out))
            .select("sink", "key", "count", "value_samples")
            .collect()
        )

    before = snap()
    wm0 = compact_state(spark, str(out))
    comp_dir = Path(out) / "agg_state_compacted"

    # simulate the crashed half of a later compaction: a complete version
    # directory exists with a HIGHER watermark, but CURRENT never moved
    ghost = comp_dir / f"v{wm0 + 100}"
    (ghost / "data").mkdir(parents=True)
    import json as _json

    (ghost / "_manifest.json").write_text(
        _json.dumps({"max_batch_id": wm0 + 100})
    )
    assert _compaction_watermark(str(out)) == wm0  # pointer rules, not dirs
    assert snap() == before

    # a dangling pointer (names a version dir that was never completed)
    # must read as "no snapshot", not crash or half-read
    cur = (comp_dir / "CURRENT").read_text()
    (comp_dir / "CURRENT").write_text("v999999")
    assert _compaction_watermark(str(out)) == -1
    (comp_dir / "CURRENT").write_text(cur)
    assert _compaction_watermark(str(out)) == wm0

    # recovery: the next compaction run is a no-op (nothing new) and the
    # ghost dir from the crashed attempt does not corrupt it
    assert compact_state(spark, str(out)) == wm0
    assert snap() == before


def test_duration_parser_accepts_spark_vocabulary():
    from otlp_cardinality_checker_spark.streaming.stream import (
        _duration_to_seconds,
    )

    assert _duration_to_seconds("90 seconds") == 90
    assert _duration_to_seconds("1 day") == 86400
    assert _duration_to_seconds("30s") == 30
    assert _duration_to_seconds("1.5 hours") == 5400
    assert _duration_to_seconds("  2  minutes ") == 120
    assert _duration_to_seconds("250 ms") == 0.25
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fortnight"):
        _duration_to_seconds("1 fortnight")
    with _pytest.raises(ValueError, match="unsupported duration"):
        _duration_to_seconds("ten minutes")
