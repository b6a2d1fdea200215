"""Structured Streaming pipeline: continuous ingest with resume + lineage.

The reference is a continuously-ingesting accumulator with monotone state and
snapshot/restore (`SURVEY.md §2.10`); the Spark-native equivalent is:

* ``readStream`` over the transcripts table, one file per micro-batch
  (:func:`_source`; file source here, Iceberg streaming source on a real
  cluster),
* the SAME stage functions as the batch plan (parse/enrich/route are pure
  DataFrame transforms, so batch and streaming share one implementation),
  built once on the streaming frame (:func:`run_stream`),
* ``foreachBatch`` making two writes per micro-batch, one Spark job each
  (:func:`_process_batch`): one routed write partitioned by sink, then a
  mergeable aggregate partial. Each overwrites the micro-batch's own
  ``_batch_id=<n>`` directory (:func:`_write_batch`), the replay contract
  every stream in this module relies on,
* a **lineage table**: one row per (batch_id, sink) with routed-row counts
  and wall time — the per-partition/micro-stage metrics the north rule asks
  for.

Every query is started by :func:`_start` as ``availableNow`` and waited for
by :func:`_drain`, which stops it and raises ``TimeoutError`` once
``DRAIN_TIMEOUT_S`` has passed.

Kill/resume equivalence is tested in tests/test_streaming.py: running the
stream to completion in one go, or killing it between micro-batches and
restarting from the checkpoint, must produce identical sink contents.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..datagen import ensure_dataset
from ..operators.enrich import enrich_turns
from ..operators.parse import parse_turns
from ..operators.route import route_turns, write_sink_partitions
from ..sources.transcripts import (
    TRANSCRIPT_EVENT_SCHEMA,
    TRANSCRIPT_SCHEMA,
    load_dims,
)

# longest a stream may run before _drain stops it and raises
DRAIN_TIMEOUT_S = 300.0
_POLL_S = 0.2


def _source(spark: SparkSession, schema: str, src_dir: str) -> DataFrame:
    """File stream over ``src_dir``, one file per micro-batch in mtime
    order. Callers rely on that order: the registry wrappers' fixed batch
    splits, and ``loop_stream``'s contiguous turn slices."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def _write_batch(df: DataFrame, batch_id: int, path: Path) -> None:
    """Write ``df`` into ``path/_batch_id=<batch_id>``, replacing that
    directory and no other.

    This is the module's replay contract: a checkpoint replay re-runs a
    micro-batch under the same batch_id, so it overwrites its own earlier
    output instead of double-inserting it (exactly-once effect on top of
    checkpoint replay). Readers of ``path`` discover ``_batch_id`` as a
    partition column and merge the partitions — the Spark analogue of the
    reference store's merge-on-insert
    (internal/storage/memory/store.go:252-317); on a real cluster this is
    a MERGE INTO an Iceberg table keyed by batch_id.

    The directory is the write's own target, so the plan carries no
    ``lit(batch_id)`` column (a per-batch literal is inlined into the
    generated code and forces fresh classes every batch) and needs no
    dynamic-partition sort or staging rename.
    """
    df.write.mode("overwrite").parquet(str(path / f"_batch_id={batch_id}"))


def _start(writer: DataStreamWriter, checkpoint_dir: str) -> StreamingQuery:
    """Start ``writer`` as an availableNow query: it processes what the
    source holds now, then terminates."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _drain(
    query: StreamingQuery, stop_when: Callable[[], bool] | None = None
) -> None:
    """Wait until ``query`` terminates or ``stop_when()`` holds.

    A failed query re-raises its error. The query is stopped on every way
    out; past ``DRAIN_TIMEOUT_S`` this raises ``TimeoutError`` instead of
    handing the caller partial state with the query still running.
    """
    deadline = time.monotonic() + DRAIN_TIMEOUT_S
    try:
        while not query.awaitTermination(_POLL_S):
            if stop_when is not None and stop_when():
                return
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream still running after {DRAIN_TIMEOUT_S:g} s"
                )
    finally:
        if query.isActive:
            query.stop()


def _foreach_batch(
    spark: SparkSession,
    schema: str,
    src_dir: str,
    checkpoint_dir: str,
    on_batch: Callable[[DataFrame, int], None],
) -> int:
    """Run ``on_batch(df, batch_id)`` on every micro-batch of ``src_dir``;
    returns the number of micro-batches run."""
    done: list[int] = []

    def counted(df: DataFrame, batch_id: int) -> None:
        on_batch(df, batch_id)
        done.append(batch_id)

    writer = _source(spark, schema, src_dir).writeStream.foreachBatch(counted)
    _drain(_start(writer, checkpoint_dir))
    return len(done)


def _process_batch(routed: DataFrame, batch_id: int, out_dir: str) -> None:
    """Write one routed micro-batch into
    ``sinks/_batch_id=<n>/sink=<name>/``, then its aggregate-state
    snapshot and its lineage file.

    The two writes run one after the other over the persisted routed
    frame: the first fills the cache, and two concurrent first actions
    would each parse the batch. The snapshot needs ``attrs``, which the
    sink files do not store, so the cache stays. Both writes replace only
    this batch's ``_batch_id=<n>`` directory (see :func:`_write_batch`).

    A warm micro-batch runs 2 Spark jobs: the sink write, which fills the
    cache as it goes, then the snapshot. Neither has an exchange: the
    dims are lookup maps built once per stream (:func:`run_stream`), the
    sink write keeps the batch's own partitioning, and the snapshot folds
    ``routed.coalesce(1)``. A micro-batch is one source file
    (``maxFilesPerTrigger=1``); while that file is one split (at most
    ``spark.sql.files.maxPartitionBytes``, 16m in ``session.py``),
    ``routed`` is one partition, so the snapshot loses no parallelism and
    a conversation's rows of a sink land in one file with no shuffle (the
    ``conv_id``-clustered source, :func:`_ensure_stream_source`, keeps a
    conversation in one micro-batch).

    Lineage rows, in ``SINKS`` order, come from the sink files' footers:
    each of the write's ``n_partitions`` tasks (the batch's partition
    count) writes one file per sink it has rows for, so a starved task is
    a missing file and sets the sink's ``min_partition_rows`` to 0.
    ``wall_sec`` ends with the sink write.
    """
    import pyarrow.parquet as pq

    from ..operators.sessions import snapshot_key_stats

    t0 = time.time()
    routed.persist()
    try:
        sink_dirs = write_sink_partitions(
            routed,
            str(Path(out_dir) / "sinks" / f"_batch_id={batch_id}"),
            n_parts=None,
        )
        wall_sec = round(time.time() - t0, 3)
        n_parts = routed.rdd.getNumPartitions()
        lineage_rows = []
        for sink, sink_dir in sink_dirs.items():
            sizes = [
                pq.ParquetFile(str(f)).metadata.num_rows
                for f in Path(sink_dir).glob("*.parquet")
            ]
            lineage_rows.append({
                "batch_id": batch_id,
                "sink": sink,
                "n_rows": sum(sizes),
                "n_partitions": n_parts,
                "n_nonempty_partitions": len(sizes),
                "min_partition_rows": 0 if len(sizes) < n_parts else min(sizes),
                "max_partition_rows": max(sizes, default=0),
                "wall_sec": wall_sec,
            })
        # mergeable aggregate state: one partial snapshot (counts, HLL
        # sketch binaries, sample arrays) of O(#keys) rows, folded and
        # written as one partition, so one file
        _write_batch(
            snapshot_key_stats(routed.coalesce(1)),
            batch_id,
            Path(out_dir) / "agg_state",
        )
    finally:
        routed.unpersist()
    lineage_dir = Path(out_dir) / "lineage"
    lineage_dir.mkdir(parents=True, exist_ok=True)
    (lineage_dir / f"batch_{batch_id}.json").write_text(
        json.dumps(lineage_rows)
    )


def run_stream(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    stop_after_batches: int | None = None,
) -> int:
    """Run the streaming pipeline until the source is drained (or until
    `stop_after_batches` micro-batches, to simulate a kill). Returns the
    number of micro-batches executed in this invocation.

    parse -> enrich -> route is built once, on the streaming frame, so the
    dims are read once per call and each micro-batch reaches
    :func:`_process_batch` routed."""
    transcripts, src_dir = _stream_paths(sf_dir)
    _ensure_stream_source(spark, transcripts, src_dir)
    routed = route_turns(
        enrich_turns(
            parse_turns(_source(spark, TRANSCRIPT_EVENT_SCHEMA, src_dir)),
            *load_dims(spark, sf_dir),
        )
    )

    done: list[int] = []

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _process_batch(df, batch_id, out_dir)
        done.append(batch_id)

    query = _start(routed.writeStream.foreachBatch(on_batch), checkpoint_dir)
    try:
        _drain(
            query,
            None
            if stop_after_batches is None
            else lambda: len(done) >= stop_after_batches,
        )
    finally:
        # engine-reported per-micro-batch metrics (input rows, rows/sec,
        # per-stage durations) persisted next to the lineage table — the
        # observability feed an operator scrapes, complementing the
        # per-partition counts _process_batch records
        progress = [
            {
                "batch_id": p.get("batchId"),
                "num_input_rows": p.get("numInputRows"),
                "processed_rows_per_sec": p.get("processedRowsPerSecond"),
                "duration_ms": p.get("durationMs"),
            }
            # StreamingQueryProgress is a dict subclass in PySpark
            for p in (query.recentProgress or [])
        ]
        if progress:
            pdir = Path(out_dir)
            pdir.mkdir(parents=True, exist_ok=True)
            existing = []
            pfile = pdir / "stream_progress.json"
            if pfile.exists():
                existing = json.loads(pfile.read_text())
            seen = {e["batch_id"] for e in existing}
            existing.extend(
                p for p in progress if p["batch_id"] not in seen
            )
            pfile.write_text(json.dumps(existing))
    return len(done)


def _stream_paths(sf_dir: str) -> tuple[str, str]:
    """(transcripts directory, stream source directory) of ``sf_dir``'s
    dataset. A parquet read of the directory takes only its top-level
    files, not those under ``stream_src/``.

    The lookup needs no truth tables, so, as in ``load_dims``, a dataset
    written without them is read as it is, not regenerated with them.
    """
    parts = ensure_dataset(sf_dir, with_truth=False) / "transcripts.parquet"
    return str(parts), str(parts / "stream_src")


def _ensure_stream_source(
    spark: SparkSession, transcripts: str, src_dir: str
) -> None:
    """Split the transcripts into 4 ``conv_id``-clustered files, one
    micro-batch each, so a conversation is in one micro-batch; while each
    file is one split, :func:`_process_batch` writes its rows of a sink
    into one file without a shuffle."""
    if (Path(src_dir) / "_SUCCESS").exists():
        return
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(transcripts)
    df.repartition(4, "conv_id").write.mode("overwrite").parquet(src_dir)


def _current_snapshot_dir(out_dir: str) -> Path | None:
    """Resolve the CURRENT pointer to the live compacted-snapshot version
    directory, or None when no compaction has completed yet."""
    comp_dir = Path(out_dir) / "agg_state_compacted"
    ptr = comp_dir / "CURRENT"
    if not ptr.exists():
        return None
    vdir = comp_dir / ptr.read_text().strip()
    return vdir if (vdir / "_manifest.json").exists() else None


def _watermark(vdir: Path | None) -> int:
    """The highest batch_id folded into the snapshot version ``vdir``; -1
    for no snapshot."""
    if vdir is None:
        return -1
    manifest = json.loads((vdir / "_manifest.json").read_text())
    return int(manifest["max_batch_id"])


def _compaction_watermark(out_dir: str) -> int:
    return _watermark(_current_snapshot_dir(out_dir))


def _batches_above(out_dir: str, watermark: int) -> dict[int, Path]:
    """The ``agg_state/_batch_id=<n>`` directories with n above
    ``watermark``, by batch_id, listed in Python."""
    dirs = {
        int(p.name.split("=")[1]): p
        for p in (Path(out_dir) / "agg_state").glob("_batch_id=*")
    }
    return {n: p for n, p in sorted(dirs.items()) if n > watermark}


def _merged_state(
    spark: SparkSession, batch_dirs: Iterable[Path], vdir: Path | None
) -> DataFrame:
    """Merge exactly the per-batch partials in ``batch_dirs`` with the
    compacted snapshot version ``vdir``, if there is one.

    One read of the listed directories with the declared state schema: no
    schema-inference job, no partition discovery over every batch ever
    written, and a batch committed after the caller listed is not read.
    The merge folds on one partition (:func:`merge_snapshots`), so a state
    read is one Spark job.
    """
    from ..operators.sessions import STATE_SCHEMA, merge_snapshots

    paths = [str(p) for p in batch_dirs]
    if vdir is not None:
        paths.append(str(vdir / "data"))
    return merge_snapshots(spark.read.schema(STATE_SCHEMA).parquet(*paths))


def compact_state(spark: SparkSession, out_dir: str) -> int:
    """Fold all per-batch partial snapshots into ONE compacted snapshot.

    Without compaction the merge-on-read cost of :func:`current_key_stats`
    grows with the number of micro-batches ever run; compaction keeps it
    O(compacted + new batches). Replay safety: the snapshot's manifest
    records the highest folded ``batch_id`` (the compaction watermark) and
    the read path ignores batch partitions at or below it, so a checkpoint
    replay that re-materializes an already-folded batch partition cannot
    double-count. The fold reads exactly the batch directories listed
    here, the ones the new watermark covers: a batch committed meanwhile
    stays above it, to be read once.

    Crash safety: the merged data AND its watermark manifest are written
    into a fresh versioned directory (``v<watermark>``), and only then does
    a single atomic ``os.replace`` of the ``CURRENT`` pointer publish them
    TOGETHER. A crash at any point leaves readers on the previous
    consistent (data, watermark) pair — the new version directory is
    simply garbage that the next successful compaction supersedes. This is
    exactly the snapshot-pointer commit protocol of an Iceberg MERGE INTO
    + snapshot-expire on the state table. The merged state is one
    partition, written as one file. Returns the live watermark.
    """
    import os
    import shutil

    comp_dir = Path(out_dir) / "agg_state_compacted"
    prev = _current_snapshot_dir(out_dir)
    watermark = _watermark(prev)
    batches = _batches_above(out_dir, watermark)
    if not batches:
        return watermark
    merged = _merged_state(spark, batches.values(), prev)
    new_watermark = max(batches)
    vdir = comp_dir / f"v{new_watermark}"
    if vdir.exists():  # leftover from a crashed attempt — never published
        shutil.rmtree(vdir)
    merged.write.mode("overwrite").parquet(str(vdir / "data"))
    (vdir / "_manifest.json").write_text(
        json.dumps({"max_batch_id": new_watermark})
    )
    tmp_ptr = comp_dir / "CURRENT.tmp"
    tmp_ptr.write_text(vdir.name)
    os.replace(tmp_ptr, comp_dir / "CURRENT")  # the ONE atomic publish
    # deferred GC: keep the immediately-superseded version one extra
    # compaction cycle — a concurrent reader that resolved the CURRENT
    # pointer just before the swap may still be reading it; versions two
    # generations back can have no such reader (their grace period was the
    # whole previous compaction interval)
    keep = {vdir.name} | ({prev.name} if prev is not None else set())
    for old in comp_dir.glob("v*"):
        if old.name not in keep:
            shutil.rmtree(old, ignore_errors=True)
    return new_watermark


def current_key_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final-merge the accumulated per-batch partial aggregate state.

    Counts sum exactly; sketches union via hll_union_agg; min-10 samples
    recombine exactly (min-10 of min-10s) — so the streaming state equals
    the batch-mode aggregate regardless of micro-batch boundaries or how
    often :func:`compact_state` ran in between. Batch partitions at or
    below the compaction watermark are excluded (replay safety); the
    watermark and the snapshot come from one resolution of ``CURRENT``.
    """
    from ..operators.sessions import estimate

    vdir = _current_snapshot_dir(out_dir)
    batches = _batches_above(out_dir, _watermark(vdir))
    return estimate(_merged_state(spark, batches.values(), vdir))


def read_lineage(out_dir: str):
    rows = []
    for f in sorted((Path(out_dir) / "lineage").glob("batch_*.json")):
        rows.extend(json.loads(f.read_text()))
    return rows


SESSION_OUT_SCHEMA = (
    "conv_id string, session_start string, session_end string, "
    "n_turns long, n_tool_calls long"
)
_SESSION_STATE_SCHEMA = "start_ns long, last_ns long, n_turns long, n_tool long"


def sessionize_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    watermark: str = "45 minutes",
) -> None:
    """Custom stateful operator: event-time session-gap splitting per
    conversation via ``applyInPandasWithState`` (SURVEY §2.10 — the
    reference's continuously-accumulating per-entity state, expressed as
    Spark's arbitrary-stateful-streaming primitive rather than a built-in
    window).

    Semantics (deterministic given a fixed micro-batch split):

    * rows group by ``conv_id``; within a conversation, a quiet period
      longer than ``gap`` starts a new session;
    * a session closes EITHER when a later row of the same conversation
      arrives past the gap (closed-by-successor — emitted in that batch)
      OR when the event-time watermark passes ``session_end + gap``
      (closed-by-timeout via ``GroupStateTimeout.EventTimeTimeout``);
    * state per conversation is four longs — bounded regardless of
      conversation length, and keyed state shards across executors, so
      10^12 turns stream through with O(#active conversations) state.

    All per-batch work is vectorized pandas over Arrow batches (numpy
    diff/cumsum + one groupby per conversation-chunk); no per-row Python.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ns = int(_duration_to_seconds(gap) * 1_000_000_000)
    gap_ms = gap_ns // 1_000_000

    def _row(conv_id: str, start_ns: int, last_ns: int, n: int, ntool: int):
        fmt = "%Y-%m-%d %H:%M:%S"
        return {
            "conv_id": conv_id,
            "session_start": pd.Timestamp(start_ns).strftime(fmt),
            "session_end": pd.Timestamp(last_ns).strftime(fmt),
            "n_turns": n,
            "n_tool_calls": ntool,
        }

    def close_sessions(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            start_ns, last_ns, n, ntool = state.get
            state.remove()
            yield pd.DataFrame([_row(conv_id, start_ns, last_ns, n, ntool)])
            return
        rows = pd.concat(list(pdfs)).sort_values(["ts", "turn_idx"])
        ts = rows["ts"].astype("datetime64[ns]").astype("int64").to_numpy()
        tool = rows["tool"].notna().to_numpy()
        if state.exists:
            s_start, s_last, s_n, s_ntool = state.get
        else:
            s_start = s_last = None
        # vectorized gap split: a break before row i iff the quiet period
        # since the previous event (carried state for i=0) exceeds the gap
        brk = np.empty(len(ts), dtype=bool)
        brk[0] = s_last is None or (ts[0] - s_last) > gap_ns
        brk[1:] = np.diff(ts) > gap_ns
        sid = np.cumsum(brk)  # 0 == continuation of the carried session
        agg = (
            pd.DataFrame({"sid": sid, "ts": ts, "tool": tool})
            .groupby("sid", sort=True)
            .agg(start=("ts", "min"), end=("ts", "max"),
                 n=("ts", "size"), ntool=("tool", "sum"))
        )
        closed = []
        if s_last is not None:
            if brk[0]:
                # carried session closed by a successor past the gap
                closed.append(_row(conv_id, s_start, s_last, s_n, s_ntool))
            else:
                first = agg.index[0]
                agg.loc[first, "start"] = s_start
                agg.loc[first, "n"] += s_n
                agg.loc[first, "ntool"] += s_ntool
        for r in agg.iloc[:-1].itertuples():  # all but the still-open tail
            closed.append(_row(conv_id, r.start, r.end, int(r.n), int(r.ntool)))
        tail = agg.iloc[-1]
        state.update(
            (int(tail["start"]), int(tail["end"]),
             int(tail["n"]), int(tail["ntool"]))
        )
        state.setTimeoutTimestamp(int(tail["end"]) // 1_000_000 + gap_ms)
        if closed:
            yield pd.DataFrame(closed)

    turns = (
        _source(spark, TRANSCRIPT_EVENT_SCHEMA, src_dir)
        .select("conv_id", "turn_idx", "tool", "ts")
        .withWatermark("ts", watermark)
    )
    sessions = turns.groupBy("conv_id").applyInPandasWithState(
        close_sessions,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    writer = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(Path(out_dir) / "sessions"))
    )
    _drain(_start(writer, checkpoint_dir))


DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def dedup_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Dedup-at-ingest: incremental exact dedup with cross-batch digest
    state (first-seen wins).

    Each micro-batch of documents is hashed (md5 of text), deduped within
    the batch (min doc_id per digest), then anti-joined against the
    accumulated digest-state table: digests already seen in an EARLIER
    batch are duplicates. Decisions and new digests are written with
    :func:`_write_batch`, and the state read excludes partitions >= the
    current batch_id, so a replayed batch never sees its own earlier write
    as "prior state".

    Scale shape: state is (digest, first_doc_id) — 16 bytes + id per unique
    document, shuffled only on the digest equi-join; the document text
    never enters the state or the join.

    Returns the number of micro-batches executed.
    """
    state_dir = Path(out_dir) / "digest_state"

    def on_batch(df: DataFrame, batch_id: int) -> None:
        hashed = df.withColumn("text_hash", F.md5(F.col("text")))
        batch_first = hashed.groupBy("text_hash").agg(
            F.min("doc_id").alias("_batch_first")
        )
        d = hashed.join(batch_first, "text_hash")
        prior_parts = [
            p
            for p in state_dir.glob("_batch_id=*")
            if int(p.name.split("=")[1]) < batch_id
        ]
        if prior_parts:
            seen = (
                spark.read.option("basePath", str(state_dir))
                .parquet(*[str(p) for p in prior_parts])
                .select("text_hash")
                .distinct()
                .withColumn("_seen", F.lit(True))
            )
            d = d.join(seen, "text_hash", "left").withColumn(
                "_unseen", F.col("_seen").isNull()
            )
        else:
            d = d.withColumn("_unseen", F.lit(True))
        decisions = d.select(
            "doc_id",
            "text_hash",
            (
                F.col("_unseen") & (F.col("doc_id") == F.col("_batch_first"))
            ).cast("int").alias("is_first"),
        )
        _write_batch(decisions, batch_id, Path(out_dir) / "decisions")
        new_digests = (
            d.where(F.col("_unseen"))
            .select("text_hash", F.col("_batch_first").alias("first_doc_id"))
            .distinct()
        )
        _write_batch(new_digests, batch_id, state_dir)

    return _foreach_batch(spark, DOC_SCHEMA, src_dir, checkpoint_dir, on_batch)


_DURATION_UNITS = {
    # the unit vocabulary Spark's CalendarInterval parser accepts, plus the
    # compact suffixes ("30s", "5m") it also allows in duration strings
    "us": 1e-6, "microsecond": 1e-6, "microseconds": 1e-6,
    "ms": 1e-3, "millisecond": 1e-3, "milliseconds": 1e-3,
    "s": 1, "second": 1, "seconds": 1,
    "m": 60, "min": 60, "minute": 60, "minutes": 60,
    "h": 3600, "hour": 3600, "hours": 3600,
    "d": 86400, "day": 86400, "days": 86400,
    "w": 604800, "week": 604800, "weeks": 604800,
}


def _duration_to_seconds(s: str) -> float:
    """Parse a Spark duration string ('30 minutes', '1 day', '90s', '1.5
    hours') into seconds, raising a descriptive error on anything Spark's
    own CalendarInterval parser would also reject."""
    import re

    m = re.fullmatch(r"\s*([0-9]+(?:\.[0-9]+)?)\s*([A-Za-z]+)\s*", s)
    if not m or m.group(2).lower() not in _DURATION_UNITS:
        raise ValueError(
            f"unsupported duration string {s!r}: expected '<number> <unit>' "
            f"with unit one of {sorted(set(_DURATION_UNITS))}"
        )
    return float(m.group(1)) * _DURATION_UNITS[m.group(2).lower()]


EVENT_SCHEMA = "event_id long, event_type string, user_id long, value double, ts timestamp"


def run_windowed_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> None:
    """Event-time tumbling-window aggregate with a watermark (SURVEY §2.10
    / build-brief streaming semantics): append-mode output — a window row
    is emitted exactly once, when the watermark passes its end, and rows
    arriving later than the watermark are DROPPED from state instead of
    growing it forever. At 10^12 events this bound on state is what keeps
    the stream runnable; the trade (documented Spark semantics) is that
    too-late data is lost rather than restated."""
    agg = (
        _source(spark, EVENT_SCHEMA, src_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(Path(out_dir) / "windowed"))
    )
    _drain(_start(writer, checkpoint_dir))


def run_stream_stream_join(
    spark: SparkSession,
    left_src: str,
    right_src: str,
    out_dir: str,
    checkpoint_dir: str,
    horizon: str = "30 minutes",
    watermark: str = "2 hours",
    shuffle_partitions: int | None = None,
) -> None:
    """Watermarked STREAM-STREAM inner join (the last Structured
    Streaming operator family the repo didn't exercise): left events
    joined to right events of the same user within ``horizon`` after
    them — the classic click→purchase attribution shape.

    State-bound semantics (what makes this runnable at 10^12 events):
    both sides carry a watermark and the join predicate bounds the
    time range, so Spark evicts left rows once the watermark passes
    ts + horizon and right rows once it passes ts — state is
    O(events inside the watermark window), never the whole stream.
    With watermark > horizon, an inner join emits EXACTLY the batch
    join's pairs (no match can be evicted before its partner arrives
    when micro-batches are time-split), which is the exact
    batch-equivalence contract the DuckDB oracle checks.

    ``shuffle_partitions`` sizes the join's state stores for the run
    (set + restored around the query): a stream-stream join commits TWO
    state stores per shuffle partition per micro-batch, so a gate-scale
    fixture at the session's wide default pays tens of store commits per
    trigger for kilobytes of state. Production runs size it to the
    cluster as usual (state-store partitioning is fixed at the first run
    of a checkpoint, so this is a per-checkpoint choice)."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    left = (
        _source(spark, EVENT_SCHEMA, left_src)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("value").alias("l_value"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _source(spark, EVENT_SCHEMA, right_src)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("value").alias("r_value"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"""
            l_user = r_user
            AND r_ts >= l_ts
            AND r_ts <= l_ts + interval {horizon}
            """
        ),
        "inner",
    )
    try:
        writer = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(Path(out_dir) / "joined"))
        )
        _drain(_start(writer, checkpoint_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def quantile_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "n_chars",
    group_col: str = "lang",
) -> int:
    """Streaming quantiles via the mergeable octave-quarter sketch
    (operators/quantiles.py): each micro-batch contributes ONE partial —
    its (group, bucket_hi, cnt) histogram rows — written with
    :func:`_write_batch`.

    Because the sketch merge is union + sum and the bucketing is
    deterministic integer arithmetic, the merged streaming state is
    BIT-IDENTICAL to the batch sketch over the same rows — the estimates
    are therefore hash-oracle-checkable against the batch SQL oracle, a
    stronger guarantee than the usual "approximately agrees" streaming
    sketch story.

    Scale shape: per batch, one map-side-combined hash-agg collapses the
    micro-batch to <= (#groups x ~4*64 buckets) rows; the state table
    grows by that bounded amount per batch and compacts by re-aggregation
    (current_quantiles merges on read). Raw values never enter state.

    Returns the number of micro-batches executed.
    """
    from ..operators.quantiles import quantile_partials

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            quantile_partials(df, value_col, group_col),
            batch_id,
            Path(out_dir) / "quantile_partials",
        )

    return _foreach_batch(spark, DOC_SCHEMA, src_dir, checkpoint_dir, on_batch)


def current_quantiles(
    spark: SparkSession,
    out_dir: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_col: str = "lang",
) -> DataFrame:
    """Merge all streamed partials (union + re-aggregate — the sketch's
    additive merge) and fold to per-group quantile estimates."""
    from ..operators.quantiles import merge_partials, quantile_estimates

    partials = spark.read.parquet(
        str(Path(out_dir) / "quantile_partials")
    ).select(group_col, "bucket_hi", "cnt")
    return quantile_estimates(merge_partials(partials), qs, group_col)


def cms_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "user_id",
) -> int:
    """Streaming count-min sketch: each micro-batch contributes its
    (depth, bucket, count) counter table (operators/cms.py), written with
    :func:`_write_batch`. CMS merge is cell-wise addition, so the merged
    streaming state is BIT-IDENTICAL to the batch sketch, and estimates
    hash-match a batch SQL oracle.

    Scale shape: state grows by <= depth*width (4x256) rows per batch and
    compacts by re-aggregation on read; raw values never enter state.
    Returns the number of micro-batches executed.
    """
    from ..operators.cms import cms_build

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            cms_build(df, value_col), batch_id, Path(out_dir) / "cms_partials"
        )

    return _foreach_batch(
        spark, EVENT_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_cms(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge all streamed CMS partials (cell-wise addition) into the
    current counter table."""
    from ..operators.cms import cms_merge

    return cms_merge(
        spark.read.parquet(str(Path(out_dir) / "cms_partials")).select(
            "depth", "bucket", "count"
        )
    )


TURN_TEMPLATE_SCHEMA = "conv_id string, turn_idx int, template string"


def loop_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Streaming stuck-agent loop detection: each micro-batch of
    (conv_id, turn_idx, template) turns contributes one per-conversation
    run-summary partial (operators/conversation.loop_partials), written
    with :func:`_write_batch`.

    Unlike the quantile/CMS partials, run-length state is NOT union+sum:
    a template run can span a micro-batch boundary. The partial therefore
    carries the boundary data (first/last run template + length) and
    ``current_loops`` merges adjacent slices with the run-length MONOID
    (stitch last/first runs when their templates match null-safely) —
    merged state is BIT-IDENTICAL to the batch template_loops over the
    same turns, which is what the driver oracle checks.

    Requires micro-batches to be CONTIGUOUS turn-ranges (each batch holds
    a global turn_idx slice), which availableNow + ordered source files
    provides. Returns the number of micro-batches executed.
    """
    from ..operators.conversation import loop_partials

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            loop_partials(df), batch_id, Path(out_dir) / "loop_partials"
        )

    return _foreach_batch(
        spark, TURN_TEMPLATE_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_loops(
    spark: SparkSession, out_dir: str, flag_run: int = 3
) -> DataFrame:
    """Fold all streamed loop partials into per-conversation loop stats
    (schema-identical to operators/conversation.template_loops).

    The fold is the run-length monoid over turn-ordered slices, applied
    per conversation as a PURE CATALYST aggregate fold: partials collect
    into a min_turn-sorted struct array (length = #micro-batches, tiny)
    and F.aggregate stitches adjacent slices JVM-side — no Python
    workers at all (an applyInPandas-per-conv variant measured ~16 s at
    2000 convs purely in per-group Arrow/pandas overhead; this fold is
    sub-second). Interpreted-HOF CSE caveat does not bite: the lambda
    runs once per micro-batch per conversation over scalar fields.
    """
    partials = spark.read.parquet(str(Path(out_dir) / "loop_partials"))

    # min_turn FIRST: sort_array orders struct arrays lexicographically
    ps = F.sort_array(
        F.collect_list(
            F.struct(
                "min_turn",
                "n_turns",
                "n_runs",
                "max_run",
                "first_template",
                "first_run",
                "last_template",
                "last_run",
            )
        )
    )

    def _merge(acc, p):
        stitch = acc["last_template"].eqNullSafe(p["first_template"])
        stitched = acc["last_run"] + p["first_run"]
        return F.struct(
            acc["min_turn"].alias("min_turn"),
            (acc["n_turns"] + p["n_turns"]).alias("n_turns"),
            F.when(stitch, acc["n_runs"] + p["n_runs"] - 1)
            .otherwise(acc["n_runs"] + p["n_runs"])
            .alias("n_runs"),
            F.when(
                stitch, F.greatest(acc["max_run"], p["max_run"], stitched)
            )
            .otherwise(F.greatest(acc["max_run"], p["max_run"]))
            .alias("max_run"),
            acc["first_template"].alias("first_template"),
            F.when(stitch & (acc["n_runs"] == 1), stitched)
            .otherwise(acc["first_run"])
            .alias("first_run"),
            p["last_template"].alias("last_template"),
            F.when(stitch & (p["n_runs"] == 1), stitched)
            .otherwise(p["last_run"])
            .alias("last_run"),
        )

    folded = F.aggregate(
        F.slice(F.col("_ps"), 2, F.greatest(F.size("_ps") - 1, F.lit(0))),
        F.element_at(F.col("_ps"), 1),
        _merge,
    )
    return (
        partials.groupBy("conv_id")
        .agg(ps.alias("_ps"))
        .select("conv_id", folded.alias("_f"))
        .select(
            "conv_id",
            F.col("_f.n_turns").alias("n_turns"),
            F.col("_f.n_runs").alias("n_runs"),
            (F.col("_f.n_turns") - F.col("_f.n_runs")).alias(
                "n_repeat_pairs"
            ),
            F.col("_f.max_run").alias("max_run"),
            (F.col("_f.max_run") >= flag_run).alias("flagged"),
        )
    )


def card_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "event_type",
    value_col: str = "user_id",
) -> int:
    """Streaming per-key cardinality — the package's namesake signal as a
    stream.  Each micro-batch contributes TWO mergeable partials per key,
    both written with :func:`_write_batch`:

    * EXACT state: the distinct (key, value-digest) rows the batch saw.
      The merge monoid is distinct-union (idempotent under checkpoint
      replay AND under cross-batch repeats), so distinct-on-read yields
      the exact per-key cardinality — hash-oracle-checkable against
      ``count(DISTINCT ...)`` batch SQL.  Digests are md5 of the
      stringified value (NULL_SENTINEL for null), so raw values never
      enter state and null is counted as one value, matching the batch
      key_stats convention.
    * SKETCH state: a per-key HLL partial (``hll_sketch_agg`` at the
      batch path's ``aggregate.HLL_LG_K``). HLL union is register-wise
      max, so the streamed union is exactly the batch sketch over the
      same rows (two-stage == single-stage is pinned by
      test_salted_hll_equals_unsalted); the streamed ESTIMATE therefore
      equals the batch estimate, not approximately.

    Scale shape: the exact path's state grows with TRUE per-key
    cardinality (16-byte digests); the sketch path grows by <= #keys x
    2^lgK bytes per batch and compacts by re-aggregation on read.  At
    100 TB you keep the sketch and retire a key's digest set once it
    crosses an exactness budget — the same exact->sketch handoff as
    batch ``key_stats(exact=False)``.  Per batch, both partials are one
    map-side-combined aggregation each; raw rows never land in state.

    Returns the number of micro-batches executed.
    """
    from ..operators.aggregate import HLL_LG_K
    from ..operators.checksum import NULL_SENTINEL

    def on_batch(df: DataFrame, batch_id: int) -> None:
        value = F.coalesce(
            F.col(value_col).cast("string"), F.lit(NULL_SENTINEL)
        )
        _write_batch(
            df.select(F.col(key_col), F.md5(value).alias("vdigest"))
            .distinct(),
            batch_id,
            Path(out_dir) / "card_digests",
        )
        _write_batch(
            df.groupBy(key_col).agg(
                F.hll_sketch_agg(value, HLL_LG_K).alias("sketch"),
                F.count(F.lit(1)).alias("n_rows"),
            ),
            batch_id,
            Path(out_dir) / "card_sketches",
        )

    return _foreach_batch(
        spark, EVENT_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_cardinality(
    spark: SparkSession, out_dir: str, key_col: str = "event_type"
) -> DataFrame:
    """Merge the streamed cardinality state: exact per-key distinct count
    from the digest partials (distinct-union monoid) joined with the
    HLL-union estimate and the additive row count from the sketch
    partials.  Output: (key, n_rows, exact_cardinality, est_cardinality).
    """
    exact = (
        spark.read.parquet(str(Path(out_dir) / "card_digests"))
        .select(key_col, "vdigest")
        .distinct()
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_cardinality"))
    )
    est = (
        spark.read.parquet(str(Path(out_dir) / "card_sketches"))
        .groupBy(key_col)
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "est_cardinality"
            ),
        )
    )
    return exact.join(est, key_col).select(
        key_col, "n_rows", "exact_cardinality", "est_cardinality"
    )


def markers_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    markers: tuple[str, ...] | None = None,
) -> int:
    """Streaming refusal/failure marker audit: each micro-batch writes
    its (role, marker, n_matched, role_turns) partial table
    (operators/conversation.response_markers without the share column —
    counts only) with :func:`_write_batch`. Both counters are plain sums,
    so the merged streaming state is BIT-IDENTICAL to the batch audit and
    the final shares hash-match the batch DuckDB oracle — the same
    partial→merge contract as quantile_stream / cms_stream.

    Scale shape: state grows by <= #roles x #markers rows per batch
    (dozens); raw turn text never enters state. Returns the number of
    micro-batches executed.
    """
    from ..operators.conversation import DEFAULT_MARKERS, response_markers

    ms = markers if markers is not None else DEFAULT_MARKERS

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            response_markers(df, markers=ms).select(
                "role", "marker", "n_matched", "role_turns"
            ),
            batch_id,
            Path(out_dir) / "marker_partials",
        )

    return _foreach_batch(
        spark, TRANSCRIPT_EVENT_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_markers(spark: SparkSession, out_dir: str) -> DataFrame:
    """Merge all streamed marker partials (sum of both counters) and
    recompute shares — bit-identical to the batch response_markers."""
    merged = (
        spark.read.parquet(str(Path(out_dir) / "marker_partials"))
        .groupBy("role", "marker")
        .agg(
            F.sum("n_matched").alias("n_matched"),
            F.sum("role_turns").alias("role_turns"),
        )
    )
    return merged.select(
        "role",
        "marker",
        "n_matched",
        "role_turns",
        F.round(F.col("n_matched") / F.col("role_turns"), 6).alias(
            "share"
        ),
    )


def cusum_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    group_col: str = "event_type",
    window: str = "1 hour",
) -> int:
    """Streaming CUSUM state: each micro-batch contributes its
    (group, hour-bucket, n_events) COUNT partial — plain sums, so the
    merged state is bit-identical to the batch monitor's stage-1 frame —
    written with :func:`_write_batch`.

    `current_cusum` then runs the EXACT batch tail
    (operators/anomaly.cusum_from_buckets) over the merged buckets, so
    the streamed monitor hash-matches the batch DuckDB oracle — the
    mu/sigma baseline is always recomputed over the full merged history,
    never frozen at a batch boundary.

    Scale shape: state grows by <= (#groups x #buckets-touched) rows per
    batch; raw events never enter state. Returns micro-batches executed.
    """
    from ..operators.anomaly import cusum_buckets

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            cusum_buckets(df, by=group_col, window=window),
            batch_id,
            Path(out_dir) / "cusum_partials",
        )

    return _foreach_batch(
        spark, EVENT_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_cusum(
    spark: SparkSession, out_dir: str, by: str = "event_type"
) -> DataFrame:
    """Merge all streamed bucket partials (sum) and run the batch CUSUM
    tail — bit-identical to operators/anomaly.cusum_drift on the union
    of all micro-batches."""
    from ..operators.anomaly import cusum_from_buckets

    merged = (
        spark.read.parquet(str(Path(out_dir) / "cusum_partials"))
        .groupBy("grp", "bucket")
        .agg(F.sum("n_events").alias("n_events"))
    )
    return cusum_from_buckets(merged, by=by)


def trending_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Streaming trending-terms state: each micro-batch writes its
    (bucket, token) COUNT partial (text_analysis.term_counts, the batch
    trending_terms' stage 1) with :func:`_write_batch` — plain sums, the
    module's standard partial->merge contract. `current_trending` merges
    and runs the batch rank tail, so the streamed leaderboard is
    bit-identical to the batch operator over the union of batches.

    Scale shape: state grows by <= (buckets x per-bucket vocabulary)
    rows per batch; raw text never enters state.
    """
    from ..operators.text_analysis import term_counts

    def on_batch(df: DataFrame, batch_id: int) -> None:
        _write_batch(
            term_counts(df),
            batch_id,
            Path(out_dir) / "trending_partials",
        )

    return _foreach_batch(
        spark, TRANSCRIPT_EVENT_SCHEMA, src_dir, checkpoint_dir, on_batch
    )


def current_trending(
    spark: SparkSession, out_dir: str, k: int = 5
) -> DataFrame:
    """Merge streamed (bucket, token) partials and rank with the batch
    tail (text_analysis.top_terms) — bit-identical to the batch
    trending_terms over the same rows."""
    from ..operators.text_analysis import top_terms

    merged = (
        spark.read.parquet(str(Path(out_dir) / "trending_partials"))
        .groupBy("bucket", "tok")
        .agg(F.sum("n").alias("n"))
    )
    return top_terms(merged, k)
