"""The streaming queries: each writes an input table as a few micro-batch
files, runs a real Structured Streaming job over them and returns the
merged state.

Their oracles are batch SQL: the claim each one checks is that the
streamed state equals the batch computation, so five of them reuse the
batch query's oracle as is.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import os
import shutil
import tempfile
import time
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.datagen import ensure_dataset
from otlp_cardinality_checker_spark.functions.masking import with_template
from otlp_cardinality_checker_spark.operators.checksum import NULL_SENTINEL
from otlp_cardinality_checker_spark.operators.cms import cms_estimate
from otlp_cardinality_checker_spark.streaming.stream import (
    card_stream,
    cms_stream,
    current_cardinality,
    current_cms,
    current_cusum,
    current_loops,
    current_markers,
    current_quantiles,
    current_trending,
    cusum_stream,
    dedup_stream,
    loop_stream,
    markers_stream,
    quantile_stream,
    run_stream_stream_join,
    run_windowed_stream,
    sessionize_stream,
    trending_stream,
)

from .common import _transcripts, _transcripts_path
from .documents import quantile_sketch_sql
from .events import cusum_drift_sql
from .transcripts import (
    response_markers_sql,
    template_loops_sql,
    trending_terms_sql,
)


_SCRATCH_DIRS: list[str] = []


def _stream_scratch(prefix: str):
    """Micro-batch scratch (source files, sink parquet, state-store
    checkpoints) on tmpfs when available: streaming state commits fsync
    one delta file per state partition per batch, and on a single
    virtio disk (~380 MB/s, high variance) that I/O is the dominant
    cost of every foreachBatch / applyInPandasWithState gate query —
    the same judgment bench.py's _bench_out_dir documents (tmpfs models
    a cluster executor's local SSD; the virtio disk models nothing).
    Results are unaffected: only the scratch location changes. Peak
    usage is bounded: only the newest few scratch dirs are kept (the
    gate/bench collect each streaming query before building the next,
    so older queries' sources/sinks are dead by then — a full-registry
    sweep must not accumulate every stream's state in RAM), and the
    survivors are removed at interpreter exit."""
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
    src.mkdir(parents=True, exist_ok=True)
    now = time.time()
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
        os.utime(path, (mt, mt))


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
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "user_id", "value", "ts")
    )
    tmax = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]

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


def q_loop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stuck-agent loop detection (§2.10 x transcripts): two
    contiguous turn_idx-range micro-batches each write a per-conversation
    run-summary partial; current_loops folds them with the run-length
    MONOID (boundary runs stitch when templates match null-safely) — the
    merged state is BIT-IDENTICAL to batch template_loops, so the oracle
    is the SAME truth-template SQL. A run-length state machine, not a
    union+sum sketch: the third hash-exact streaming/batch equivalence."""
    # with_template: the r6 guarded stacked-projection mask chain —
    # ~35% cheaper on the mask passes than an inline single-Column chain
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


def q_attribution_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 STREAM-STREAM watermarked inner join run as a real
    Structured Streaming job: click events joined to purchase events of
    the same user within 30 minutes after them, both sides fed as two
    time-split micro-batches.  With watermark (2h) > horizon (30min) and
    time-split batches, no match can be evicted before its partner
    arrives, so the emitted pairs equal the batch join EXACTLY — the
    DuckDB oracle is the plain relational join."""
    # ONE Spark job builds all four fixture files: pull both sides to the
    # driver together (harness-scale, row-capped in the helper) and split
    # by type/cutoff in pandas
    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "event_type", "user_id", "value", "ts")
        .where(F.col("event_type").isin("click", "purchase"))
        .toPandas()
    )

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


def q_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM: two ts-range micro-batches each write a
    (type, hour-bucket) count partial; sums merge bit-identically to the
    batch stage-1 frame, and the batch tail runs on the merged state —
    hashes against the SAME DuckDB oracle as the batch cusum_drift."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id", "value", "ts"
    )
    tmp = _stream_scratch("cusumstream_")
    src = tmp / "src"
    _write_median_split(src, ev)
    cusum_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_cusum(spark, str(tmp / "out"))


def q_trending_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending terms: two ts-range micro-batches write
    (bucket, token) count partials; sums merge + the batch rank tail —
    hashes against the SAME oracle as the batch trending_terms."""
    turns = _transcripts(spark, sf_dir)
    tmp = _stream_scratch("trendstream_")
    src = tmp / "src"
    _write_median_split(src, turns)
    trending_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_trending(spark, str(tmp / "out"), k=5)


def q_markers_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming marker audit: two ts-range micro-batches each write a
    (role, marker) counter partial; both counters are plain sums so the
    merged state is bit-identical to the batch audit — hashes against
    the SAME DuckDB oracle as the batch response_markers."""
    turns = _transcripts(spark, sf_dir)
    tmp = _stream_scratch("markstream_")
    src = tmp / "src"
    _write_median_split(src, turns)
    markers_stream(spark, str(src), str(tmp / "out"), str(tmp / "ckpt"))
    return current_markers(spark, str(tmp / "out"))


RECORDS = {
    "events_windowed_stream": (q_events_windowed_stream, lambda pre: """
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
"""),
    "dedup_stream": (q_dedup_stream, lambda pre: """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 50
)
SELECT doc_id, md5(text) AS text_hash,
  CAST(doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS INT)
    AS is_first
FROM corpus
"""),
    # CMS merge is cell-wise addition, so the streamed sketch == the batch
    # sketch — the oracle rebuilds the identical counter table over the
    # whole events table (micro-batch split is irrelevant to the sum)
    "cms_events_stream": (q_cms_events_stream, lambda pre: """
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
"""),
    # streaming cardinality — the digest partials' distinct-union monoid
    # makes the streamed exact count equal the batch count(DISTINCT ...)
    # regardless of how rows were split across micro-batches
    "card_stream": (q_card_stream, lambda pre: """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT coalesce(CAST(user_id AS VARCHAR),
                                    chr(0) || '<NULL>')) AS BIGINT)
         AS exact_cardinality
FROM events GROUP BY 1
"""),
    # streaming/batch hash-exact equivalence: the streamed partials merge
    # (union + sum over deterministic integer buckets) reproduces the
    # batch sketch bit-for-bit, so the SAME batch oracle applies verbatim
    "quantile_stream": (q_quantile_stream, quantile_sketch_sql),
    "conv_sessions": (q_conv_sessions, lambda pre: f"""
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
"""),
    # loop_stream: the streaming/batch equivalence IS the claim — the
    # monoid-merged state must hash-match the same batch truth SQL.
    "loop_stream": (q_loop_stream, template_loops_sql),
    # stream-stream join exact batch-equivalence (see
    # q_attribution_join_stream's eviction-safety argument)
    "attribution_join_stream": (q_attribution_join_stream, lambda pre: """
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
"""),
    "cusum_stream": (q_cusum_stream, cusum_drift_sql),
    "trending_stream": (q_trending_stream, trending_terms_sql),
    # the streamed marker audit merges to a state BIT-IDENTICAL to the
    # batch audit, so it hashes against the same oracle
    "markers_stream": (q_markers_stream, response_markers_sql),
}
