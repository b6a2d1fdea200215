"""Route stage: classify enriched turns by signal class and fan out to sinks.

Reference analogue: the receiver's dispatch-by-signal-type into per-signal
stores (`/root/reference/internal/receiver/http.go:171-173`,
`internal/storage/memory/store.go:17-33`). Signal classes follow the north
rule (chat / tool-call / error); predicates are exhaustive and disjoint so
per-sink routed-row counts must sum to the input row count (FIXTURES.md §4).

The fan-out is one write partitioned by ``sink``
(:func:`write_sink_partitions`), used by the stream's micro-batches and by
:func:`write_sinks`. It is repartitioned on ``conv_id`` so downstream
per-conversation reads and joins are co-located without a shuffle.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SINKS = ("tool_call", "error", "chat")

SINK_COLUMNS = {
    "chat": ("conv_id", "turn_idx", "role", "role_class", "severity", "template", "text", "ts"),
    "error": ("conv_id", "turn_idx", "role", "role_class", "severity", "template", "text", "ts"),
    "tool_call": (
        "conv_id", "turn_idx", "role", "role_class", "severity", "template",
        "text", "ts", "tool", "tool_family", "is_privileged",
    ),
}


def sink_expr():
    """Single Catalyst expression: which sink does a row belong to."""
    return (
        F.when(F.col("tool").isNotNull(), F.lit("tool_call"))
        .when(F.col("severity") == "ERROR", F.lit("error"))
        .otherwise(F.lit("chat"))
    )


def route_turns(enriched: DataFrame) -> DataFrame:
    """Append the `sink` column (one pass; no data movement)."""
    return enriched.withColumn("sink", sink_expr())


def write_sink_partitions(
    routed: DataFrame,
    path: str,
    n_parts: int | None = 32,
    mode: str = "overwrite",
) -> dict[str, str]:
    """The one sink fan-out: a single write of ``routed`` into
    ``path/sink=<name>/``, one action for all three sinks.

    Each row keeps the union of ``SINK_COLUMNS``, so ``chat`` and ``error``
    files carry the tool columns as nulls; select ``SINK_COLUMNS[name]``
    to read a sink in its own shape. ``repartition(n_parts, conv_id)``
    co-locates a conversation in one task, which writes one file per sink
    it holds rows of. ``n_parts=None`` writes ``routed`` in its own
    partitioning, with no shuffle; a conversation is then in one file
    per sink only where the input already keeps it in one partition, as
    a stream micro-batch does while its one source file is one split
    (``stream._process_batch``). A sink without rows gets no directory.

    Returns {sink_name: directory}.
    """
    cols = list(dict.fromkeys(c for name in SINKS for c in SINK_COLUMNS[name]))
    df = routed.select(*cols, "sink")
    if n_parts is not None:
        df = df.repartition(n_parts, "conv_id")
    df.write.mode(mode).partitionBy("sink").parquet(path)
    return {name: str(Path(path) / f"sink={name}") for name in SINKS}


def write_sinks(
    routed: DataFrame,
    out_dir: str,
    n_buckets: int | None = 32,
    mode: str = "overwrite",
    table_format: str = "auto",
    iceberg_namespace: str = "sinks",
) -> dict[str, str]:
    """Fan out to per-sink tables, co-located by conv_id.

    ``table_format="auto"`` writes Iceberg tables when an Iceberg catalog
    is on the classpath (gated exactly like the loader,
    `sources/transcripts._iceberg_available`) — there each sink is its own
    table, the bucketing is the ``bucket(n, conv_id)`` partition transform
    and fan-out idempotence is snapshot-based. Without an Iceberg runtime
    the fallback is :func:`write_sink_partitions` into ``out_dir``: one
    write, ``repartition(n_buckets, conv_id)``, which models the same
    co-location property.

    Returns {sink_name: location}: the ``sink=<name>`` directories under
    ``out_dir`` in parquet mode, catalog-qualified table identifiers
    (``<namespace>.sink_<name>``) in Iceberg mode — callers must treat the
    values as read targets, not assume filesystem paths.
    """
    from ..sources.transcripts import _iceberg_available

    use_iceberg = table_format == "iceberg" or (
        table_format == "auto" and _iceberg_available(routed.sparkSession)
    )
    if not use_iceberg:
        return write_sink_partitions(routed, out_dir, n_buckets, mode)
    routed.sparkSession.sql(f"CREATE NAMESPACE IF NOT EXISTS {iceberg_namespace}")
    locations = {}
    for name in SINKS:
        table = locations[name] = f"{iceberg_namespace}.sink_{name}"
        df = routed.where(F.col("sink") == name).select(*SINK_COLUMNS[name])
        writer = df.writeTo(table).partitionedBy(
            F.bucket(n_buckets or 32, F.col("conv_id"))
        )
        if mode == "append" and routed.sparkSession.catalog.tableExists(table):
            writer.append()
        else:
            writer.createOrReplace()
    return locations


def export_sorted(
    df: DataFrame,
    path: str,
    range_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    n_files: int = 32,
    mode: str = "overwrite",
) -> str:
    """Layout-aware export: range-partitioned + sorted parquet.

    At 100 TB the difference between a prunable table and a full-scan
    table is the physical layout: `repartitionByRange` gives each output
    file a DISJOINT key range and `sortWithinPartitions` orders rows
    inside it, so parquet writes tight per-file/per-row-group min-max
    statistics and a downstream `WHERE conv_id = X` touches ONE file
    instead of all of them (zone-map pruning). This is the "cluster by"
    every warehouse offers, expressed with the public DataFrame API —
    on Iceberg this is the sort-order table property.

    Range partitioning samples the key distribution, so file sizes stay
    balanced even when the key space is skewed.
    """
    cols = [F.col(c) for c in range_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )
    return path
