"""The batch plan's shared prefix: parse -> enrich -> route.

This is the Spark-native equivalent of the reference's ingest lifecycle
(`/root/reference/internal/analyzer/logs.go:103-313`): ``routed_turns``
loads the transcripts and dimensions and returns one declarative routed
frame, the input of the aggregates (`operators/aggregate.py`) and of the
sink fan-out (one sink-partitioned write,
`operators/route.write_sink_partitions`). Catalyst handles partial
aggregation (the reference's analyzer-side partial merge) and AQE
handles runtime shuffle sizing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.enrich import enrich_turns
from ..operators.parse import parse_turns
from ..operators.route import route_turns
from ..sources.transcripts import load_dims, load_transcripts


def routed_turns(
    spark: SparkSession,
    sf_dir: str,
    with_truth: bool = True,
    n_turns: int | None = None,
    patterns_yaml: str | None = None,
) -> DataFrame:
    turns = load_transcripts(spark, sf_dir, with_truth=with_truth, n_turns=n_turns)
    role_dim, tool_dim = load_dims(spark, sf_dir, n_turns=n_turns)
    parsed = parse_turns(turns, patterns_yaml=patterns_yaml)
    enriched = enrich_turns(parsed, role_dim, tool_dim)
    return route_turns(enriched)
