"""Inputs and oracle prefixes shared by the registry families.

``_routed`` and ``_transcripts`` are the two pipeline inputs on the Spark
side. ``_oracle_prefix`` builds ``pre``, the DuckDB CTEs that re-derive
parse, enrich and route; the ``_*_path`` helpers give the fixture paths
an oracle reads, at the scale ``_oracle_sf`` names.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from otlp_cardinality_checker_spark.datagen import ensure_dataset
from otlp_cardinality_checker_spark.plans.pipeline import routed_turns
from otlp_cardinality_checker_spark.sources.transcripts import (
    load_transcripts,
    truth_paths,
)


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routed_turns(spark, sf_dir)


def _oracle_prefix(sf_dir: str | None = None) -> str:
    """Shared DuckDB CTEs re-deriving parse/enrich/route independently.

    Defaults to the SPARK_GRAFT_ORACLE_SF-aware scale (see _oracle_sf) so
    zero-arg call sites stay consistent with the sweep scale."""
    p = truth_paths(sf_dir or _oracle_sf())
    return f"""
WITH parsed AS (
  SELECT conv_id, turn_idx, role, text, tool, ts,
    CASE WHEN contains(lower(coalesce(text,'')), 'error') THEN 'ERROR'
         WHEN contains(lower(coalesce(text,'')), 'warn')  THEN 'WARN'
         WHEN contains(lower(coalesce(text,'')), 'info')  THEN 'INFO'
         WHEN contains(lower(coalesce(text,'')), 'debug') THEN 'DEBUG'
         ELSE 'UNSET' END AS severity_inferred
  FROM read_parquet('{p["transcripts"]}')
), enriched AS (
  SELECT pp.*, r.role_class,
    CASE WHEN pp.severity_inferred = 'UNSET'
         THEN coalesce(r.severity_default, 'UNSET')
         ELSE pp.severity_inferred END AS severity,
    coalesce(r.role_class, 'unknown_service') AS service
  FROM parsed pp LEFT JOIN read_parquet('{p["role_dim"]}') r ON pp.role = r.role
), routed AS (
  SELECT e.*,
    CASE WHEN e.tool IS NOT NULL THEN 'tool_call'
         WHEN e.severity = 'ERROR' THEN 'error'
         ELSE 'chat' END AS sink
  FROM enriched e
), rattrs AS (
  SELECT r.sink, r.service, a.conv_id, a.turn_idx, r.ts, a."key", a."value"
  FROM read_parquet('{p["truth_attrs"]}') a
  JOIN routed r ON a.conv_id = r.conv_id AND a.turn_idx = r.turn_idx
), rtruth AS (
  SELECT r.*, t.template
  FROM routed r
  JOIN read_parquet('{p["truth"]}') t
    ON r.conv_id = t.conv_id AND r.turn_idx = t.turn_idx
)
"""


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_transcripts(spark, sf_dir)


def _oracle_sf() -> str:
    """Scale dir for standalone fixture-path oracles.

    Same contract as the pipeline-prefix CTEs (``oracle_sql()``): the
    gate runs at sf0.01, SPARK_GRAFT_ORACLE_SF re-points the
    oracle side when the local replica verifies another scale — without
    this the conversation/tool oracles silently kept reading sf0.01
    fixtures during an sf0.1 sweep (caught by the round-5 full sweep).
    """
    return os.environ.get("SPARK_GRAFT_ORACLE_SF", SF01)


def _tool_dim_path() -> str:
    return truth_paths(_oracle_sf())["tool_dim"]


def _transcripts_path() -> str:
    return truth_paths(_oracle_sf())["transcripts"]


def _metric_dim_path() -> str:
    return str(ensure_dataset(_oracle_sf()) / "metric_dim.parquet")
