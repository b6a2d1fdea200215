"""Enrich stage: dimension lookups + identity resolution.

Reference semantics:

* Service/identity resolution by priority list with an `unknown` fallback —
  `getServiceName` (`/root/reference/internal/analyzer/common.go:21-38`).
  Here: ``service = coalesce(role_class, 'unknown_service')`` after the
  role-dim lookup, and the final severity falls back to the dim's default
  when the text yields UNSET (FIXTURES.md §2).
* The dims are tiny, so each is read once, with ``collect()``, when the plan
  is built, and its columns are resolved by literal lookup maps
  (``create_map(...)[key]``): a plain projection with no join, so the fact
  side is never shuffled or joined (the 100 TB-scale requirement), and a
  stream that builds its plan once reads the dims once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

UNKNOWN_SERVICE = "unknown_service"


def _lookups(dim: DataFrame, key: str) -> dict[str, Column]:
    """One Column per non-key column of ``dim``: its value for the row's
    ``key``, null where no dim row matches (a left join's result).

    Runs one Spark job, the ``collect()``. Null-key rows are dropped, as
    they never match a join; a duplicate key raises instead of fanning
    rows out. An empty dim gives typed null columns.
    """
    rows = dim.where(F.col(key).isNotNull()).collect()
    if len({r[key] for r in rows}) < len(rows):
        raise ValueError(f"duplicate {key!r} in dimension table")
    out = {}
    for field in dim.schema.fields:
        if field.name == key:
            continue
        looked_up = (
            F.create_map(
                *(F.lit(v) for r in rows for v in (r[key], r[field.name]))
            )[F.col(key)]
            if rows
            else F.lit(None)
        )
        out[field.name] = looked_up.cast(field.dataType)
    return out


def enrich_turns(parsed: DataFrame, role_dim: DataFrame, tool_dim: DataFrame) -> DataFrame:
    """Look up both dims and resolve severity/service.

    Building the frame runs 2 Spark jobs, one read of each dim. The
    columns are those of left joins on ``role`` then ``tool``: ``tool,
    role``, the other parsed columns, ``role_class, tool_family,
    is_privileged, severity, service``.
    """
    role = _lookups(role_dim, "role")
    tool = _lookups(tool_dim, "tool")
    severity = F.when(
        F.col("severity_inferred") == "UNSET",
        F.coalesce(role["severity_default"], F.lit("UNSET")),
    ).otherwise(F.col("severity_inferred"))
    return parsed.select(
        "tool",
        "role",
        *(c for c in parsed.columns if c not in ("tool", "role")),
        role["role_class"].alias("role_class"),
        tool["tool_family"].alias("tool_family"),
        tool["is_privileged"].alias("is_privileged"),
        severity.alias("severity"),
        F.coalesce(role["role_class"], F.lit(UNKNOWN_SERVICE)).alias("service"),
    )
