"""Query contract: ``entry(spark)`` smoke-runs the flagship pipeline at
sf0.001, ``queries()`` maps each query name to (spark, sf_dir) ->
DataFrame and ``oracle_sql()`` to the DuckDB SQL whose rows must
hash-match it. The records live in ``registry/``, one module per input
family; this file only merges them.

The Spark side parses with Catalyst expressions, while the truth tables
come from datagen's scalar per-row functions (``template_of``,
``extract_attrs``, ``severity_of``): a hash match cross-checks the two,
with DuckDB re-deriving enrich/route/aggregate in plain SQL.
"""

from __future__ import annotations

import importlib
import os


def _records() -> dict:
    from registry import FAMILIES

    merged, family_of = {}, {}
    for family in FAMILIES:
        module = importlib.import_module(f"registry.{family}")
        for name, record in module.RECORDS.items():
            if name in family_of:
                raise ValueError(
                    f"query {name!r} is defined by both registry."
                    f"{family_of[name]} and registry.{family}"
                )
            family_of[name] = family
            merged[name] = record
    return merged


def entry(spark):
    """Flagship: full parse->enrich->route->aggregate at sf0.001."""
    from registry.common import SF001
    from registry.routed import _key_stats_exact

    return _key_stats_exact(spark, SF001)


def queries() -> dict:
    # Entry order carries no meaning: every entry is run and checked.
    return {name: builder for name, (builder, _) in _records().items()}


def oracle_sql() -> dict[str, str]:
    # The driver's gate runs at sf0.01, so the pipeline-prefix CTEs default
    # to that scale's truth paths.  SPARK_GRAFT_ORACLE_SF lets the local
    # gate replica (scripts/check_oracle.py) re-point them at another scale.
    from registry.common import SF01, _oracle_prefix

    pre = _oracle_prefix(os.environ.get("SPARK_GRAFT_ORACLE_SF", SF01))
    return {
        name: oracle(pre)
        for name, (_, oracle) in _records().items()
        if oracle is not None
    }
