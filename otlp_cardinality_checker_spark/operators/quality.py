"""Data-quality constraint audit: single-scan, declarative, mergeable.

The reference ships a cardinality *report* with severity thresholds and a
CI exit code (`internal/report/generator.go:24-59`); production log
pipelines pair that with *data contracts* — declarative constraints over
the input table that gate ingestion (the Deequ/great-expectations role).
This module is that gate, built Spark-first:

* Every column-local constraint (completeness, uniqueness, domain
  membership, regex conformance, bounds, row count) compiles to ONE
  aggregate expression, and the whole audit runs as a SINGLE
  ``df.agg(...)`` — one scan of the table, map-side combinable, no matter
  how many constraints are declared.  At 100 TB the audit costs exactly
  one pass; adding a 50th constraint is free.
* Referential-integrity constraints need dimension lookups; each compiles
  to a **broadcast** left join stacked *before* the same single aggregate
  — still one scan of the fact table, zero shuffles (asserted by
  ``tests/test_plans.py``-style plan checks in tests/test_quality.py).
* The audit result is a small long-form DataFrame
  ``(constraint, kind, column, metric, threshold, op, passed)`` — the
  shape a CI gate consumes (exit code = any failed row), mirroring the
  reference's threshold/exit-code contract (`internal/report/model.go:
  73-121`).

Metric definitions (all fractions are over non-null values unless noted):

==============  ========================================================
completeness    non-null rows / total rows
uniqueness      exact distinct values / total rows (PK check: pass == 1)
domain          rows whose value is in the allowed set / non-null rows
pattern         rows matching the regex / non-null rows
min_value       min(column) as double (op/threshold decide pass)
max_value       max(column) as double
row_count       count(*) as double
ref_integrity   non-null FK rows with a dim match / non-null FK rows
==============  ========================================================

Floats are rounded to 6 decimals so the audit is engine-portable (the
DuckDB oracle in ``__spark_entry__.oracle_sql`` reproduces every metric
bit-for-bit after rounding).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = (">=", "<=", "==")


@dataclass(frozen=True)
class Constraint:
    """One declarative check: ``metric(column) op threshold``."""

    name: str
    kind: str
    columns: tuple[str, ...]
    threshold: float
    op: str = ">="
    values: tuple[str, ...] = ()
    pattern: str = ""
    dim: object = None  # DataFrame for ref_integrity; untyped to stay frozen
    dim_key: str = ""

    def __post_init__(self) -> None:
        if self.op not in _OPS:
            raise ValueError(f"op must be one of {_OPS}, got {self.op!r}")


def complete(name: str, column: str, threshold: float = 1.0) -> Constraint:
    return Constraint(name, "completeness", (column,), threshold)


def unique(name: str, *columns: str, threshold: float = 1.0) -> Constraint:
    return Constraint(name, "uniqueness", tuple(columns), threshold)


def in_domain(name: str, column: str, values: list[str],
              threshold: float = 1.0) -> Constraint:
    return Constraint(
        name, "domain", (column,), threshold, values=tuple(sorted(values))
    )


def matches(name: str, column: str, pattern: str,
            threshold: float = 1.0) -> Constraint:
    return Constraint(name, "pattern", (column,), threshold, pattern=pattern)


def min_value(name: str, column: str, threshold: float,
              op: str = ">=") -> Constraint:
    return Constraint(name, "min_value", (column,), threshold, op=op)


def max_value(name: str, column: str, threshold: float,
              op: str = "<=") -> Constraint:
    return Constraint(name, "max_value", (column,), threshold, op=op)


def row_count(name: str, threshold: float, op: str = ">=") -> Constraint:
    return Constraint(name, "row_count", (), threshold, op=op)


def ref_integrity(name: str, fk: str, dim: DataFrame, pk: str,
                  threshold: float = 1.0) -> Constraint:
    return Constraint(
        name, "ref_integrity", (fk,), threshold, dim=dim, dim_key=pk
    )


def _frac(cond: Column, denom: Column) -> Column:
    # sum(cond)/denom with 0-denominator -> 1.0 (vacuously satisfied)
    return F.when(denom == 0, F.lit(1.0)).otherwise(
        F.sum(cond.cast("double")) / denom
    )


def _as_double(df: DataFrame, name: str) -> Column:
    """Numeric view of a column for bound checks. Timestamps (tz or ntz)
    become epoch seconds with microsecond precision — engine-portable
    (DuckDB: epoch_us(ts)/1e6)."""
    kind = dict(df.dtypes).get(name, "")
    if kind.startswith("timestamp"):
        return (
            F.unix_micros(F.col(name).cast("timestamp")).cast("double")
            / 1_000_000.0
        )
    return F.col(name).cast("double")


def _metric_expr(c: Constraint, df: DataFrame,
                 flag_col: dict[str, str]) -> Column:
    total = F.count(F.lit(1))
    if c.kind == "completeness":
        col = F.col(c.columns[0])
        return _frac(col.isNotNull(), total)
    if c.kind == "uniqueness":
        key = (
            F.col(c.columns[0])
            if len(c.columns) == 1
            else F.struct(*[F.col(x) for x in c.columns])
        )
        return F.when(total == 0, F.lit(1.0)).otherwise(
            F.count_distinct(key) / total
        )
    if c.kind == "domain":
        col = F.col(c.columns[0])
        nn = F.count(col)
        return _frac(col.isin(*c.values), nn)
    if c.kind == "pattern":
        col = F.col(c.columns[0])
        nn = F.count(col)
        return _frac(col.isNotNull() & col.rlike(c.pattern), nn)
    if c.kind == "min_value":
        return F.min(_as_double(df, c.columns[0]))
    if c.kind == "max_value":
        return F.max(_as_double(df, c.columns[0]))
    if c.kind == "row_count":
        return total.cast("double")
    if c.kind == "ref_integrity":
        col = F.col(c.columns[0])
        nn = F.count(col)
        return _frac(F.col(flag_col[c.name]).isNotNull(), nn)
    raise ValueError(f"unknown constraint kind {c.kind!r}")


def constraint_audit(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate every constraint in ONE scan of ``df``.

    Returns long-form rows ``(constraint, kind, column, metric, threshold,
    op, passed)`` sorted by constraint name.  ``passed`` is int (0/1) for
    oracle portability.  Referential constraints add broadcast-joined
    presence flags before the shared aggregate; everything else is a pure
    aggregate expression, so the physical plan is: [broadcast joins] ->
    one partial hash-aggregate -> one final aggregate over a single row.
    """
    names = [c.name for c in constraints]
    if len(set(names)) != len(names):
        raise ValueError("constraint names must be unique")

    # stack broadcast presence flags for RI constraints (fact scan unchanged)
    flag_col: dict[str, str] = {}
    for c in constraints:
        if c.kind != "ref_integrity":
            continue
        flag = f"_ri_{c.name}"
        flag_col[c.name] = flag
        dim = (
            c.dim.select(F.col(c.dim_key).alias(f"_k_{c.name}"))
            .distinct()
            .withColumn(flag, F.lit(1))
        )
        df = df.join(
            F.broadcast(dim),
            df[c.columns[0]] == dim[f"_k_{c.name}"],
            "left",
        ).drop(f"_k_{c.name}")

    agg_row = df.agg(
        *[
            F.round(_metric_expr(c, df, flag_col), 6).alias(f"m_{i}")
            for i, c in enumerate(constraints)
        ]
    )

    entries = []
    for i, c in enumerate(constraints):
        metric = F.col(f"m_{i}")
        op = c.op
        thr = F.lit(float(c.threshold))
        passed = (
            (metric >= thr) if op == ">="
            else (metric <= thr) if op == "<="
            else (metric == thr)
        )
        entries.append(
            F.struct(
                F.lit(c.name).alias("constraint"),
                F.lit(c.kind).alias("kind"),
                F.lit(",".join(c.columns)).alias("column"),
                metric.alias("metric"),
                F.round(thr, 6).alias("threshold"),
                F.lit(op).alias("op"),
                F.coalesce(passed.cast("int"), F.lit(0)).alias("passed"),
            )
        )
    return (
        agg_row.select(F.explode(F.array(*entries)).alias("r"))
        .select("r.*")
        .orderBy("constraint")
    )


def audit_exit_code(audit: DataFrame) -> int:
    """CI-gate semantics mirroring the reference's report exit codes
    (`internal/report/generator.go:24-59`): 0 = all pass, 1 = any fail."""
    return int(audit.agg(F.min("passed")).first()[0] == 0)


def fd_audit(
    df: DataFrame, lhs: list[str], rhs: str
) -> DataFrame:
    """Functional-dependency audit (Metanome-style profiling): does
    ``lhs -> rhs`` hold? Reports how many distinct LHS values exist, how
    many map to MORE than one RHS value (the FD violations), the row
    mass sitting under violating keys, and the worst fan-out. The
    schema-inference companion to the constraint audit: run it before
    declaring a lookup/enrich dimension, because a violated FD silently
    turns a broadcast enrich into nondeterministic row picks.

    Output grain: ONE row — ``(n_lhs, n_violating, violation_share,
    violating_rows, max_rhs_per_lhs)``.

    Scale shape: one hash-agg to the LHS grain computing count(*) and
    count_distinct(rhs) (two-phase expand, map-side combined), then a
    1-row fold over the key-grain frame. Hot LHS keys cost one counter
    set each.
    """
    if not lhs:
        raise ValueError("lhs must name at least one column")
    keys = df.groupBy(*[F.col(c) for c in lhs]).agg(
        F.count(F.lit(1)).alias("_rows"),
        F.count_distinct(F.col(rhs)).alias("_nrhs"),
    )
    viol = (F.col("_nrhs") > 1).cast("long")
    return keys.agg(
        F.count(F.lit(1)).alias("n_lhs"),
        F.sum(viol).alias("n_violating"),
        F.round(F.sum(viol) / F.count(F.lit(1)), 6).alias(
            "violation_share"
        ),
        F.sum(F.col("_rows") * viol).alias("violating_rows"),
        F.max("_nrhs").alias("max_rhs_per_lhs"),
    )
