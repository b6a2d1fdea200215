"""Constraint-audit operator: metric definitions, gate semantics, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.quality import (
    Constraint,
    audit_exit_code,
    complete,
    constraint_audit,
    in_domain,
    matches,
    max_value,
    min_value,
    ref_integrity,
    row_count,
    unique,
)


@pytest.fixture(scope="module")
def small(spark):
    rows = [
        ("c1", 0, "user", "hello", None),
        ("c1", 1, "assistant", "hi", None),
        ("c1", 2, "tool", "ran", "search"),
        ("c2", 0, "user", None, None),
        ("c2", 1, "robot", "beep", "unknown_tool"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    )


@pytest.fixture(scope="module")
def tool_dim_df(spark):
    return spark.createDataFrame([("search",), ("calc",)], "tool string")


def _metrics(audit):
    return {r["constraint"]: r for r in audit.collect()}


def test_metric_values(small, tool_dim_df):
    audit = constraint_audit(
        small,
        [
            complete("text_complete", "text", threshold=0.9),
            unique("pk", "conv_id", "turn_idx"),
            in_domain("role_domain", "role",
                      ["user", "assistant", "system", "tool"]),
            matches("conv_pattern", "conv_id", r"^c\d+$"),
            min_value("turn_nonneg", "turn_idx", 0.0),
            max_value("turn_cap", "turn_idx", 2.0),
            row_count("nrows", 5.0, op="=="),
            ref_integrity("tool_ri", "tool", tool_dim_df, "tool"),
        ],
    )
    m = _metrics(audit)
    assert m["text_complete"]["metric"] == 0.8 and m["text_complete"]["passed"] == 0
    assert m["pk"]["metric"] == 1.0 and m["pk"]["passed"] == 1
    assert m["role_domain"]["metric"] == 0.8  # 'robot' out of domain
    assert m["conv_pattern"]["metric"] == 1.0
    assert m["turn_nonneg"]["metric"] == 0.0 and m["turn_nonneg"]["passed"] == 1
    assert m["turn_cap"]["metric"] == 2.0 and m["turn_cap"]["passed"] == 1
    assert m["nrows"]["metric"] == 5.0 and m["nrows"]["passed"] == 1
    # 2 non-null tools, 1 in dim
    assert m["tool_ri"]["metric"] == 0.5 and m["tool_ri"]["passed"] == 0
    assert audit_exit_code(audit) == 1


def test_all_pass_exit_zero(small):
    audit = constraint_audit(small, [complete("c", "conv_id")])
    assert _metrics(audit)["c"]["passed"] == 1
    assert audit_exit_code(audit) == 0


def test_empty_table_vacuous(spark):
    empty = spark.createDataFrame([], "a string, b string")
    audit = constraint_audit(
        empty,
        [
            complete("c", "a"),
            unique("u", "a"),
            in_domain("d", "a", ["x"]),
            row_count("n", 0.0, op="=="),
        ],
    )
    m = _metrics(audit)
    # fraction metrics are vacuously 1.0 on zero rows (documented)
    assert m["c"]["metric"] == 1.0
    assert m["u"]["metric"] == 1.0
    assert m["d"]["metric"] == 1.0
    assert m["n"]["metric"] == 0.0 and m["n"]["passed"] == 1


def test_duplicate_names_rejected(small):
    with pytest.raises(ValueError, match="unique"):
        constraint_audit(small, [complete("x", "text"), row_count("x", 1.0)])


def test_bad_op_rejected():
    with pytest.raises(ValueError, match="op"):
        Constraint("x", "row_count", (), 1.0, op="!=")


def test_single_scan_plan(small, tool_dim_df):
    """The audit must stay one scan: no shuffle joins, RI via broadcast."""
    audit = constraint_audit(
        small,
        [
            complete("a", "text"),
            in_domain("b", "role", ["user"]),
            min_value("c", "turn_idx", 0.0),
            ref_integrity("d", "tool", tool_dim_df, "tool"),
        ],
    )
    plan = audit._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the RI dim lookup
    # exactly one scan of the fact side: `small` is an in-memory relation;
    # the dim adds one more scan. No third scan may appear.
    assert plan.count("Scan ExistingRDD") <= 2


def test_oracle_parity_duckdb(small, tool_dim_df):
    """Cross-engine: recompute every metric in DuckDB and compare."""
    import duckdb

    pdf = small.toPandas()
    dim = tool_dim_df.toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    con.register("dim", dim)
    got = _metrics(
        constraint_audit(
            small,
            [
                complete("text_complete", "text", threshold=0.9),
                unique("pk", "conv_id", "turn_idx"),
                in_domain("role_domain", "role",
                          ["user", "assistant", "system", "tool"]),
                ref_integrity("tool_ri", "tool", tool_dim_df, "tool"),
            ],
        )
    )
    exp = {
        "text_complete": con.sql(
            "SELECT round(count(text)*1.0/count(*),6) FROM t"
        ).fetchone()[0],
        "pk": con.sql(
            "SELECT round(count(DISTINCT (conv_id, turn_idx))*1.0/count(*),6) FROM t"
        ).fetchone()[0],
        "role_domain": con.sql(
            "SELECT round(sum(CASE WHEN role IN ('user','assistant','system','tool') "
            "THEN 1 ELSE 0 END)*1.0/count(role),6) FROM t"
        ).fetchone()[0],
        "tool_ri": con.sql(
            "SELECT round(sum(CASE WHEN tool IN (SELECT tool FROM dim) "
            "THEN 1 ELSE 0 END)*1.0/count(tool),6) FROM t"
        ).fetchone()[0],
    }
    for k, v in exp.items():
        assert got[k]["metric"] == pytest.approx(v, abs=1e-9), k


def test_audit_on_routed_pipeline(tiny_routed):
    """The audit composes with the real pipeline output (routed turns)."""
    audit = constraint_audit(
        tiny_routed,
        [
            complete("conv", "conv_id"),
            unique("pk", "conv_id", "turn_idx"),
            in_domain("sinks", "sink", ["chat", "tool_call", "error"]),
        ],
    )
    m = _metrics(audit)
    assert all(m[k]["passed"] == 1 for k in ("conv", "pk", "sinks"))


def test_fd_audit_violation_accounting(spark):
    """Violating keys, their row mass, and the worst fan-out are exact;
    a holding FD reports zero violations; empty lhs rejected."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.quality import fd_audit

    rows = [
        ("a", "x"), ("a", "x"),          # a -> x holds, 2 rows
        ("b", "x"), ("b", "y"), ("b", "z"),  # b violates, fan-out 3
        ("c", "y"),                      # holds
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    got = fd_audit(df, ["k"], "v").collect()[0]
    assert got["n_lhs"] == 3
    assert got["n_violating"] == 1
    assert got["violating_rows"] == 3
    assert got["max_rhs_per_lhs"] == 3
    assert abs(got["violation_share"] - round(1 / 3, 6)) < 1e-9

    holding = fd_audit(df.where("k <> 'b'"), ["k"], "v").collect()[0]
    assert holding["n_violating"] == 0 and holding["max_rhs_per_lhs"] == 1
    with _pytest.raises(ValueError):
        fd_audit(df, [], "v")
def test_string_profile_hand_case(spark):
    from otlp_cardinality_checker_spark.operators.profile import (
        string_profile,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("a", ""), (None, "yy"), ("b", "  ")],
        "s1 string, s2 string",
    )
    got = {r["column"]: r for r in string_profile(df, ["s1", "s2"]).collect()}
    s1 = got["s1"]
    assert s1["n_rows"] == 4 and s1["n_nulls"] == 1 and s1["n_distinct"] == 2
    assert s1["min_length"] == 1 and s1["max_length"] == 1
    s2 = got["s2"]
    assert s2["n_empty"] == 2            # '' and whitespace-only
    assert s2["n_distinct"] == 4 and s2["max_length"] == 2
    assert s2["avg_length"] == round((1 + 0 + 2 + 2) / 4, 4)
