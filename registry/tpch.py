"""Queries over the TPC-H input tables that exercise a shared
operator: numeric profiles, k-anonymity, l-diversity, fuzzy name pairs,
referential-integrity scorecards and a purge audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.fuzzy import fuzzy_pairs
from otlp_cardinality_checker_spark.operators.pii import (
    k_anonymity,
    l_diversity,
)
from otlp_cardinality_checker_spark.operators.profile import numeric_profile
from otlp_cardinality_checker_spark.operators.quality import (
    purge_audit,
    ri_scorecard,
)


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS deletion-neighborhood fuzzy join over distinct part names
    (Levenshtein <= 2). The oracle is the brute-force cross join — hash
    equality proves the bucketed algorithm equals the semantic spec."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return fuzzy_pairs(part, "p_name", 2)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table under the quasi-identifier
    set (nation, market segment, account-balance bucket): equivalence-
    class-size histogram with at-risk (k < 5) classification and row
    shares — the privacy-review companion to the PII redaction chain."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_k"),
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment", "bal_k"], k_threshold=5
    )


def q_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric column profile of lineitem (nulls, exact
    distincts, range, mean per column — the pre-join table health scan)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_partkey", "l_suppkey"]
    return numeric_profile(li, cols)


def q_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure dry-run: rows each table loses if every
    user_id % 97 == 7 subject is purged (the deterministic stand-in for
    a deletion-request batch)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    subjects = (
        ev.select(F.col("user_id").alias("subject_id"))
        .where(F.col("user_id") % 97 == 7)
        .distinct()
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return purge_audit(
        {"events": (ev, "user_id"), "orders": (orders, "o_custkey")},
        subjects,
    )


def q_ri_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-wide referential-integrity scorecard over the TPC-H
    fixture edges (lineitem->orders/part/supplier, orders->customer,
    customer/supplier->nation, nation->region)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return ri_scorecard({
        "lineitem.orderkey": (li, "l_orderkey", o, "o_orderkey"),
        "lineitem.partkey": (li, "l_partkey",
                             spark.read.parquet(f"{sf_dir}/part.parquet"),
                             "p_partkey"),
        "lineitem.suppkey": (li, "l_suppkey", su, "s_suppkey"),
        "orders.custkey": (o, "o_custkey", c, "c_custkey"),
        "customer.nationkey": (c, "c_nationkey", n, "n_nationkey"),
        "supplier.nationkey": (su, "s_nationkey", n, "n_nationkey"),
        "nation.regionkey": (n, "n_regionkey", r, "r_regionkey"),
    })


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit of the customer table: same QI set as
    k_anonymity, sensitive attribute = market segment re-identified
    through (nation, balance bucket) classes; (k, l) histogram with
    at-risk (l < 2) homogeneity classification."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("bal_k"),
        "c_mktsegment",
    )
    return l_diversity(
        cust, ["c_nationkey", "bal_k"], "c_mktsegment", l_threshold=2
    )


RECORDS = {
    # Deliberately NOT the FastSS algorithm: the brute-force distinct-
    # name cross join is the semantic spec the bucketed Spark plan
    # must equal (operators/fuzzy.py docstring).
    "fuzzy_name_pairs": (q_fuzzy_name_pairs, lambda pre: """
WITH nm AS (SELECT p_name AS s, count(*) AS freq FROM part GROUP BY p_name)
SELECT a.s AS name_a, b.s AS name_b, levenshtein(a.s, b.s) AS dist,
       a.freq AS freq_a, b.freq AS freq_b
FROM nm a JOIN nm b ON a.s < b.s AND levenshtein(a.s, b.s) <= 2
"""),
    "k_anonymity": (q_k_anonymity, lambda pre: """
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
         count(*) AS k
  FROM customer GROUP BY 1, 2, 3
),
hist AS (SELECT k, count(*) AS n_classes FROM cls GROUP BY 1),
tot AS (SELECT CAST(sum(k * n_classes) AS BIGINT) AS n_total FROM hist)
SELECT CAST(k AS BIGINT) AS k, CAST(n_classes AS BIGINT) AS n_classes,
       CAST(k * n_classes AS BIGINT) AS n_rows,
       k < 5 AS at_risk,
       round(k * n_classes * 1.0 / n_total, 6) AS row_share
FROM hist CROSS JOIN tot
"""),
    "numeric_profile": (q_numeric_profile, lambda pre: """
SELECT 'l_quantity' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_quantity AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_quantity AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_quantity AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_quantity AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_extendedprice' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_extendedprice AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_extendedprice AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_extendedprice AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_extendedprice AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_discount' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_discount AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_discount AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_discount AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_discount AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_tax' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_tax AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_tax AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_tax AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_tax AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_partkey' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_partkey AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_partkey AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_partkey AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_partkey AS DOUBLE)), 4) AS mean_value
FROM lineitem
UNION ALL
SELECT 'l_suppkey' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       count(DISTINCT CAST(l_suppkey AS DOUBLE)) AS n_distinct,
       round(min(CAST(l_suppkey AS DOUBLE)), 6) AS min_value,
       round(max(CAST(l_suppkey AS DOUBLE)), 6) AS max_value,
       round(avg(CAST(l_suppkey AS DOUBLE)), 4) AS mean_value
FROM lineitem
"""),
    "purge_audit": (q_purge_audit, lambda pre: """
WITH subj AS (
  SELECT DISTINCT user_id AS k FROM events WHERE user_id % 97 = 7
)
SELECT 'events' AS "table", count(*) AS n_rows,
       CAST(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purged,
       round(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS purge_share,
       count(DISTINCT CASE WHEN s.k IS NOT NULL THEN e.user_id END)
         AS n_subjects_hit
FROM events e LEFT JOIN subj s ON e.user_id = s.k
UNION ALL
SELECT 'orders', count(*),
       CAST(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
       round(sum(CASE WHEN s.k IS NOT NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6),
       count(DISTINCT CASE WHEN s.k IS NOT NULL THEN o.o_custkey END)
FROM orders o LEFT JOIN subj s ON o.o_custkey = s.k
"""),
    "ri_scorecard": (q_ri_scorecard, lambda pre: """
SELECT 'lineitem.orderkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.o_orderkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.o_orderkey IS NULL THEN f.l_orderkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) d
  ON f.l_orderkey = d.o_orderkey
WHERE f.l_orderkey IS NOT NULL
UNION ALL
SELECT 'lineitem.partkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.p_partkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.p_partkey IS NULL THEN f.l_partkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT p_partkey FROM part) d
  ON f.l_partkey = d.p_partkey
WHERE f.l_partkey IS NOT NULL
UNION ALL
SELECT 'lineitem.suppkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.s_suppkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.s_suppkey IS NULL THEN f.l_suppkey END)
         AS n_distinct_orphan_keys
FROM lineitem f LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) d
  ON f.l_suppkey = d.s_suppkey
WHERE f.l_suppkey IS NOT NULL
UNION ALL
SELECT 'orders.custkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.c_custkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.c_custkey IS NULL THEN f.o_custkey END)
         AS n_distinct_orphan_keys
FROM orders f LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) d
  ON f.o_custkey = d.c_custkey
WHERE f.o_custkey IS NOT NULL
UNION ALL
SELECT 'customer.nationkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.n_nationkey IS NULL THEN f.c_nationkey END)
         AS n_distinct_orphan_keys
FROM customer f LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) d
  ON f.c_nationkey = d.n_nationkey
WHERE f.c_nationkey IS NOT NULL
UNION ALL
SELECT 'supplier.nationkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.n_nationkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.n_nationkey IS NULL THEN f.s_nationkey END)
         AS n_distinct_orphan_keys
FROM supplier f LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) d
  ON f.s_nationkey = d.n_nationkey
WHERE f.s_nationkey IS NOT NULL
UNION ALL
SELECT 'nation.regionkey' AS edge, count(*) AS n_rows,
       CAST(sum(CASE WHEN d.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       round(sum(CASE WHEN d.r_regionkey IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS orphan_share,
       count(DISTINCT CASE WHEN d.r_regionkey IS NULL THEN f.n_regionkey END)
         AS n_distinct_orphan_keys
FROM nation f LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) d
  ON f.n_regionkey = d.r_regionkey
WHERE f.n_regionkey IS NOT NULL
"""),
    "l_diversity": (q_l_diversity, lambda pre: """
WITH cls AS (
  SELECT c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_k,
         count(*) AS k,
         count(DISTINCT c_mktsegment) AS l
  FROM customer GROUP BY 1, 2
),
hist AS (SELECT k, l, count(*) AS n_classes FROM cls GROUP BY 1, 2),
tot AS (SELECT CAST(sum(k * n_classes) AS BIGINT) AS n_total FROM hist)
SELECT CAST(k AS BIGINT) AS k, CAST(l AS BIGINT) AS l,
       CAST(n_classes AS BIGINT) AS n_classes,
       CAST(k * n_classes AS BIGINT) AS n_rows,
       l < 2 AS at_risk,
       round(k * n_classes * 1.0 / n_total, 6) AS row_share
FROM hist CROSS JOIN tot
"""),
}
