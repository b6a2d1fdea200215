"""Local replica of the driver's correctness gate.

Runs every queries() entry at a given sf dir on Spark AND the matching
oracle_sql() on DuckDB (standard tables pre-registered as views), compares
row count, column names, and an order-insensitive value hash. Usage:

    python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = ("events", "documents")


def norm_cell(v) -> str:
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            # pandas renders an INTEGER column containing NULLs as float64
            # with NaN; the driver normalizes that back to NULL (evidence:
            # session_diff's NULL count_from hash-matched in round 1)
            return "NULL"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_fingerprint(cols, rows) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), ",".join(sorted(cols)), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # pipeline-prefix oracles embed absolute transcript truth paths; keep
    # them at the SAME scale as the Spark side of this run (the driver's
    # own gate always runs at sf0.01, its default)
    import os

    os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", sf_dir)

    import __spark_entry__ as entry_mod
    from otlp_cardinality_checker_spark.session import get_spark

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    # a codegen compile failure raises instead of running interpreted
    spark = get_spark(extra_conf={"spark.sql.codegen.fallback": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            s_n, _, s_h = frame_fingerprint(scols, srows)
            print(f"ok   {name}: spark=({s_n},{s_h}) no oracle "
                  f"{time.time()-t0:.1f}s")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            # Fetch via pandas to mirror the driver's fetch path: DuckDB
            # HUGEINT (e.g. sum(INTEGER)) becomes float64 here, which is
            # exactly the rendering divergence the driver's hash sees.
            odf = res.df()
            orows = list(odf.itertuples(index=False, name=None))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        s_n, s_c, s_h = frame_fingerprint(scols, srows)
        o_n, o_c, o_h = frame_fingerprint(ocols, orows)
        status = "ok  " if (s_n, s_c, s_h) == (o_n, o_c, o_h) else "FAIL"
        print(
            f"{status} {name}: spark=({s_n},{s_h}) duckdb=({o_n},{o_h}) "
            f"{time.time()-t0:.1f}s"
        )
        if status == "FAIL":
            failures.append(name)
            if s_c != o_c:
                print(f"     cols spark={s_c}")
                print(f"     cols duck ={o_c}")
            elif s_n == o_n:
                smap = sorted(
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                )
                omap = sorted(
                    "\x01".join(
                        norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                )
                diffs = [
                    (a, b) for a, b in zip(smap, omap) if a != b
                ][:3]
                for a, b in diffs:
                    print(f"     spark: {a[:200]}")
                    print(f"     duck : {b[:200]}")
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
