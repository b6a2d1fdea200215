"""Measured quantile-sketch error on real sf0.1 distributions.

The octave-quarter histogram guarantees estimate in (exact, 1.25 * exact]
by construction (property-tested in tests/test_quantiles.py); this script
reports the MEASURED relative error on the distributions users actually
sketch at sf0.1 — document lengths per language and per-user event
inter-arrival gaps — so fitness can be judged against the bound.

Prints one JSON line {distribution, group, q, exact, estimate, rel_err}
per row plus a summary.  Usage: python scripts/quantile_error.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QS = (0.5, 0.9, 0.99)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from otlp_cardinality_checker_spark.operators.quantiles import (
        quantile_sketch,
    )
    from otlp_cardinality_checker_spark.session import get_spark

    spark = get_spark(app_name="quantile-error")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gaps = (
        ev.withColumn(
            "gap_s",
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(
                    F.lag(F.col("ts").cast("timestamp")).over(
                        Window.partitionBy("user_id").orderBy(
                            "ts", "event_id"
                        )
                    )
                )
            )
            / 1_000_000.0,
        )
        .where(F.col("gap_s").isNotNull())
        .select(F.lit("all").alias("grp"), F.col("gap_s").alias("v"))
    )

    cases = [
        ("doc_len_by_lang", docs.select(F.col("lang").alias("grp"),
                                        F.col("n_chars").alias("v"))),
        ("event_gap_s", gaps),
    ]
    rows_out = []
    worst = 0.0
    for name, df in cases:
        est = {
            (r["grp"], r["q"]): r["estimate"]
            for r in quantile_sketch(df, "v", QS, "grp").collect()
        }
        # exact per-group quantiles: the sketch CLAMPS v to int >= 1, so
        # the fair exact baseline is the same clamped integer series
        clamped = df.select(
            "grp", F.greatest(F.col("v").cast("long"), F.lit(1)).alias("v")
        )
        # exact baseline = the value at rank ceil(q*n), the SAME order
        # statistic the sketch estimates (interpolating percentile() can
        # sit above that rank and fake an undershoot); groups are small
        # at sf0.1 so a sorted collect_list per group is fine here
        import math

        exact_rows = clamped.groupBy("grp").agg(
            F.sort_array(F.collect_list("v")).alias("vs"),
            F.count("*").alias("n"),
        ).collect()
        for r in exact_rows:
            for q in QS:
                ex = float(r["vs"][math.ceil(q * r["n"]) - 1])
                e = float(est[(r["grp"], q)])
                rel = (e - ex) / ex if ex else 0.0
                worst = max(worst, rel)
                rows_out.append(
                    {
                        "distribution": name,
                        "group": r["grp"],
                        "n": r["n"],
                        "q": q,
                        "exact": round(ex, 1),
                        "estimate": e,
                        "rel_err": round(rel, 4),
                    }
                )
    for row in rows_out:
        print(json.dumps(row))
    print(json.dumps({"metric": "quantile_sketch_error",
                      "sf_dir": sf_dir,
                      "n_rows": len(rows_out),
                      "worst_rel_err": round(worst, 4),
                      "bound": 0.25}))
    spark.stop()


if __name__ == "__main__":
    main()
