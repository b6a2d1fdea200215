"""spark-submit entry point: the pipeline as a submitted application.

This is the deployment shape the north rule names — the package ships as a
--py-files zip (scripts/package.py) and this driver program runs the
parse → enrich → route → aggregate pipeline on whatever cluster manager
spark-submit was pointed at:

    /opt/spark/bin/spark-submit \
        --master local[4] \          # or yarn / k8s / standalone
        --py-files dist/otlp_cardinality_checker_spark.zip \
        scripts/submit_job.py --sf-dir /root/testdata/sf0.001 --out /tmp/o

It deliberately does NOT import anything from the repo checkout: the
package must resolve from the --py-files zip exactly as it would on a
1000-executor cluster where only the zip is shipped.

Writes key_stats rows as JSON lines to <out>/key_stats.jsonl and prints a
single RESULT line with row/turn counts for the caller to assert on. The
synthetic transcripts are generated under ``$SPARK_GRAFT_DATA_ROOT``; set
it, since a zipped package has no directory of its own to hold them.
"""

from __future__ import annotations

import argparse
import json
from pathlib import Path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    # plain builder: master/conf come from spark-submit, not from the
    # repo's session factory (which the zip also carries, but a submitted
    # app must respect the submitter's cluster config)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("transcript-pipeline-submit")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from otlp_cardinality_checker_spark.operators.aggregate import key_stats
    from otlp_cardinality_checker_spark.plans.pipeline import routed_turns

    routed = routed_turns(spark, args.sf_dir)
    n_turns = routed.count()
    rows = [r.asDict() for r in key_stats(routed, exact=True).collect()]

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    with (out / "key_stats.jsonl").open("w") as fh:
        for r in sorted(rows, key=lambda r: (r["sink"], r["key"])):
            fh.write(json.dumps(r, default=str) + "\n")
    print(f"RESULT turns={n_turns} keys={len(rows)}")
    spark.stop()


if __name__ == "__main__":
    main()
