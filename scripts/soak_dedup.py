"""Dedup-family scale soak: the sub-quadratic claims on a 500k-doc corpus.

The LSH/cap designs are recall-tested at 5k docs (sf0.1); this script is
the scale evidence: a deterministic 500k-document corpus with planted
near-duplicate groups and heavy shared boilerplate (the adversarial case
for an inverted index — a stop-gram shared by EVERY doc), over which it
runs:

* exact dedup (digest groupBy) — linear by construction
* MinHash+LSH near-dup pipeline — candidate count is the claim: it must
  be O(planted pairs), nowhere near the ~1.25e11 all-pairs space
* capped n-gram Jaccard — the stop-gram cap must neutralize the
  boilerplate shingle that would otherwise generate ~1.25e11 pairs

Prints one JSON line with wall times and candidate/result counts.
Usage: python scripts/soak_dedup.py [--n 500000] [--cores 32]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

def ensure_docs(spark, n: int, path: str):
    """Deterministic corpus, generated IN SPARK (no driver materialization):
    every doc shares one boilerplate sentence (the hot-shingle adversary);
    each group of 10 consecutive ids is a planted near-dup family differing
    only in a trailing token; 2 of 10 members are exact duplicates.

    The group core draws 24 tokens from a ~10^6-token synthetic vocabulary
    so distinct groups share essentially nothing beyond the boilerplate:
    cross-group Jaccard ~0.1 (below any LSH threshold), within-group ~0.9
    — candidates must therefore track the PLANTED pair count, not the
    all-pairs space.
    """
    from pyspark.sql import functions as F

    if (Path(path) / "_SUCCESS").exists():
        return
    base = spark.range(n).withColumnRenamed("id", "doc_id")
    group = (F.col("doc_id") / 10).cast("long")
    member = F.col("doc_id") % 10
    body = F.concat_ws(
        " ",
        # boilerplate shared by EVERY document — the stop-gram adversary
        F.lit("terms of service apply to all content in this corpus"),
        # group-specific core: 24 tokens from a ~10^6 vocabulary, purely
        # a function of the group id (the near-dup signal)
        *[
            F.concat(
                F.lit("w"),
                ((group * 131 + (i + 1) * 7919) % 999983).cast("string"),
            )
            for i in range(24)
        ],
        # member-specific tail: members 0-1 share it (exact duplicates),
        # the rest differ here only (near duplicates)
        F.when(member <= 1, F.lit("common tail zero")).otherwise(
            F.concat(F.lit("tail variant "), member.cast("string"))
        ),
    )
    base.select(
        "doc_id",
        body.alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src_"), (F.col("doc_id") % 5).cast("string")).alias(
            "source"
        ),
        F.length(body).alias("n_chars"),
    ).repartition(32).write.mode("overwrite").parquet(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=500_000)
    ap.add_argument("--cores", type=int, default=32)
    args = ap.parse_args()

    import os

    from pyspark.sql import functions as F
    from soak_common import RssSampler, stage_metrics

    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_dedup_stats,
        lsh_candidate_pairs,
        minhash_signatures,
        exact_jaccard,
        word_shingles,
    )
    from otlp_cardinality_checker_spark.session import get_spark

    # memory-envelope leg: pinned driver heap + status REST for spill
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark(
        app_name="soak-dedup",
        cores=args.cores,
        extra_conf={"spark.ui.enabled": "true"},
    )
    path = str((Path(".data") / f"soak_docs_v2_n{args.n}").resolve())
    ensure_docs(spark, args.n, path)
    docs = spark.read.parquet(path)
    sampler = RssSampler()
    sampler.start()
    out: dict = {
        "metric": "dedup_soak",
        "n_docs": args.n,
        "cores": args.cores,
        "driver_heap": heap,
    }

    t0 = time.time()
    n_exact_groups = (
        exact_dedup_stats(docs).where(F.col("n_copies") > 1).count()
    )
    out["exact_dedup_sec"] = round(time.time() - t0, 1)
    out["exact_dup_groups"] = n_exact_groups

    sh = word_shingles(docs, n=3)
    t0 = time.time()
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    n_cands = cands.count()
    out["lsh_candidates_sec"] = round(time.time() - t0, 1)
    out["lsh_candidate_pairs"] = n_cands
    out["all_pairs_space"] = args.n * (args.n - 1) // 2

    t0 = time.time()
    n_capped = exact_jaccard(sh, min_jaccard=0.5, max_df=1000).count()
    out["capped_jaccard_sec"] = round(time.time() - t0, 1)
    out["capped_jaccard_pairs"] = n_capped

    # ExactSubstr duplicated spans: the boilerplate sentence plants a
    # shared 9-token run in EVERY document, so the "duplicated minority"
    # is the whole corpus — worst case for the interval-union stage
    from otlp_cardinality_checker_spark.operators.dedup import (
        duplicated_spans,
    )

    t0 = time.time()
    ds_agg = (
        duplicated_spans(docs, k=5)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dup_tokens").alias("dt"),
            F.sum("n_tokens").alias("nt"),
            F.sum(
                F.hash("doc_id", "n_dup_spans", "dup_tokens")
            ).alias("h"),
        )
        .collect()[0]
    )
    out["dup_spans_sec"] = round(time.time() - t0, 1)
    out["dup_spans_docs"] = ds_agg["n"]
    out["dup_token_frac"] = round(ds_agg["dt"] / ds_agg["nt"], 4)
    out["dup_spans_checksum"] = ds_agg["h"]

    # SimHash over the full corpus
    from otlp_cardinality_checker_spark.operators.dedup import simhash_signatures

    t0 = time.time()
    simhash_signatures(docs).agg(
        F.sum(F.hash("doc_id", "simhash")).alias("h")
    ).collect()
    out["simhash_sql_sec"] = round(time.time() - t0, 1)

    # containment_pairs (capped): same inverted-index join budget as the
    # k-gram Jaccard leg — the leg pins that adding the asymmetric
    # containment grain does not change the candidate-pair envelope
    from otlp_cardinality_checker_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    t0 = time.time()
    cp = (
        containment_pairs(word_shingles(docs), min_containment=0.9)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()[0]["n"]
    )
    out["containment_sec"] = round(time.time() - t0, 1)
    out["containment_pairs"] = cp

    sampler.stop()
    out["jvm_peak_rss_gb"] = round(sampler.peak_kb / 1024 / 1024, 2)
    try:
        out.update(stage_metrics())
    except Exception as e:  # noqa: BLE001 — UI scrape is best-effort
        out["stage_metrics_error"] = str(e)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
