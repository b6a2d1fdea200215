"""Command-line surface: the reference's operational workflows as
subcommands over the Spark pipeline (`python -m
otlp_cardinality_checker_spark <cmd>`). A reference user's day-to-day —
run the analyzer, read the cardinality report, save/merge/diff sessions —
maps 1:1:

    report      parse+aggregate one table, print the severity-graded
                cardinality report, exit 1 on critical (CI gate; reference
                `internal/report/generator.go`)
    key-stats   per-(sink, key) stats as JSON lines
    diff        full-outer diff of two session snapshot dirs with
                signal/severity filters (reference `/api/sessions/diff`)
    save        write a mergeable session snapshot (binary HLL sketches)
    merge       additively merge snapshot dirs into one
    card        dataset card (documents) or --transcripts conversation-
                health card as JSON
    search      BM25 top-k document search (one-shot or --index)

All subcommands accept `--sf-dir` (default `$SPARK_GRAFT_SF_DIR` or
/root/testdata/sf0.01) and `--cores`.
`--cores` defaults to `$SPARK_GRAFT_CPUS`, else the cores this process
may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(app_name="otlp-cardinality-cli", cores=args.cores)


def _routed(spark, args):
    from .plans.pipeline import routed_turns

    # no subcommand reads truth, so none is generated for a fresh sf dir
    return routed_turns(
        spark, args.sf_dir, with_truth=False, patterns_yaml=args.patterns
    )


def cmd_report(args) -> int:
    from .operators.aggregate import key_stats
    from .report import generate_report

    spark = _spark(args)
    rep = generate_report(
        key_stats(_routed(spark, args), exact=args.exact),
        warn=args.warn,
        critical=args.critical,
        limit=args.limit,
    )
    print(rep.to_json() if args.json else rep.to_text())
    return rep.exit_code if args.exit_on_threshold else 0


def cmd_key_stats(args) -> int:
    from .operators.aggregate import key_stats

    spark = _spark(args)
    for row in key_stats(_routed(spark, args), exact=args.exact).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_save(args) -> int:
    from .operators.sessions import save_session, snapshot_key_stats

    spark = _spark(args)
    save_session(snapshot_key_stats(_routed(spark, args)), args.out)
    print(f"session saved: {args.out}")
    return 0


def cmd_merge(args) -> int:
    from .operators.sessions import load_session, merge_snapshots, save_session

    spark = _spark(args)
    merged = merge_snapshots(*[load_session(spark, p) for p in args.sessions])
    save_session(merged, args.out)
    print(f"merged {len(args.sessions)} sessions -> {args.out}")
    return 0


def cmd_diff(args) -> int:
    from .operators.sessions import (
        diff_key_stats,
        estimate,
        filter_diff,
        load_session,
    )

    spark = _spark(args)
    a = estimate(load_session(spark, args.from_session))
    b = estimate(load_session(spark, args.to_session))
    diff = filter_diff(
        diff_key_stats(a, b),
        signal_type=args.signal_type,
        key_contains=args.key_contains,
        min_severity=args.min_severity,
    )
    for row in diff.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _rate_spec(spec: str) -> tuple[str, float]:
    stratum, sep, r = spec.partition("=")
    if not sep or not stratum:
        raise argparse.ArgumentTypeError(
            f"invalid rate {spec!r}: expected STRATUM=FRAC"
        )
    try:
        frac = float(r)
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"invalid rate {spec!r}: {r!r} is not a number"
        ) from None
    if not 0.0 <= frac <= 1.0:
        raise argparse.ArgumentTypeError(
            f"invalid rate {spec!r}: fraction must be in [0, 1]"
        )
    return stratum, frac


def cmd_curate(args) -> int:
    """Training-data curation job: quality filter -> deterministic
    stratified sample -> write curated parquet; prints the funnel report
    and per-stratum sample audit as JSON."""
    from .operators.sampling import hash_sample, stratified_sample_stats
    from .operators.text_analysis import filter_funnel, passes_quality

    rates = dict(args.rate or [])
    spark = _spark(args)
    docs = spark.read.parquet(args.docs or f"{args.sf_dir}/documents.parquet")
    funnel = [r.asDict() for r in filter_funnel(docs).collect()]
    kept = docs.where(passes_quality())
    sampled = hash_sample(
        kept, rates, default_rate=args.default_rate, salt=args.salt
    )
    audit = [
        r.asDict()
        for r in stratified_sample_stats(
            kept, rates, default_rate=args.default_rate, salt=args.salt
        ).collect()
    ]
    if args.out:
        sampled.repartition(spark.sparkContext.defaultParallelism).write.mode(
            "overwrite"
        ).parquet(args.out)
    # n_curated is exactly derivable from the audit (same keep expression
    # over the same frame) — no extra Spark job for a redundant count
    n_out = sum(r["n_sampled"] for r in audit)
    print(
        json.dumps(
            {"funnel": funnel, "sample_audit": audit, "n_curated": n_out},
            default=str,
        )
    )
    return 0


def cmd_card(args) -> int:
    """Print the dataset card (documents) or the conversation-health
    transcript card as JSON rows — the one-call corpus summary."""
    spark = _spark(args)
    if args.transcripts:
        from .operators.card import transcript_card

        frame = transcript_card(_routed(spark, args))
    else:
        from .operators.card import dataset_card

        docs = spark.read.parquet(
            args.docs or f"{args.sf_dir}/documents.parquet"
        )
        frame = dataset_card(docs)
    print(
        json.dumps(
            [r.asDict() for r in frame.orderBy("section", "metric").collect()]
        )
    )
    return 0


def cmd_dedup(args) -> int:
    """One-call corpus dedup audit as JSON: exact-copy groups and
    redundant-copy count, ExactSubstr duplicated-span token mass (with
    the count of docs that are >= half duplicated), and — with --near —
    the MinHash+LSH near-duplicate pair count.  Aggregates only; never
    collects per-doc rows to the driver."""
    from pyspark.sql import functions as F

    from .operators.dedup import (
        duplicated_spans,
        exact_dedup_stats,
        minhash_near_dups,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.docs or f"{args.sf_dir}/documents.parquet")
    ex = (
        exact_dedup_stats(docs)
        .agg(
            F.count(F.lit(1)).alias("distinct_texts"),
            F.sum(F.col("n_copies") - 1).alias("redundant_copies"),
            F.sum(
                F.when(F.col("n_copies") > 1, 1).otherwise(0)
            ).alias("dup_groups"),
            F.sum("n_copies").alias("n_docs"),
        )
        .collect()[0]
    )
    sp = (
        duplicated_spans(docs, k=args.k)
        .agg(
            F.sum("dup_tokens").alias("dt"),
            F.sum("n_tokens").alias("nt"),
            F.sum(
                F.when(F.col("dup_frac") >= 0.5, 1).otherwise(0)
            ).alias("heavy"),
        )
        .collect()[0]
    )
    out = {
        "n_docs": ex["n_docs"],
        "distinct_texts": ex["distinct_texts"],
        "exact_dup_groups": ex["dup_groups"],
        "redundant_copies": ex["redundant_copies"],
        "span_k": args.k,
        "dup_token_frac": round((sp["dt"] or 0) / max(sp["nt"], 1), 4),
        "docs_half_duplicated": sp["heavy"],
    }
    if args.near:
        out["near_dup_pairs"] = minhash_near_dups(
            docs, min_jaccard=args.jaccard
        ).count()
        out["near_dup_min_jaccard"] = args.jaccard
    print(json.dumps(out, default=str))
    return 0


def cmd_search(args) -> int:
    """BM25 top-k document search over the documents table (or a prebuilt
    inverted index from build_bm25_index)."""
    from .operators.search import bm25_query, bm25_topk

    spark = _spark(args)
    queries = [(i + 1, q) for i, q in enumerate(args.query)]
    if args.index:
        idx = spark.read.parquet(args.index)
        frame = bm25_query(
            idx, queries, k=args.k, token_pattern=args.token_pattern
        )
    else:
        docs = spark.read.parquet(
            args.docs or f"{args.sf_dir}/documents.parquet"
        )
        frame = bm25_topk(
            docs, queries, k=args.k, token_pattern=args.token_pattern
        )
    print(json.dumps([r.asDict() for r in frame.collect()]))
    return 0


def cmd_sessions(args) -> int:
    """Named session registry (reference `/api/v1/sessions` lifecycle,
    `internal/api/sessions.go:132-210` + `store.go:22-30` caps): save the
    current aggregate state under a name, list / delete / export / import.
    """
    from .operators.session_store import SessionStore, SessionStoreError

    required = {
        "save": ["name"], "delete": ["name"],
        "export": ["name", "out"], "import": ["bundle"],
    }
    missing = [
        f"--{a}" for a in required.get(args.action, ())
        if getattr(args, a) is None
    ]
    if missing:
        print(
            f"error: sessions {args.action} requires {' '.join(missing)}",
            file=sys.stderr,
        )
        return 2
    store = SessionStore(args.store)
    try:
        if args.action == "list":
            for meta in store.list():
                print(json.dumps(meta))
        elif args.action == "save":
            spark = _spark(args)
            from .operators.sessions import snapshot_key_stats

            meta = store.save(
                snapshot_key_stats(_routed(spark, args)),
                args.name,
                description=args.description,
                force=args.force,
            )
            print(json.dumps(meta))
        elif args.action == "delete":
            store.delete(args.name)
            print(f"session deleted: {args.name}")
        elif args.action == "export":
            print(store.export_session(args.name, args.out))
        elif args.action == "import":
            meta = store.import_session(
                args.bundle, name=args.name, force=args.force
            )
            print(json.dumps(meta))
    except SessionStoreError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


_STATE_MARKERS = (
    "agg_state",
    "agg_state_compacted",
    "lineage",
    "sinks",
    "commits",  # streaming checkpoint
    "offsets",  # streaming checkpoint
)


def _looks_like_state(p) -> bool:
    """Only OUR dir shapes count: a named pipeline-state subdir at depth
    <= 1, or a session-registry entry (a child with BOTH meta.json and
    data/ — meta.json alone is far too common in the wild to act on)."""
    if any((p / m).exists() or list(p.glob(f"*/{m}")) for m in _STATE_MARKERS):
        return True
    return any(
        (child / "meta.json").exists() and (child / "data").exists()
        for child in p.iterdir() if child.is_dir()
    )


def cmd_clear(args) -> int:
    """Drop derived state (reference `POST /api/v1/admin/clear`,
    server.go:219 + store Clear): sinks, streaming aggregate state,
    checkpoints, session registries. Refuses directories that do not look
    like pipeline state so a typo cannot delete arbitrary data."""
    import shutil
    from pathlib import Path

    rc = 0
    for d in args.dirs:
        p = Path(d)
        if not p.exists():
            print(f"skip (missing): {d}")
            continue
        if p.is_symlink() or not p.is_dir():
            # a symlink-to-directory passes is_dir() but rmtree refuses it
            # with a raw OSError; refuse it up front in the command's own
            # error format instead (clearing through a link could also
            # delete state the link's owner still references)
            print(
                f"refusing to clear {d}: not a real directory",
                file=sys.stderr,
            )
            rc = 1
            continue
        if not _looks_like_state(p) and not args.force:
            print(
                f"refusing to clear {d}: no pipeline-state markers found "
                "(pass --force to override)",
                file=sys.stderr,
            )
            rc = 1
            continue
        shutil.rmtree(p)
        print(f"cleared: {d}")
    return rc


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="otlp_cardinality_checker_spark")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--patterns", help="user mask-pattern YAML override")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("report")
    p.add_argument("--warn", type=int, default=1000)
    p.add_argument("--critical", type=int, default=10000)
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--json", action="store_true")
    p.add_argument("--exact", action="store_true")
    p.add_argument("--exit-on-threshold", action="store_true")
    p.set_defaults(fn=cmd_report)

    p = sub.add_parser("key-stats")
    p.add_argument("--exact", action="store_true")
    p.set_defaults(fn=cmd_key_stats)

    p = sub.add_parser("save")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_save)

    p = sub.add_parser("merge")
    p.add_argument("sessions", nargs="+")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_merge)

    p = sub.add_parser("diff")
    p.add_argument("from_session")
    p.add_argument("to_session")
    p.add_argument("--signal-type")
    p.add_argument("--key-contains")
    p.add_argument(
        "--min-severity", choices=("info", "warning", "critical")
    )
    p.set_defaults(fn=cmd_diff)

    p = sub.add_parser("curate")
    p.add_argument("--docs", help="documents parquet (default sf-dir's)")
    p.add_argument(
        "--rate",
        action="append",
        type=_rate_spec,
        metavar="STRATUM=FRAC",
        help="per-language sample rate, repeatable (e.g. --rate en=0.5)",
    )
    p.add_argument("--default-rate", type=float, default=0.1)
    p.add_argument("--salt", default="")
    p.add_argument("--out", help="write the curated sample parquet here")
    p.set_defaults(fn=cmd_curate)

    p = sub.add_parser("card")
    p.add_argument("--docs", help="documents parquet (default sf-dir's)")
    p.add_argument(
        "--transcripts",
        action="store_true",
        help="conversation-health card over the routed transcript pipeline",
    )
    p.set_defaults(fn=cmd_card)

    p = sub.add_parser("dedup")
    p.add_argument("--docs", help="documents parquet (default sf-dir's)")
    p.add_argument("-k", type=int, default=5, help="span window (tokens)")
    p.add_argument(
        "--near",
        action="store_true",
        help="also count MinHash+LSH near-dup pairs (extra pass)",
    )
    p.add_argument("--jaccard", type=float, default=0.7)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser("search")
    p.add_argument(
        "--query",
        action="append",
        required=True,
        help="keyword query, repeatable",
    )
    p.add_argument("-k", type=int, default=5)
    p.add_argument("--docs", help="documents parquet (default sf-dir's)")
    p.add_argument(
        "--index", help="prebuilt build_bm25_index parquet (query-many path)"
    )
    p.add_argument("--token-pattern", default="[^a-z]+")
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("sessions")
    p.add_argument(
        "action", choices=("list", "save", "delete", "export", "import")
    )
    p.add_argument("--store", default="./data/sessions")
    p.add_argument("--name", help="session name (save/delete/export/import)")
    p.add_argument("--description", default="")
    p.add_argument("--force", action="store_true")
    p.add_argument("--out", help="export bundle destination (.tar.gz)")
    p.add_argument("--bundle", help="bundle to import (.tar.gz)")
    p.set_defaults(fn=cmd_sessions)

    p = sub.add_parser("clear")
    p.add_argument("dirs", nargs="+", help="state directories to remove")
    p.add_argument("--force", action="store_true")
    p.set_defaults(fn=cmd_clear)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
