"""Tests for the round-2 training-pipeline additions: deterministic
stratified sampling, PII scan/redaction, TF-IDF terms, cross-split
containment, and the key-skew audit."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def test_hash_sample_deterministic_and_stratified(spark):
    from otlp_cardinality_checker_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rates = {"en": 0.5, "de": 0.0}
    a = sorted(
        r["doc_id"] for r in hash_sample(docs, rates, 0.1).collect()
    )
    b = sorted(
        r["doc_id"] for r in hash_sample(docs, rates, 0.1).collect()
    )
    assert a == b and a  # same membership on every run, non-empty
    # rate 0.0 drops the stratum entirely
    langs = {
        r["lang"]
        for r in hash_sample(docs, rates, 0.1).select("lang").distinct().collect()
    }
    assert "de" not in langs


def test_hash_sample_rate_one_keeps_all_and_salt_redraws(spark):
    from otlp_cardinality_checker_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_all = docs.count()
    assert hash_sample(docs, {}, default_rate=1.0).count() == n_all
    s0 = {r["doc_id"] for r in hash_sample(docs, {}, 0.3, salt="a").collect()}
    s1 = {r["doc_id"] for r in hash_sample(docs, {}, 0.3, salt="b").collect()}
    assert s0 != s1  # independent draw under a different salt


def test_sample_stats_rate_within_band(spark):
    from otlp_cardinality_checker_spark.operators.sampling import (
        stratified_sample_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {
        r["lang"]: r
        for r in stratified_sample_stats(docs, {"en": 0.5}, 0.1).collect()
    }
    assert abs(got["en"]["realized_rate"] - 0.5) < 0.25
    for lang, row in got.items():
        assert 0 <= row["n_sampled"] <= row["n_total"]


def _py_pps_keep(doc_id: int, w: int, k: int, w_total: int,
                 salt: str = "") -> bool:
    t = min(1 << 32, (k * w * (1 << 32)) // w_total)
    if t >= 1 << 32:
        return True
    u = hashlib.md5(f"{doc_id}{salt}".encode()).hexdigest()[:8]
    return u < format(t, "08x")


def test_pps_membership_matches_python_oracle(spark):
    """Exact sample membership (id-sum + count per stratum) equals an
    independent Python recomputation of the integer thresholds."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        pps_sample_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = docs.select("doc_id", "lang", "n_chars").collect()
    w_total = sum(r["n_chars"] for r in rows)
    want: dict[str, tuple[int, int]] = {}
    for r in rows:
        kept = _py_pps_keep(r["doc_id"], r["n_chars"], 25, w_total)
        n, s = want.get(r["lang"], (0, 0))
        want[r["lang"]] = (n + kept, s + kept * r["doc_id"])
    got = {
        r["lang"]: (r["n_sampled"], r["sampled_id_sum"])
        for r in pps_sample_stats(docs, 25).collect()
    }
    assert got == want
    # deterministic under arbitrary repartitioning
    got2 = {
        r["lang"]: (r["n_sampled"], r["sampled_id_sum"])
        for r in pps_sample_stats(docs.repartition(13), 25).collect()
    }
    assert got2 == want


def test_pps_cap_keeps_everything(spark):
    """k >= W/min(w) drives every threshold to the cap: the sample is the
    full table and expected_n == n_total exactly."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        pps_sample_stats,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = pps_sample_stats(docs, 10**6).collect()
    assert all(r["n_sampled"] == r["n_total"] for r in out)
    assert all(float(r["expected_n"]) == r["n_total"] for r in out)


def test_pps_salt_redraws_weighting_holds(spark):
    """Different salts give different (independent) samples; heavier docs
    are kept at a higher realized rate than lighter ones under the same
    draw (the PPS property, on the pooled corpus)."""
    from otlp_cardinality_checker_spark.operators.sampling import (
        pps_keep_expr,
    )

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .crossJoin(
            F.broadcast(
                spark.read.parquet(f"{SF}/documents.parquet").agg(
                    F.sum(F.col("n_chars").cast("long")).alias("w_total")
                )
            )
        )
        .withColumn("med", F.expr("percentile_approx(n_chars, 0.5) over ()"))
    )
    k = 60
    a = {
        r["doc_id"]
        for r in docs.where(
            pps_keep_expr(k, "n_chars", "doc_id", salt="a")
        ).collect()
    }
    b = {
        r["doc_id"]
        for r in docs.where(
            pps_keep_expr(k, "n_chars", "doc_id", salt="b")
        ).collect()
    }
    assert a and b and a != b
    heavy = docs.where(F.col("n_chars") >= F.col("med"))
    light = docs.where(F.col("n_chars") < F.col("med"))
    rate_heavy = (
        heavy.where(pps_keep_expr(k, "n_chars", "doc_id")).count()
        / heavy.count()
    )
    rate_light = (
        light.where(pps_keep_expr(k, "n_chars", "doc_id")).count()
        / light.count()
    )
    assert rate_heavy > rate_light


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------


def test_pii_scan_counts_and_redaction_order(spark):
    from otlp_cardinality_checker_spark.operators.pii import pii_scan

    rows = [
        # uuid's 12-hex tail must NOT be re-counted as a long digit run
        (1, "trace 9e3779b1-0003-4005-8007-000043f41c39 done"),
        (2, "login from 10.0.12.7 acct 123456789"),
        (3, "mail bob@example.com and alice@test.org"),
        (4, "clean text with no identifiers"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "conv_id long, text string")
    got = {r["conv_id"]: r for r in pii_scan(df).collect()}
    assert got[1]["n_uuid"] == 1 and got[1]["n_longnum"] == 0
    assert "<UUID>" in got[1]["redacted"]
    assert got[2]["n_ipv4"] == 1 and got[2]["n_longnum"] == 1
    assert got[2]["redacted"] == "login from <IP> acct <NUM>"
    assert got[3]["n_email"] == 2
    assert got[4]["redacted"] == "clean text with no identifiers"
    assert got[5]["redacted"] == ""  # NULL text -> empty, not NULL


def test_pii_uuid_case_insensitive(spark):
    """Uppercase/mixed-case UUIDs hit the uuid rule (consistent with the
    masking-table's [0-9a-fA-F] acceptance) — they must not escape to the
    digit-only longnum fallback or survive redaction."""
    from otlp_cardinality_checker_spark.operators.pii import pii_scan

    rows = [
        (1, "req 9E3779B1-0003-4005-8007-000043F41C39 upper"),
        (2, "req 9e3779B1-0003-4005-8007-000043f41C39 mixed"),
    ]
    df = spark.createDataFrame(rows, "conv_id long, text string")
    got = {r["conv_id"]: r for r in pii_scan(df).collect()}
    for cid in (1, 2):
        assert got[cid]["n_uuid"] == 1 and got[cid]["n_longnum"] == 0
        assert "<UUID>" in got[cid]["redacted"]


def test_pii_stats_reduces_cardinality(spark, tiny_routed):
    from otlp_cardinality_checker_spark.operators.pii import pii_stats

    got = pii_stats(tiny_routed).collect()
    assert got
    for row in got:
        assert row["n_distinct_redacted"] <= row["n_distinct_raw"]
        assert row["n_pii_turns"] <= row["n_turns"]


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------


def test_tfidf_discriminative_term_wins(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        tfidf_top_terms,
    )

    rows = [
        (1, "en", "shared shared shared apple apple apple apple"),
        (2, "en", "shared shared shared"),
        (3, "de", "shared shared shared banane banane banane banane"),
        (4, "de", "shared shared shared"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = tfidf_top_terms(docs, k=2).collect()
    best = {r["lang"]: r["term"] for r in got if r["rank"] == 1}
    # 'shared' appears in every doc (idf = ln(1) = 0); the per-language
    # exclusive term must rank first
    assert best == {"en": "apple", "de": "banane"}
    assert all(r["score"] == 0.0 for r in got if r["term"] == "shared")


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------


def test_containment_full_quote_scores_one(spark):
    from otlp_cardinality_checker_spark.operators.dedup import (
        cross_split_containment,
    )

    train_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    rows = [
        (1, "train", train_text),
        # test doc 2 is a verbatim substring of train doc 1
        (2, "test", "beta gamma delta epsilon zeta"),
        # test doc 3 shares nothing
        (3, "test", "one two three four five six"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = {
        r["doc_id"]: r
        for r in cross_split_containment(
            docs, F.col("source") == "test", min_containment=0.5
        ).collect()
    }
    assert got[2]["containment"] == 1.0
    assert got[2]["train_doc_id"] == 1
    assert 3 not in got


# ---------------------------------------------------------------------------
# key skew
# ---------------------------------------------------------------------------


def test_key_skew_flags_hot_value(spark):
    from otlp_cardinality_checker_spark.operators.aggregate import key_skew

    rows = []
    for i in range(100):
        rows.append(("chat", f"c{i}", 0, None, {"hot": "same", "flat": f"v{i}"}))
    routed = spark.createDataFrame(
        rows,
        "sink string, conv_id string, turn_idx int, ts timestamp, "
        "attrs map<string,string>",
    )
    got = {r["key"]: r for r in key_skew(routed).collect()}
    assert got["hot"]["top_value"] == "same"
    assert got["hot"]["skew_ratio"] == 1.0 and got["hot"]["top_share"] == 1.0
    assert got["hot"]["n_values"] == 1
    assert got["flat"]["skew_ratio"] == 1.0  # uniform: top*n/total == 1
    assert got["flat"]["top_share"] == 0.01
    assert got["flat"]["top_value"] == "v0"  # deterministic tie-break


# ---------------------------------------------------------------------------
# stop-gram df cap
# ---------------------------------------------------------------------------


def test_jaccard_max_df_drops_hot_shingles(spark):
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        word_shingles,
    )

    # "the big dog" appears in EVERY doc (the hot stop-gram); only docs
    # 1 and 2 also share a rare tail.
    rows = [
        (1, "the big dog ran far away yesterday evening"),
        (2, "the big dog ran far away yesterday morning"),
        (3, "the big dog sat quietly under a tree"),
        (4, "the big dog barked loudly at the mailman"),
        (5, "the big dog chased its tail in circles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs)
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard(sh, min_jaccard=0.01).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard(sh, min_jaccard=0.01, max_df=3).collect()
    }
    # every pair shares the hot shingle -> uncapped pairs all 10 combos
    assert len(uncapped) == 10
    # capped: only the pair sharing rare shingles survives
    assert capped == {(1, 2)}


def test_containment_respects_max_df(spark):
    from otlp_cardinality_checker_spark.operators.dedup import (
        cross_split_containment,
    )

    rows = [
        (1, "train", "common common common rare alpha beta gamma delta"),
        (2, "train", "common common common nothing else here today"),
        (3, "test", "common common common rare alpha beta gamma delta"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    import pyspark.sql.functions as FF

    pred = FF.col("source") == "test"
    # without the cap doc 3 matches doc 1 exactly
    full = cross_split_containment(docs, pred, min_containment=0.5).collect()
    assert full and full[0]["train_doc_id"] == 1
    # with an aggressive cap the ubiquitous "common common common" shingle
    # is dropped from sizes AND pairs, but the rare tail still matches
    capped = cross_split_containment(
        docs, pred, min_containment=0.5, max_df=2
    ).collect()
    assert capped and capped[0]["train_doc_id"] == 1
    assert capped[0]["containment"] == 1.0


# ---------------------------------------------------------------------------
# filter funnel
# ---------------------------------------------------------------------------


def test_filter_funnel_first_stage_attribution(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        filter_funnel,
    )

    rows = [
        # fails too_short AND low_alpha -> attributed to too_short only
        (1, "xx", "1 2 3"),
        # long enough, fails alpha (digits)
        (2, "xx", " ".join(["123"] * 20)),
        # long, alphabetic (long words keep alpha ratio high), but no
        # language markers
        (3, "xx", " ".join(["zzzzzzzzzzzz"] * 20)),
        # passes everything: English markers + long words for alpha ratio
        (4, "xx", " ".join(["extraordinary", "the", "marvelous", "and",
                            "wonderful", "the", "magnificent", "of",
                            "the", "spectacular", "and", "the",
                            "incredible", "of", "the", "fantastic"])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["stage"]: r for r in filter_funnel(docs).collect()}
    assert got["1_too_short"]["n_docs"] == 1
    assert got["2_low_alpha"]["n_docs"] == 1
    assert got["3_lang_unknown"]["n_docs"] == 1
    assert got["4_kept"]["n_docs"] == 1
    assert sum(r["n_docs"] for r in got.values()) == 4
    assert abs(sum(r["share"] for r in got.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# dup n-gram rate + entropy
# ---------------------------------------------------------------------------


def test_dup_ngram_rate_flags_copied_text(spark):
    from otlp_cardinality_checker_spark.operators.dedup import dup_ngram_rate

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # full copy
        (3, "one two three four five six seven eight nine"),   # unique
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dup_ngram_rate(docs).collect()}
    assert got[1]["dup_rate"] == 1.0 and got[2]["dup_rate"] == 1.0
    assert got[3]["dup_rate"] == 0.0


def test_char_entropy_orders_texts(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        char_entropy,
    )

    rows = [
        (1, "en", "aaaaaaaaaaaaaaaaaaaa"),                 # zero entropy
        (2, "en", "abcdefghijklmnopqrstuvwxyz"),           # max: ln(26)
        (3, "en", "the quick brown fox jumps over a dog"), # in between
        (4, "en", "1234 5678 !!!"),                        # no letters
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    import math

    assert got[1]["entropy"] == 0.0
    assert got[2]["entropy"] == round(math.log(26), 4)
    assert 0 < got[3]["entropy"] < math.log(26)
    assert got[4]["entropy"] == 0.0 and got[4]["n_letters"] == 0


def test_null_text_consistency_funnel_vs_predicate(spark):
    """Review fix: NULL text must fail the funnel (too_short), and the
    funnel's kept set must equal the passes_quality filter row-for-row."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        filter_funnel,
        passes_quality,
    )

    rows = [
        (1, "en", None),
        (2, "en", " ".join(["extraordinary", "the", "marvelous", "and",
                            "wonderful", "the", "magnificent", "of",
                            "the", "spectacular", "and", "the",
                            "incredible", "of", "the", "fantastic"])),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["stage"]: r["n_docs"] for r in filter_funnel(docs).collect()}
    assert got.get("1_too_short") == 1 and got.get("4_kept") == 1
    assert docs.where(passes_quality()).count() == 1


def test_survivor_by_score_keeps_unscored_members(spark):
    """Review fix: entities missing a score row stay in the output (score
    NULL, never survivor unless the whole cluster is unscored)."""
    import pyspark.sql.functions as FF

    from otlp_cardinality_checker_spark.operators.graph import (
        survivor_by_score,
    )

    clustered = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (7, 7, 2), (8, 7, 2)],
        "doc_id long, cluster_id long, cluster_size long",
    ).withColumn(
        "is_survivor", (FF.col("doc_id") == FF.col("cluster_id")).cast("int")
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 50)], "doc_id long, score long"  # 3, 7, 8 unscored
    )
    got = {r["doc_id"]: r for r in survivor_by_score(clustered, scores).collect()}
    assert set(got) == {1, 2, 3, 7, 8}  # nobody dropped
    assert [got[i]["is_survivor"] for i in (1, 2, 3)] == [0, 1, 0]
    assert got[3]["score"] is None
    # fully-unscored cluster: min id wins deterministically
    assert got[7]["is_survivor"] == 1 and got[8]["is_survivor"] == 0


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def test_asof_join_semantics(spark):
    """Backward as-of: latest eff_ts <= ts; boundary inclusive; facts
    before the first version keep NULL payload (left semantics)."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.asof import asof_join

    T = lambda h: dt.datetime(2026, 1, 1, h)  # noqa: E731
    facts = spark.createDataFrame(
        [(1, "a", T(0)), (2, "a", T(5)), (3, "a", T(6)), (4, "b", T(9)),
         (5, "c", T(9))],
        "event_id long, k string, ts timestamp",
    )
    dim = spark.createDataFrame(
        [("a", T(3), 30), ("a", T(6), 60), ("b", T(1), 10)],
        "k string, eff_ts timestamp, v int",
    )
    got = {
        r["event_id"]: r["v"]
        for r in asof_join(facts, dim, ["k"], "event_id").collect()
    }
    assert got[1] is None          # before first version
    assert got[2] == 30            # T(5) -> version at T(3)
    assert got[3] == 60            # boundary: eff_ts == ts is included
    assert got[4] == 10
    assert got[5] is None          # key with no versions at all


def test_asof_join_plan_is_broadcast_no_window(spark):
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.asof import asof_join
    from tests.test_plans import plan_of

    T = dt.datetime(2026, 1, 1)
    facts = spark.createDataFrame(
        [(1, "a", T)], "event_id long, k string, ts timestamp"
    )
    dim = spark.createDataFrame(
        [("a", T, 1)], "k string, eff_ts timestamp, v int"
    )
    plan = plan_of(asof_join(facts, dim, ["k"], "event_id"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan  # winner via max_by hash-agg, not a window


def test_interval_join_boundaries_and_multimatch(spark):
    """[start, end) semantics; a fact inside two overlapping intervals
    matches both; intervals spanning multiple buckets still match once."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.asof import interval_join

    T = lambda h, m=0: dt.datetime(2026, 1, 1, h, m)  # noqa: E731
    facts = spark.createDataFrame(
        [(1, T(1, 30)), (2, T(2, 0)), (3, T(5, 0)), (4, T(0, 0))],
        "event_id long, ts timestamp",
    )
    ivl = spark.createDataFrame(
        [(10, T(1), T(2)),        # fact 1 in; fact 2 at end -> excluded
         (20, T(1, 15), T(4)),    # overlaps 10; spans 3+ hourly buckets
         (30, T(0), T(0, 30))],   # fact 4 at start -> included
        "window_id int, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r["event_id"], r["window_id"])
        for r in interval_join(facts, ivl).collect()
    )
    assert got == [(1, 10), (1, 20), (2, 20), (4, 30)]


def test_rollup_partials_equal_direct(spark):
    """Merging 15-min partials to 1h must equal aggregating raw directly,
    including min/max and float sums; non-multiple resolutions raise."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.rollup import (
        rollup_to,
        time_partials,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    partials = time_partials(ev, ["event_type"])
    merged = {
        (r["bucket"], r["event_type"]): r
        for r in rollup_to(partials, ["event_type"], 3600).collect()
    }
    from pyspark.sql import functions as FF

    direct = {
        (r["bucket"], r["event_type"]): r
        for r in ev.groupBy(
            FF.timestamp_seconds(
                (FF.unix_timestamp("ts") / 3600).cast("long") * 3600
            ).alias("bucket"),
            "event_type",
        )
        .agg(
            FF.count(FF.lit(1)).alias("n_events"),
            FF.sum("value").alias("sum_value"),
            FF.min("value").alias("min_value"),
            FF.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(merged) == set(direct)
    for k in merged:
        assert merged[k]["n_events"] == direct[k]["n_events"]
        assert merged[k]["min_value"] == direct[k]["min_value"]
        assert merged[k]["max_value"] == direct[k]["max_value"]
        assert abs(merged[k]["sum_value"] - direct[k]["sum_value"]) < 1e-6

    with _pytest.raises(ValueError):
        rollup_to(partials, ["event_type"], 4000)  # not a multiple of 900


# ---------------------------------------------------------------------------
# retention + funnel
# ---------------------------------------------------------------------------


def test_cohort_retention_day_zero_full(spark):
    """Every user is active at their own first-seen day: day_offset 0 has
    retention 1.0 for every cohort."""
    from otlp_cardinality_checker_spark.operators.retention import (
        cohort_retention,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = cohort_retention(ev).collect()
    assert got
    day0 = [r for r in got if r["day_offset"] == 0]
    assert day0 and all(r["retention"] == 1.0 for r in day0)
    assert all(r["n_active"] <= r["cohort_size"] for r in got)


def test_sequence_funnel_strict_order(spark):
    """Out-of-order completion must NOT count: a user whose only 'view'
    precedes their signup never reaches stage 2."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.retention import (
        sequence_funnel,
    )

    T = lambda h: dt.datetime(2026, 1, 1, h)  # noqa: E731
    rows = [
        # u1: proper order -> reaches all 3
        (1, "signup", T(1)), (1, "view", T(2)), (1, "purchase", T(3)),
        # u2: view BEFORE signup only -> stops at stage 1
        (2, "view", T(1)), (2, "signup", T(2)), (2, "purchase", T(3)),
        # u3: never signs up -> stage 0
        (3, "view", T(1)), (3, "purchase", T(2)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    got = {
        r["step"]: r
        for r in sequence_funnel(
            ev, ("signup", "view", "purchase")
        ).collect()
    }
    assert got["signup"]["n_users"] == 2
    assert got["view"]["n_users"] == 1      # only u1 viewed after signup
    # u2 purchased after signup but never viewed after signup
    assert got["purchase"]["n_users"] == 1
    assert got["purchase"]["conversion"] == 0.5


def test_unigram_cross_entropy_ranks_rarity(spark):
    """Docs made of corpus-common words must score LOWER than docs made of
    corpus-rare words under the self-trained unigram LM."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        unigram_cross_entropy,
    )

    common = "the quick brown fox " * 10
    rows = (
        [(i, "en", common) for i in range(9)]
        + [(100, "en", "zyzzyva qoph xylem vex")]  # rare tokens, once each
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r["cross_entropy"] for r in unigram_cross_entropy(docs).collect()}
    assert got[100] > got[0]


def test_bigram_cross_entropy_hand_computed(spark):
    """2-doc corpus checked against a by-hand add-one-smoothed bigram LM,
    plus the short-doc drop-out rule."""
    import math

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        bigram_cross_entropy,
    )

    rows = [
        (1, "en", "a b a b"),   # bigrams: (a,b) x2, (b,a) x1
        (2, "en", "a b c"),     # bigrams: (a,b), (b,c)
        (3, "en", "solo"),      # 1 token -> no bigrams -> dropped
        (4, "en", ""),          # empty -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in bigram_cross_entropy(docs).collect()}
    assert set(got) == {1, 2}
    # LM: c(a,b)=3, c(b,a)=1, c(b,c)=1; contexts: c(a)=3, c(b)=2; V=2
    p_ab = (3 + 1) / (3 + 2)
    p_ba = (1 + 1) / (2 + 2)
    p_bc = (1 + 1) / (2 + 2)
    exp1 = round((2 * -math.log(p_ab) + 1 * -math.log(p_ba)) / 3, 4)
    exp2 = round((-math.log(p_ab) - math.log(p_bc)) / 2, 4)
    assert got[1]["n_bigrams"] == 3 and got[2]["n_bigrams"] == 2
    assert abs(got[1]["cross_entropy"] - exp1) < 1e-9
    assert abs(got[2]["cross_entropy"] - exp2) < 1e-9


def test_bigram_cross_entropy_catches_common_unigram_salad(spark):
    """Shuffled-word salad built from corpus-common words must score
    HIGHER than the templated docs it was shuffled from — the case the
    unigram filter cannot see (same unigram counts, alien bigrams)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        bigram_cross_entropy,
        unigram_cross_entropy,
    )

    template = "the quick brown fox jumps over the lazy dog"
    salad = "dog the over quick lazy jumps fox brown the"  # same multiset
    rows = [(i, "en", template) for i in range(9)] + [(100, "en", salad)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    bg = {r["doc_id"]: r["cross_entropy"] for r in bigram_cross_entropy(docs).collect()}
    ug = {r["doc_id"]: r["cross_entropy"] for r in unigram_cross_entropy(docs).collect()}
    assert bg[100] > bg[0]          # bigram LM flags the salad
    assert abs(ug[100] - ug[0]) < 1e-9  # unigram LM is blind to it


def test_source_divergence_flags_outlier_source(spark):
    """A source with an alien vocabulary must show the highest KL; a
    source sampled from the corpus-dominant distribution stays near 0."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        source_divergence,
    )

    normal = "alpha beta gamma delta epsilon"
    rows = (
        [(i, "srcA", normal) for i in range(10)]
        + [(20 + i, "srcB", normal) for i in range(10)]
        + [(40, "srcX", "qqq www zzz yyy xxx")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r["kl_divergence"] for r in source_divergence(docs).collect()}
    assert got["srcX"] > got["srcA"]
    assert abs(got["srcA"] - got["srcB"]) < 1e-9
    assert got["srcA"] < 0.1  # matches the corpus-dominant distribution


def test_new_ops_handle_empty_input(spark):
    """Every round-2 operator must return an empty frame (not crash, not a
    null-ridden row) on empty input."""
    import pyspark.sql.functions as FF

    from otlp_cardinality_checker_spark.operators.aggregate import key_skew
    from otlp_cardinality_checker_spark.operators.checksum import (
        dataset_fingerprint,
    )
    from otlp_cardinality_checker_spark.operators.dedup import (
        dup_ngram_rate,
        exact_jaccard,
        word_shingles,
    )
    from otlp_cardinality_checker_spark.operators.retention import (
        cohort_retention,
        sequence_funnel,
    )
    from otlp_cardinality_checker_spark.operators.sampling import (
        stratified_sample_stats,
    )
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        bigram_cross_entropy,
        filter_funnel,
        source_divergence,
        tfidf_top_terms,
        unigram_cross_entropy,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, lang string, source string, text string"
    )
    ev = spark.createDataFrame(
        [], "event_id long, event_type string, user_id long, "
            "value double, ts timestamp"
    )
    routed = spark.createDataFrame(
        [], "sink string, conv_id string, turn_idx int, ts timestamp, "
            "attrs map<string,string>"
    )
    assert filter_funnel(docs).count() == 0
    assert stratified_sample_stats(docs, {"en": 0.5}).count() == 0
    assert tfidf_top_terms(docs).count() == 0
    assert unigram_cross_entropy(docs).count() == 0
    assert bigram_cross_entropy(docs).count() == 0
    assert source_divergence(docs).count() == 0
    assert dup_ngram_rate(docs).count() == 0
    assert exact_jaccard(word_shingles(docs), max_df=2).count() == 0
    assert key_skew(routed).count() == 0
    assert cohort_retention(ev).count() == 0
    assert sequence_funnel(ev, ("signup", "view")).count() == 2  # 0-count rows
    funnel_rows = sequence_funnel(ev, ("signup", "view")).collect()
    assert all(r["n_users"] == 0 for r in funnel_rows)
    # global (ungrouped) fingerprint of an empty frame: one row, n_rows=0
    fp = dataset_fingerprint(docs).collect()
    assert len(fp) == 1 and fp[0]["n_rows"] == 0


def test_cms_properties(spark):
    """Count-min invariants: est >= exact for every value; merge of two
    partial sketches equals the sketch of the union; small width forces
    visible overestimates (collisions) without ever underestimating."""
    import pyspark.sql.functions as FF

    from otlp_cardinality_checker_spark.operators.cms import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rows = [(f"v{i % 37}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "value string")
    half1 = spark.createDataFrame(rows[:500], "value string")
    half2 = spark.createDataFrame(rows[500:], "value string")

    exact = {
        r["value"]: r["n"]
        for r in df.groupBy("value").agg(FF.count(FF.lit(1)).alias("n")).collect()
    }
    probes = df.select("value").distinct()

    for width in (8, 256):  # 8 forces collisions
        sk = cms_build(df, "value", width=width)
        est = {
            r["value"]: r["est_count"]
            for r in cms_estimate(sk, probes, width=width).collect()
        }
        assert set(est) == set(exact)
        for v, e in est.items():
            assert e >= exact[v]  # never underestimates
        merged = cms_merge(
            cms_build(half1, "value", width=width),
            cms_build(half2, "value", width=width),
        )
        est_m = {
            r["value"]: r["est_count"]
            for r in cms_estimate(merged, probes, width=width).collect()
        }
        assert est_m == est  # partial+merge == build-over-union, exactly


def test_fingerprint_field_boundary_and_null_sentinel(spark):
    """Regression for the canonicalization fixes: separator-straddling
    rows and literal-sentinel-vs-NULL rows must fingerprint differently."""
    from otlp_cardinality_checker_spark.operators.checksum import (
        NULL_SENTINEL,
        dataset_fingerprint,
    )

    a = spark.createDataFrame([("a\x1fb", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b\x1fc")], "x string, y string")
    fa, fb = dataset_fingerprint(a).collect()[0], dataset_fingerprint(b).collect()[0]
    assert fa["xor_digest"] != fb["xor_digest"]

    lit = spark.createDataFrame([(NULL_SENTINEL,)], "x string")
    nul = spark.createDataFrame([(None,)], "x string")
    fl = dataset_fingerprint(lit).collect()[0]
    fn = dataset_fingerprint(nul).collect()[0]
    assert fl["xor_digest"] != fn["xor_digest"]


def test_cms_null_values_consistent(spark):
    """NULL values hash to the shared sentinel in BOTH build and estimate,
    so a NULL's estimate covers its own occurrences (est >= exact)."""
    from otlp_cardinality_checker_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame(
        [("a",), (None,), (None,), ("b",)], "value string"
    )
    sk = cms_build(df, "value")
    est = {
        r["value"]: r["est_count"]
        for r in cms_estimate(
            sk, df.select("value").distinct()
        ).collect()
    }
    assert est[None] >= 2 and est["a"] >= 1 and est["b"] >= 1


def test_cms_stream_equals_batch_and_replay_safe(spark, tmp_path):
    """Streamed CMS partials summed over micro-batches == the batch
    sketch cell-for-cell (additive merge), and a checkpoint-wiped replay
    leaves the merged state unchanged (batch-id dynamic overwrite)."""
    import shutil

    from otlp_cardinality_checker_spark.operators.cms import cms_build
    from otlp_cardinality_checker_spark.streaming.stream import (
        cms_stream,
        current_cms,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    pdf = ev.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "src"
    src.mkdir()
    n = len(pdf)
    pdf.iloc[: n // 2].to_parquet(src / "part0.parquet", index=False)
    pdf.iloc[n // 2 :].to_parquet(src / "part1.parquet", index=False)

    n_batches = cms_stream(
        spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert n_batches >= 2
    streamed = sorted(
        tuple(r) for r in current_cms(spark, str(tmp_path / "out")).collect()
    )
    batch = sorted(
        tuple(r) for r in cms_build(ev, "user_id").collect()
    )
    assert streamed == batch

    shutil.rmtree(tmp_path / "ckpt")
    cms_stream(spark, str(src), str(tmp_path / "out"), str(tmp_path / "ckpt"))
    replayed = sorted(
        tuple(r) for r in current_cms(spark, str(tmp_path / "out")).collect()
    )
    assert replayed == batch


def test_session2_ops_handle_empty_input(spark):
    """Round-5 session-2 operators must return empty frames (not crash)
    on empty input."""
    import pyspark.sql.functions as FF

    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
        tool_error_attribution,
    )
    from otlp_cardinality_checker_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )
    from otlp_cardinality_checker_spark.operators.packing import (
        pack_sequences,
    )
    from otlp_cardinality_checker_spark.operators.search import bm25_topk
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, lang string, source string, text string"
    )
    turns = spark.createDataFrame(
        [], "conv_id string, turn_idx int, template string, tool string, "
            "severity string"
    )
    assert bm25_topk(docs).count() == 0
    assert pack_sequences(docs).count() == 0
    assert quality_classifier(docs).count() == 0
    assert template_loops(turns).count() == 0
    assert tool_error_attribution(turns).count() == 0
    assert incremental_dedup(docs, fingerprint_store(docs)).count() == 0


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """DSIR: a pool doc written in the target's vocabulary must carry a
    higher log importance weight than one written in the pool's own
    majority vocabulary; target docs themselves are not scored."""
    from otlp_cardinality_checker_spark.operators.importance import (
        dsir_log_weights,
    )

    target_text = "curated prose about careful engineering and design"
    pool_noise = "random clutter spam keyword stuffing garbage filler"
    rows = (
        [(i, "en", "tgt", target_text) for i in range(10)]
        + [(100 + i, "en", "pool", pool_noise) for i in range(10)]
        # the doc DSIR should surface: pool member, target vocabulary
        + [(200, "en", "pool", target_text)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    got = {
        r["doc_id"]: r
        for r in dsir_log_weights(docs, F.col("source") == "tgt").collect()
    }
    assert set(got) == set(range(100, 110)) | {200}  # pool only
    assert got[200]["log_weight"] > got[100]["log_weight"]
    assert got[200]["log_weight"] > 0  # more target-like than pool-like
    assert got[100]["log_weight"] < 0


def test_mixture_weights_crafted(spark):
    """Temperature flattening: shares sum to 1, small sources upsample."""
    import math

    from otlp_cardinality_checker_spark.operators.sampling import (
        mixture_weights,
    )

    rows = (
        # big source: 9 docs x 10 tokens; small source: 1 doc x 10 tokens
        [(i, " ".join(["w"] * 10), "en", "big") for i in range(9)]
        + [(9, " ".join(["w"] * 10), "en", "small")]
    )
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source"]
    )
    got = {r["source"]: r for r in mixture_weights(docs, alpha=0.7).collect()}
    assert got["big"]["n_tokens"] == 90 and got["small"]["n_tokens"] == 10
    assert abs(got["big"]["raw_share"] + got["small"]["raw_share"] - 1) < 1e-6
    assert (
        abs(got["big"]["alpha_share"] + got["small"]["alpha_share"] - 1)
        < 1e-6
    )
    # alpha < 1 flattens: the minority source is up-sampled, majority down
    assert got["small"]["upsample_factor"] > 1 > got["big"]["upsample_factor"]
    ta = 90**0.7 + 10**0.7
    assert math.isclose(
        got["small"]["alpha_share"], round(10**0.7 / ta, 6), abs_tol=1e-9
    )


def test_psi_drift_crafted(spark):
    """Identical slice ≈ zero PSI; shifted slice strictly larger; bins are
    bit-length octaves (3 tokens -> bin 2, 16 tokens -> bin 5)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        psi_drift,
    )

    short = " ".join(["w"] * 3)   # bit_length(3) = 2
    long_ = " ".join(["w"] * 16)  # bit_length(16) = 5
    rows = (
        # balanced: 10 short + 10 long in each of two mirror sources
        [(i, short, "en", "mirror_a") for i in range(10)]
        + [(100 + i, long_, "en", "mirror_a") for i in range(10)]
        + [(200 + i, short, "en", "mirror_b") for i in range(10)]
        + [(300 + i, long_, "en", "mirror_b") for i in range(10)]
        # drifted: all long
        + [(400 + i, long_, "en", "drift") for i in range(20)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    got = {r["source"]: r for r in psi_drift(docs, by="source").collect()}
    assert got["mirror_a"]["n_bins"] == 2 and got["mirror_a"]["n_docs"] == 20
    # mirrors sit close to the corpus (not exactly: corpus is 1/3 drifted)
    assert got["mirror_a"]["psi"] == got["mirror_b"]["psi"]
    assert got["drift"]["psi"] > got["mirror_a"]["psi"] > 0


def test_psi_drift_smoothing_closed_form(spark):
    """One group == whole corpus -> q == p for every bin -> PSI exactly 0."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        psi_drift,
    )

    rows = [(i, " ".join(["w"] * (2 + i % 5)), "en", "only") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    [r] = psi_drift(docs, by="source").collect()
    assert r["psi"] == 0.0


def test_data_budget_membership_and_flags(spark):
    """Small source oversampled (kept whole), big source downsampled with
    the exact md5-threshold membership, recomputed independently here."""
    import hashlib
    import math

    from otlp_cardinality_checker_spark.operators.sampling import (
        data_budget,
    )

    rows = [(i, " ".join(["w"] * 100), "en", "big") for i in range(100)] + [
        (1000 + i, " ".join(["w"] * 10), "en", "small") for i in range(5)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    budget = 5000
    got = {
        r["source"]: r for r in data_budget(docs, budget, alpha=0.7).collect()
    }
    big, small = got["big"], got["small"]
    assert big["n_tokens"] == 10000 and small["n_tokens"] == 50
    # alpha=0.7 flattening makes the tiny source's allocation exceed it
    assert small["oversampled"] and small["epochs"] > 1
    assert small["n_kept"] == 5 and small["kept_tokens"] == 50
    assert not big["oversampled"] and big["epochs"] < 1
    # independent membership recomputation (same quantization chain)
    ta = 10000**0.7 + 50**0.7
    share = round(10000**0.7 / ta, 6)
    alloc = budget * share
    thr = math.floor(min(1.0, alloc / 10000) * 65536.0)
    kept = [
        i
        for i in range(100)
        if hashlib.md5(str(i).encode()).hexdigest()[:4] < format(thr, "04x")
    ]
    assert big["n_kept"] == len(kept)
    assert big["kept_id_sum"] == sum(kept)
    assert big["kept_tokens"] == 100 * len(kept)
    assert big["alloc_tokens"] == math.floor(alloc)


def test_hopping_windows_fanout_and_membership(spark):
    """Every event lands in exactly size/slide windows; the window set for
    a known timestamp is the 4 slide-aligned starts covering it."""
    import datetime as dt

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.rollup import (
        hopping_window_stats,
    )

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 0, 20, 0), "click", 1.0),
            (2, dt.datetime(2024, 1, 1, 12, 0, 0), "view", 2.0),
        ],
        ["event_id", "ts", "event_type", "value"],
    )
    out = hopping_window_stats(ev).collect()
    assert sum(r["n_events"] for r in out) == 2 * 4
    clicks = sorted(
        r["window_start"] for r in out if r["event_type"] == "click"
    )
    assert clicks == [
        "2023-12-31 23:30:00",
        "2023-12-31 23:45:00",
        "2024-01-01 00:00:00",
        "2024-01-01 00:15:00",
    ]
    views = sorted(r["window_start"] for r in out if r["event_type"] == "view")
    # 12:00 exactly on a slide boundary: windows 11:15..12:00
    assert views == [
        "2024-01-01 11:15:00",
        "2024-01-01 11:30:00",
        "2024-01-01 11:45:00",
        "2024-01-01 12:00:00",
    ]
    with _pytest.raises(ValueError):
        hopping_window_stats(ev, size_seconds=3600, slide_seconds=700)


def test_fixed_k_sample_determinism_and_truncation(spark):
    """Exactly min(k, |stratum|) rows per stratum; membership invariant
    under repartitioning; a different salt is an independent draw; rank
    order matches an independent Python md5 permutation."""
    import hashlib

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.sampling import (
        fixed_k_sample,
    )

    rows = [(i, "x", "en" if i < 30 else "de", "s") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = fixed_k_sample(docs, k=10).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append((r["rank"], r["doc_id"]))
    assert len(by_lang["en"]) == 10 and len(by_lang["de"]) == 10
    # independent permutation: ranks follow md5(str(id)) ascending
    exp_en = sorted(
        range(30), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:10]
    assert [d for _, d in sorted(by_lang["en"])] == exp_en
    # repartition invariance
    out2 = fixed_k_sample(docs.repartition(13), k=10).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))
    # small stratum returns whole stratum when k exceeds it
    whole = fixed_k_sample(docs, k=100).collect()
    assert len([r for r in whole if r["lang"] == "de"]) == 10
    # different salt redraws (with 30 ids the top-10 sets almost surely
    # differ; assert the RANK ORDER differs, which is salt-determined)
    alt = fixed_k_sample(docs, k=10, salt="v2").collect()
    assert sorted(map(tuple, alt)) != sorted(map(tuple, out))
    with _pytest.raises(ValueError):
        fixed_k_sample(docs, k=0)


def test_curriculum_stages_exact_semantics(spark):
    """Stage = ceil(cum_rank * k / n) with integer arithmetic: distinct
    scores split evenly; ties always share a stage (heavy bottom ties
    legitimately leave stage 1 empty); assignment is invariant under
    repartitioning; k<=0 rejected."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.curriculum import (
        curriculum_stages,
    )
    import pyspark.sql.functions as F

    def docs_of(tokens):
        rows = [(i, " ".join(["w"] * n) if n else "") for i, n in enumerate(tokens)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    # 8 distinct scores, k=4 -> pairs per stage
    got = {
        r["doc_id"]: r
        for r in curriculum_stages(docs_of(range(1, 9)), 4).collect()
    }
    assert [got[i]["stage"] for i in range(8)] == [1, 1, 2, 2, 3, 3, 4, 4]
    assert all(got[i]["stage_size"] == 2 for i in range(8))
    assert got[7]["difficulty"] == 8

    # heavy ties at the bottom: c(1)=3 of 4 -> ceil(1.5)=2; everyone
    # lands in stage 2, stage 1 is empty (ties are never split)
    got = {
        r["doc_id"]: r
        for r in curriculum_stages(docs_of([1, 1, 1, 2]), 2).collect()
    }
    assert {r["stage"] for r in got.values()} == {2}
    assert all(r["stage_size"] == 4 for r in got.values())

    # partitioning invariance
    base = docs_of(list(range(1, 30)) * 3)
    a = {r["doc_id"]: r["stage"] for r in curriculum_stages(base, 5).collect()}
    b = {
        r["doc_id"]: r["stage"]
        for r in curriculum_stages(base.repartition(13, F.col("doc_id")), 5).collect()
    }
    assert a == b

    with _pytest.raises(ValueError):
        curriculum_stages(docs_of([1]), 0)


def test_length_buckets_padding_accounting(spark):
    """Bucket = smallest boundary holding the doc (inclusive); overflow
    docs are truncated into the top bucket billed at the cap; pad and
    waste accounting is integer-exact; empty text is 0 tokens."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.curriculum import (
        length_buckets,
    )

    rows = [
        (0, " ".join(["w"] * 10)),   # -> 32, pad 22
        (1, " ".join(["w"] * 64)),   # boundary-inclusive -> 64, pad 0
        (2, " ".join(["w"] * 100)),  # -> 128, pad 28
        (3, " ".join(["w"] * 300)),  # overflow -> 256 truncated, pad 0
        (4, ""),                     # 0 tokens -> 32, pad 32
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket_cap"]: r
        for r in length_buckets(docs, boundaries=(32, 64, 128, 256)).collect()
    }
    assert set(got) == {32, 64, 128, 256}
    assert got[32]["n_docs"] == 2 and got[32]["pad_tokens"] == 22 + 32
    assert got[64]["n_docs"] == 1 and got[64]["pad_tokens"] == 0
    assert got[128]["pad_tokens"] == 28
    assert got[256]["n_truncated"] == 1 and got[256]["pad_tokens"] == 0
    assert got[256]["n_tokens"] == 300  # raw mass still reported
    assert abs(got[32]["waste_share"] - (22 + 32) / 64) < 1e-9
    with _pytest.raises(ValueError):
        length_buckets(docs, boundaries=())


def test_chi2_drift_closed_form(spark):
    """Identical distributions give chi2 = 0; a fully skewed group
    matches the hand-computed statistic incl. zero-observation cells."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        chi2_drift,
    )

    # corpus: 8 en + 8 fr. balanced = 4/4; skewed = 4 en only.
    rows = (
        [(i, "t", "en", "balanced") for i in range(4)]
        + [(10 + i, "t", "fr", "balanced") for i in range(4)]
        + [(20 + i, "t", "en", "skewed") for i in range(4)]
        + [(30 + i, "t", "fr", "other") for i in range(4)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    got = {r["source"]: r for r in chi2_drift(docs).collect()}
    assert got["balanced"]["chi2"] == 0.0  # exactly the corpus mix
    # skewed: n=4, corpus shares en 8/16, fr 8/16 -> exp 2/2, obs 4/0
    # chi2 = (4-2)^2/2 + (0-2)^2/2 = 4.0
    assert got["skewed"]["chi2"] == 4.0
    assert got["other"]["chi2"] == 4.0
    assert got["skewed"]["n_cats"] == 2


def test_epoch_plan_schedule_and_budget_coherence(spark):
    """Full epochs repeat every doc; the tail epoch is an md5-threshold
    subset replayable in Python; for an epochs<1 source the tail-epoch
    membership is EXACTLY data_budget's kept set (same IEEE chain);
    max_epochs clamps; bad args rejected."""
    import hashlib

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.sampling import (
        data_budget,
        epoch_plan,
    )

    rows = [(i, " ".join(["w"] * 10), "big" if i < 30 else "small")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = epoch_plan(docs, budget_tokens=500, alpha=0.7).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    # epochs are contiguous from 1 per scheduled doc
    for eps in by_doc.values():
        assert sorted(eps) == list(range(1, len(eps) + 1))

    # independent Python replay of the whole schedule
    import math

    per = {"big": 300, "small": 100}  # 30 docs x 10 tok, 10 x 10
    ta = sum(v ** 0.7 for v in per.values())
    for src, ntok in per.items():
        share = round(ntok ** 0.7 / ta, 6)
        er = 500.0 * share / ntok
        nfull, thr = int(math.floor(er)), int((er - math.floor(er)) * 65536)
        for doc_id, _t, s in rows:
            if s != src:
                continue
            want = set(range(1, nfull + 1))
            d = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
            if d < format(thr, "04x"):
                want.add(nfull + 1)
            assert set(by_doc.get(doc_id, [])) == want, (doc_id, src)

    # coherence: for a pure-downsample budget (epochs < 1 everywhere),
    # scheduled docs == data_budget's kept membership per source
    small_budget = 120
    sched = {
        r["doc_id"]
        for r in epoch_plan(docs, budget_tokens=small_budget).collect()
        if r["epoch"] == 1
    }
    db = data_budget(docs, budget_tokens=small_budget).collect()
    kept_id_sum = sum(r["kept_id_sum"] for r in db)
    assert sum(sched) == kept_id_sum  # same md5 chain, same membership

    # clamp
    clamped = epoch_plan(docs, budget_tokens=10_000_000, max_epochs=3)
    assert clamped.agg({"epoch": "max"}).collect()[0][0] <= 4
    with _pytest.raises(ValueError):
        epoch_plan(docs, budget_tokens=0)
    with _pytest.raises(ValueError):
        epoch_plan(docs, budget_tokens=10, max_epochs=0)


def test_pii_propagation_echo_vs_one_shot(spark):
    """A UUID echoed by the assistant two turns later is propagated
    (spread 2); a one-shot email is not; a UUID's hex tail must never
    leak into the longnum class (staging contract)."""
    from otlp_cardinality_checker_spark.operators.pii import pii_propagation

    u = "deadbeef-1234-5678-9abc-def012345678"
    rows = [
        ("c1", 0, f"ticket {u} opened"),
        ("c1", 1, "looking into it"),
        ("c1", 2, f"resolved {u} now"),          # echo -> propagated
        ("c1", 3, "contact ops@example.com"),     # one-shot email
        ("c2", 0, f"unrelated {u} mention"),      # same value, other conv
        ("c2", 1, "account 1234567 charged"),
        ("c2", 4, "account 1234567 refunded"),    # longnum echo, spread 3
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r["kind"]: r for r in pii_propagation(df).collect()}

    uu = got["uuid"]
    assert uu["n_values"] == 2            # (c1, u) and (c2, u) are distinct
    assert uu["n_propagated"] == 1 and uu["max_spread_turns"] == 2
    assert uu["propagation_rate"] == 0.5

    em = got["email"]
    assert em["n_values"] == 1 and em["n_propagated"] == 0
    assert em["avg_spread_turns"] is None

    ln = got["longnum"]
    # only the account number: the UUID tail was redacted before this class
    assert ln["n_values"] == 1
    assert ln["n_propagated"] == 1 and ln["max_spread_turns"] == 3


def test_dp_counts_deterministic_and_calibrated(spark):
    """Noise replays across runs and salts change it; the Laplace
    inverse-CDF is recomputed in Python from the same md5 prefix."""
    import hashlib
    import math

    from otlp_cardinality_checker_spark.operators.pii import dp_counts

    rows = [(i, "a" if i < 7 else "b", "x") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in dp_counts(df, epsilon=2.0).collect()}
    again = {r["source"]: r for r in dp_counts(df, epsilon=2.0).collect()}
    assert got == again                         # fully deterministic

    for src, n in (("a", 7), ("b", 3)):
        u = int(hashlib.md5(src.encode()).hexdigest()[:8], 16) / 2**32
        v = u - 0.5
        want = -(1 / 2.0) * math.copysign(1, v) * math.log(
            max(1 - 2 * abs(v), 1e-12)
        ) if v != 0 else 0.0
        assert got[src]["true_count"] == n
        assert abs(got[src]["noise"] - round(want, 4)) <= 1e-4
        assert abs(
            got[src]["released_count"] - round(n + want, 4)
        ) <= 1e-3

    salted = {r["source"]: r for r in
              dp_counts(df, epsilon=2.0, salt="v2").collect()}
    assert salted["a"]["noise"] != got["a"]["noise"]  # independent release


def test_trending_terms_rank_and_window(spark):
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        trending_terms,
    )

    b0 = dt.datetime(2024, 1, 1, 10, 5)
    b1 = dt.datetime(2024, 1, 1, 11, 5)
    rows = [(0, b0, "alpha alpha alpha beta beta gamma"),
            (1, b0, "alpha delta"),
            (2, b1, "zeta zeta eta")]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, text string")
    got = trending_terms(df, k=2).collect()
    hours = {r["bucket"].hour for r in got}
    assert hours == {10, 11}
    h10 = sorted([r for r in got if r["bucket"].hour == 10],
                 key=lambda r: r["rank"])
    assert [(r["token"], r["n"]) for r in h10] == [("alpha", 4), ("beta", 2)]
    h11 = sorted([r for r in got if r["bucket"].hour == 11],
                 key=lambda r: r["rank"])
    assert [(r["token"], r["n"]) for r in h11] == [("zeta", 2), ("eta", 1)]


def test_neyman_allocation_favors_high_variance_strata(spark):
    """Equal-size strata with 10x different spread: the noisy stratum
    gets ~10x the allocation; totals respect the budget (up to the
    documented per-stratum rounding/cap)."""
    import numpy as np

    from otlp_cardinality_checker_spark.operators.sampling import (
        neyman_allocation,
    )

    rows = []
    for i in range(200):
        rows.append((i, "quiet", 100.0 + (i % 2)))          # sd ~0.5
        rows.append((1000 + i, "noisy", 100.0 + 10.0 * (i % 2)))  # sd ~5
    ev = spark.createDataFrame(
        rows, "event_id long, event_type string, value double"
    )
    got = {r["event_type"]: r for r in
           neyman_allocation(ev, budget=110).collect()}
    q = np.array([100.0 + (i % 2) for i in range(200)])
    assert abs(got["quiet"]["stddev"] - round(float(q.std()), 6)) <= 1e-6
    assert got["noisy"]["n_alloc"] == 10 * got["quiet"]["n_alloc"]
    assert got["noisy"]["n_alloc"] + got["quiet"]["n_alloc"] == 110


def test_weighted_sample_is_deterministic_exactly_k_and_weight_biased(spark):
    from otlp_cardinality_checker_spark.operators.sampling import (
        weighted_sample,
    )

    # one heavy doc (weight 1000) among 40 light docs (weight 1): across
    # 20 independent salted draws of k=1, the heavy doc must win most
    rows = [(0, "s", 1000)] + [(i, "s", 1) for i in range(1, 41)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")

    a = weighted_sample(docs, k=3).collect()
    b = weighted_sample(docs, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    assert len(a) == 3 and len({r["rank"] for r in a}) == 3

    wins = 0
    for i in range(20):
        top = weighted_sample(docs, k=1, salt=f"s{i}").collect()[0]
        wins += top["doc_id"] == 0
    # P(win) = 1000/1040 per draw; 20 draws virtually never dip below 12
    assert wins >= 12

    # zero-weight docs can never be drawn
    z = spark.createDataFrame(
        [(1, "s", 0), (2, "s", 5)], "doc_id long, source string, n_chars long"
    )
    zz = weighted_sample(z, k=2).collect()
    assert [r["doc_id"] for r in zz] == [2]


def test_corpus_gini_extremes(spark):
    """Perfectly even masses -> gini 0; one source owning nearly all
    mass -> gini near (n-1)/n; cross-check against the sorted-rank
    closed form."""
    import tempfile

    import __spark_entry__ as m

    def run(masses):
        rows = []
        did = 0
        for si, mass in enumerate(masses):
            rows.append((did, f"s{si}", "w " * mass))
            did += 1
        df = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        with tempfile.TemporaryDirectory() as d:
            df.write.parquet(f"{d}/documents.parquet")
            return m.queries()["corpus_gini"](spark, d).collect()[0]

    even = run([10, 10, 10, 10])
    assert even["gini"] == 0.0

    skew = run([1, 1, 1, 997])
    xs = sorted([1, 1, 1, 997])
    n, tot = len(xs), sum(xs)
    want = (2 * sum((i + 1) * x for i, x in enumerate(xs))) / (n * tot) \
        - (n + 1) / n
    assert abs(skew["gini"] - round(want, 6)) <= 1e-6
    assert skew["gini"] > 0.7


def test_neyman_all_constant_strata_fallback(spark):
    """r6 (advisor): when every stratum has zero variance the Neyman
    denominator sum(N_h*S_h) is 0 — weights must fall back to
    proportional-to-size allocation, never NaN."""
    import math

    import pandas as pd

    from otlp_cardinality_checker_spark.operators.sampling import (
        neyman_allocation,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"d{i}" for i in range(8)],
                "source": ["a"] * 6 + ["b"] * 2,
                "n_chars": [7] * 6 + [3] * 2,  # constant within stratum
            }
        )
    )
    rows = {r["source"]: r for r in
            neyman_allocation(
                docs, budget=4, by="source", value_col="n_chars"
            ).collect()}
    for r in rows.values():
        assert not math.isnan(r["weight"])
        assert not math.isnan(r["sampling_rate"])
    assert abs(rows["a"]["weight"] - 0.75) < 1e-9
    assert abs(rows["b"]["weight"] - 0.25) < 1e-9
    assert rows["a"]["n_alloc"] == 3
    assert rows["b"]["n_alloc"] == 1
