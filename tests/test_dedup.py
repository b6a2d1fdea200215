"""Dedup operator tests over the fixture documents table and crafted corpora."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    df.unpersist()  # cached plans shadow FileScan for same-path reads


def test_exact_dedup_conserves_rows(spark, docs):
    from otlp_cardinality_checker_spark.operators.dedup import exact_dedup_stats

    got = exact_dedup_stats(docs)
    assert got.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_exact_jaccard_identical_docs(spark):
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        word_shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different sentence with other words entirely"),
        (4, "the quick brown fox jumps over the lazy cat today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard(word_shingles(docs)).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) not in pairs  # no shared shingles -> no pair generated
    assert 0 < pairs[(1, 4)] < 1.0


def test_minhash_lsh_recall(spark):
    """LSH candidates must recover all truly-similar pairs (j >= 0.7)."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_jaccard,
        minhash_near_dups,
        word_shingles,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base) for i in range(5)]
    rows += [(10 + i, base.replace("gamma", f"g{i}")) for i in range(3)]
    rows += [
        (100 + i, f"totally unrelated doc number {i} with random words {i * 7}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard(word_shingles(docs), min_jaccard=0.7).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dups(docs, min_jaccard=0.7).collect()
    }
    assert truth, "fixture must contain similar pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9
    # verification step guarantees precision 1.0
    assert got <= truth


def test_simhash_identical_docs_collide(spark):
    from otlp_cardinality_checker_spark.operators.dedup import simhash_near_dups

    rows = [(1, "hello world foo bar"), (2, "hello world foo bar"), (3, "zzz qqq")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = simhash_near_dups(docs).collect()
    assert len(got) == 1
    assert got[0]["doc_ids"] == [1, 2]


def test_simhash_golden_fingerprint(spark, docs):
    """Pins the round-5 single-pass rewrite to the pre-rewrite output:
    sum(hash(doc_id, simhash)) over sf0.001 documents."""
    from otlp_cardinality_checker_spark.operators.dedup import simhash_signatures

    row = (
        simhash_signatures(docs)
        .agg(F.sum(F.hash("doc_id", "simhash")).alias("h"), F.count("*").alias("n"))
        .collect()[0]
    )
    assert (row["h"], row["n"]) == (3256769042, 500)


def _simhash_of(hashes):
    """Scalar SimHash over one doc's token hashes: bit b is set when more
    tokens have it set than not; bit 63 is the int64 sign bit."""
    sig = 0
    for b in range(64):
        if sum(1 if (h >> b) & 1 else -1 for h in hashes or ()) > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def test_simhash_engines_agree_on_adversarial_inputs(spark):
    """The Catalyst vote fold equals a Python vote count over the same
    JVM-side token hashes."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        _simhash_token_hashes,
        simhash_signatures,
    )

    rows = [
        (1, ""),  # zero tokens -> zero signature
        (2, None),  # NULL text -> zero signature
        (3, "   \t  \n "),  # whitespace only
        (4, "solo"),  # single token: signature == its hash
        (5, "a b c d e f g h i j k l m n o p"),
        (6, "élève 世界 emoji\U0001f600 mix"),
        (7, "repeat repeat repeat REPEAT Repeat"),  # distinct-after-lower
        (8, "x " * 5000),  # long degenerate doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, simhash_signatures(docs).collect()))
    b = sorted(
        (r["doc_id"], _simhash_of(r["h"]))
        for r in docs.select(
            "doc_id", _simhash_token_hashes("text").alias("h")
        ).collect()
    )
    assert a == b
    by_id = dict(a)
    assert by_id[1] == by_id[2] == by_id[3] == 0


def test_simhash_hamming_pairs_complete_vs_brute_force(spark):
    """Block-partitioned Hamming search == brute-force all-pairs scan
    (pigeonhole completeness + XOR/popcount verify), at several d."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        simhash_hamming_pairs,
        simhash_signatures,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = {
        r["doc_id"]: r["simhash"] & ((1 << 64) - 1)
        for r in simhash_signatures(docs).collect()
    }
    ids = sorted(sigs)
    for d in (1, 3):
        got = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_hamming_pairs(docs, d).collect()
        }
        brute = {
            (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(sigs[a] ^ sigs[b]).count("1") <= d
        }
        assert got == brute, d


def test_simhash_hamming_block_cap_semantics(spark):
    """max_block_df=0 drops every block (no candidates at all);
    max_block_df=None equals the generous default on this corpus."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert simhash_hamming_pairs(docs, 3, max_block_df=0).count() == 0
    a = sorted(
        tuple(r)
        for r in simhash_hamming_pairs(docs, 3, max_block_df=None).collect()
    )
    b = sorted(
        tuple(r) for r in simhash_hamming_pairs(docs, 3).collect()
    )
    assert a == b and a


def test_capped_default_bounds_hot_shingle_fanout(spark):
    """exact_jaccard's DEFAULT is now capped (DEFAULT_MAX_DF): with a cap
    of d, a surviving shingle's document frequency is <= d, so any single
    shingle generates at most d*(d-1)/2 pairs — and a hot shingle above
    the cap generates NONE. A corpus where every doc shares one hot
    shingle would be O(n^2) uncapped; capped, only the genuinely-similar
    pairs remain."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        DEFAULT_MAX_DF,
        exact_jaccard,
        word_shingles,
    )

    # 20 docs all containing the hot trigram "the end of"; docs 0/1 also
    # share a rare trigram pair-signal
    rows = [(i, f"unique{i} token{i} the end of") for i in range(2, 20)]
    rows += [
        (0, "rare signal trigram the end of"),
        (1, "rare signal trigram the end of"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs, n=3)

    max_df = 5
    pairs = exact_jaccard(sh, max_df=max_df).collect()
    # hot shingle (df=20 > 5) dropped: the 18 unique-only docs pair with
    # nobody; only the rare-trigram pair survives
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(0, 1)}
    # volume bound: every surviving shingle has df <= max_df, so total
    # pairs <= n_surviving_shingles * max_df^2 / 2 — and concretely here,
    # far below the uncapped 20*19/2 = 190 pair blow-up
    assert len(pairs) <= max_df * (max_df - 1) // 2

    # the uncapped truly-exact form is an EXPLICIT opt-in
    uncapped = exact_jaccard(sh, max_df=None).collect()
    assert len(uncapped) == 20 * 19 // 2  # every pair shares the hot gram

    # default cap is finite and far above tiny-corpus dfs: default == the
    # uncapped result at this scale, but bounded by construction at web
    # scale
    assert DEFAULT_MAX_DF is not None
    default_pairs = exact_jaccard(sh).collect()
    assert len(default_pairs) == len(uncapped)


def test_minhash_positions_are_independent_functions(spark):
    """Regression: PySpark passes (element, index) to a two-parameter
    transform() lambda, and a `lambda h, i=i:` closure counts as two
    parameters — the array position silently overwrote the hash-function
    index, making every signature position the SAME function (all bands
    identical; LSH candidates tracked positional boilerplate overlap, not
    Jaccard). Each doc's signature must use n_hashes independent
    orderings, and two low-Jaccard docs sharing a common PREFIX (the
    boilerplate-at-equal-positions adversary) must not collide on most
    positions."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    prefix = "terms of service apply to all content"
    rows = [
        (1, prefix + " aardvark banana cherry dates elder fig grape"),
        (2, prefix + " xylophone yurt zeppelin quartz violin umbrella oboe"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(word_shingles(docs, n=3)).collect()
    }
    # a signature built from independent hash functions has many distinct
    # values; the buggy form had ONE value repeated n_hashes times
    assert len(set(sigs[1])) > len(sigs[1]) // 2
    assert len(set(sigs[2])) > len(sigs[2]) // 2
    # true Jaccard here is ~0.25 (shared prefix only): most positions must
    # disagree — the buggy form agreed on ALL of them
    agree = sum(1 for a, b in zip(sigs[1], sigs[2]) if a == b)
    assert agree < len(sigs[1]) // 2


def test_incremental_dedup_composes_with_store(spark, tmp_path):
    """Running dedup incrementally (store from slice A, classify slice B)
    must agree with batch dedup over A+B: every incoming doc classified
    kept is exactly a batch-dedup survivor not already covered by A, and
    the store written to parquet round-trips bit-identically."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        exact_dedup_stats,
        fingerprint_store,
        incremental_dedup,
    )

    rows = [
        (0, "en", "alpha beta"),
        (1, "en", "alpha   BETA "),     # canonical dup of 0 (store slice)
        (5, "en", "gamma delta"),
        (10, "en", "alpha beta"),        # incoming, dup vs store
        (11, "de", "epsilon zeta"),      # incoming, new
        (12, "de", "epsilon  ZETA"),     # incoming, canonical dup of 11
        (13, "en", "eta theta"),         # incoming, new
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    seen = docs.where(F.col("doc_id") < 10)
    incoming = docs.where(F.col("doc_id") >= 10)

    # store roundtrip through parquet (the persisted state between runs)
    store_path = str(tmp_path / "fp_store")
    fingerprint_store(seen).write.parquet(store_path)
    store = spark.read.parquet(store_path)

    got = {
        (r["lang"], r["status"]): r["n_docs"]
        for r in incremental_dedup(incoming, store).collect()
    }
    assert got == {
        ("en", "dup_store"): 1,   # doc 10
        ("de", "kept"): 1,        # doc 11
        ("de", "dup_batch"): 1,   # doc 12
        ("en", "kept"): 1,        # doc 13
    }

    # composition: kept-count == batch survivors of A+B minus survivors of A
    n_all = exact_dedup_stats(
        docs.select("doc_id", F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("text"))
    ).count()
    n_seen = exact_dedup_stats(
        seen.select("doc_id", F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")).alias("text"))
    ).count()
    n_kept = sum(v for (lang, st), v in got.items() if st == "kept")
    assert n_kept == n_all - n_seen


def test_duplicated_spans_crafted(spark):
    """ExactSubstr semantics: cross-doc recurrence, intra-doc recurrence,
    overlap merge (no double counting), and short-doc zero rows."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        duplicated_spans,
    )

    rows = [
        (1, "u1 u2 u3 u4 u5 u6 u7 u8"),  # unique -> no spans
        (2, "a b c d e x0 y0 z0"),       # shares 'a b c d e' with doc 3
        (3, "q r a b c d e w"),
        (4, "p p p p p p p"),            # intra-doc: every 5-gram equal
        (5, "m n o p q r s t u"),        # two OVERLAPPING shared 5-grams
        (6, "x9 m n o p q r y9 z9 w9"),  #   with doc 5 -> ONE merged span
        (7, "tiny doc"),                 # < k tokens -> no grams at all
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in duplicated_spans(docs, k=5).collect()
    }
    assert got[1]["n_dup_spans"] == 0 and got[1]["dup_tokens"] == 0
    # cross-doc: exactly the 5 shared tokens are covered on both sides
    assert got[2]["n_dup_spans"] == 1 and got[2]["dup_tokens"] == 5
    assert got[3]["dup_tokens"] == 5 and got[3]["longest_dup_span"] == 5
    # intra-doc: 3 identical 5-gram positions merge to one 7-token span
    assert got[4]["n_dup_spans"] == 1
    assert got[4]["dup_tokens"] == 7 and got[4]["dup_frac"] == 1.0
    # overlapping windows merge without double counting: doc 5 dup starts
    # {0, 1} cover tokens 0..5 = 6 tokens (NOT 10), doc 6 starts {1, 2}
    assert got[5]["n_dup_spans"] == 1 and got[5]["dup_tokens"] == 6
    assert got[6]["n_dup_spans"] == 1 and got[6]["dup_tokens"] == 6
    assert got[7]["n_tokens"] == 2 and got[7]["n_dup_spans"] == 0


def test_duplicated_spans_invariants(spark, docs):
    from otlp_cardinality_checker_spark.operators.dedup import (
        duplicated_spans,
    )

    got = duplicated_spans(docs).cache()
    try:
        assert got.count() == docs.count()  # one row per doc, always
        bad = got.where(
            (F.col("dup_tokens") > F.col("n_tokens"))
            | (F.col("longest_dup_span") > F.col("dup_tokens"))
            | ((F.col("n_dup_spans") > 0) & (F.col("dup_tokens") < 5))
            | (F.col("dup_frac") > 1.0)
        )
        assert bad.count() == 0
        # the sf0.001 corpus has exact-duplicate docs -> spans must exist
        assert got.where(F.col("dup_tokens") > 0).count() > 0
    finally:
        got.unpersist()


def test_ngram_novelty_crafted(spark):
    """0.0 for fully-seen docs, 1.0 for unseen, stitching scores low."""
    from otlp_cardinality_checker_spark.operators.dedup import ngram_novelty

    rows = [
        (1, "the cat sat on the mat", "train"),
        (2, "dogs run fast in the park", "train"),
        # test doc = copy of train doc 1 -> novelty 0
        (3, "the cat sat on the mat", "test"),
        # test doc with entirely new vocabulary -> novelty 1
        (4, "z1 z2 z3 z4 z5 z6", "test"),
        # stitched from BOTH train docs: only the seam grams are novel
        (5, "the cat sat on the mat dogs run fast in the park", "test"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["doc_id"]: r
        for r in ngram_novelty(
            docs, F.col("source") == "test", n=3
        ).collect()
    }
    assert set(got) == {3, 4, 5}
    assert got[3]["novelty_rate"] == 0.0
    assert got[4]["novelty_rate"] == 1.0
    # doc 5: 10 distinct 3-grams, only the 2 seam grams unseen
    assert got[5]["n_shingles"] == 10 and got[5]["n_novel"] == 2
    assert 0 < got[5]["novelty_rate"] < 0.5


def test_dup_source_matrix_canon_and_pairs(spark):
    """Canonical fingerprints (case/whitespace-collapsed) count once per
    source pair regardless of copy multiplicity; unordered pairs emit
    once with source_a < source_b; no-overlap pairs are absent."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        dup_source_matrix,
    )

    rows = [
        (0, "Hello   World", "s1"),
        (1, "hello world", "s2"),     # canon-dup of 0 across s1/s2
        (2, "hello world", "s2"),     # extra copy must NOT double count
        (3, "shared thing", "s1"),
        (4, "SHARED  THING", "s3"),   # s1/s3
        (5, "only here", "s3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): r["n_shared"]
        for r in dup_source_matrix(docs).collect()
    }
    assert got == {("s1", "s2"): 1, ("s1", "s3"): 1}


def test_norm_dedup_gain_hand_case(spark):
    from otlp_cardinality_checker_spark.operators.dedup import norm_dedup_gain

    rows = [
        (0, "a", "Request 123 done"),
        (1, "a", "request 456   done"),   # same after norm, distinct raw
        (2, "a", "request # done"),       # digit-mask collides with 0/1
        (3, "a", "totally different"),
        (4, "b", "x"), (5, "b", "x"),     # raw dup: norm adds nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in norm_dedup_gain(df).collect()}
    a = got["a"]
    assert a["n_rows"] == 4 and a["n_raw_distinct"] == 4
    assert a["n_norm_distinct"] == 2
    assert a["reveal_gain"] == 0.5
    b = got["b"]
    assert b["n_raw_distinct"] == 1 and b["n_norm_distinct"] == 1
    assert b["reveal_gain"] == 0.0 and b["raw_dup_share"] == 0.5


def test_containment_catches_subset_that_jaccard_misses(spark):
    """A short doc fully embedded in a long doc: containment 1.0 but
    Jaccard far below any dedup threshold — the pair must appear in
    containment_pairs and NOT in exact_jaccard at matching bars."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        containment_pairs,
        exact_jaccard,
        word_shingles,
    )

    snippet = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i}" for i in range(60))
    rows = [
        (0, snippet),                      # the excerpt
        (1, f"{filler} {snippet}"),        # page embedding the excerpt
        (2, "totally unrelated words here only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs)

    cont = containment_pairs(sh, min_containment=0.9, max_df=None).collect()
    assert len(cont) == 1
    p = cont[0]
    assert (p["doc_a"], p["doc_b"]) == (0, 1)
    assert p["containment"] == 1.0
    assert p["jaccard"] < 0.1                     # Jaccard can't see it

    jac = exact_jaccard(sh, min_jaccard=0.5, max_df=None).collect()
    assert all((r["doc_a"], r["doc_b"]) != (0, 1) for r in jac)


def test_containment_respects_max_df_cap(spark):
    """With a df cap, stop-grams drop out of BOTH the intersection and
    the sizes — a pair whose overlap is all stop-grams disappears."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    common = "the quick brown fox jumps"
    rows = [(i, f"{common} tail{i} end{i} x{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_shingles(docs)
    capped = containment_pairs(sh, min_containment=0.5, max_df=3).collect()
    # every shared shingle has df=6 > 3 -> all dropped -> no pairs
    assert capped == []


def test_prefix_dups_shared_opener(spark):
    from otlp_cardinality_checker_spark.operators.dedup import prefix_dups

    opener = "you are a helpful assistant that answers questions about"
    rows = [(i, "sft", f"{opener} topic{i}") for i in range(5)]
    rows += [(9, "sft", "completely different opener here")]
    rows += [(10, "web", "every web doc starts differently " + "x" * 5)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in prefix_dups(df, k=8).collect()}
    s = got["sft"]
    # first 8 tokens of the opener are identical across the 5 docs
    assert s["n_rows"] == 6 and s["n_prefixes"] == 2
    assert s["max_prefix_count"] == 5
    assert abs(s["prefix_dup_share"] - round(1 - 2 / 6, 6)) <= 1e-6
    assert got["web"]["prefix_dup_share"] == 0.0


def test_jaccard_curve_cumulative_and_exact(spark):
    """Three docs: an identical pair (jaccard 1.0) and a partial pair —
    the curve must be cumulative, integer-exact at every tenth, and
    report empty tenths as explicit zeros."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        jaccard_threshold_curve,
        word_shingles,
    )

    a = "alpha beta gamma delta epsilon zeta"
    rows = [(0, a), (1, a), (2, "alpha beta gamma other words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["threshold"]: r for r in
           jaccard_threshold_curve(word_shingles(docs), max_df=None).collect()}
    assert len(got) == 9
    assert all(r["candidate_pairs"] == 3 for r in got.values())
    # identical pair survives every tenth; counts are non-increasing
    counts = [got[t / 10]["n_pairs"] for t in range(1, 10)]
    assert counts[0] >= counts[-1] >= 1
    assert all(x >= y for x, y in zip(counts, counts[1:]))
    assert got[0.9]["n_pairs"] == 1          # only the identical pair
    # shares are n_pairs / candidate_pairs
    assert got[0.9]["share"] == round(1 / 3, 6)


def test_dup_evidence_shows_shared_shingles(spark):
    from otlp_cardinality_checker_spark.operators.dedup import dup_evidence

    a = "alpha beta gamma delta epsilon zeta"
    rows = [(0, a), (1, a + " eta"), (2, "unrelated words entirely here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = dup_evidence(docs, min_jaccard=0.5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    parts = r["shared_examples"].split(" | ")
    assert len(parts) == 3 and parts == sorted(parts)
    assert all(p in a + " eta" for p in parts)


def test_winnow_guarantee_and_compression(spark):
    """Winnowing's coverage guarantee: two docs sharing a run of
    >= window+n-1 tokens MUST share a fingerprint; and the fingerprint
    set is materially smaller than the full positional shingle set."""
    from otlp_cardinality_checker_spark.operators.dedup import (
        winnow_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta"   # 6 tokens = window+n-1
    rows = [
        (0, f"x1 x2 x3 {shared} y1 y2"),
        (1, f"z9 z8 {shared} w4 w5 w6 w7"),
        (2, "totally different content with no overlap at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           winnow_fingerprints(docs, n=3, window=4).collect()}
    f0 = set(got[0]["fingerprints"])
    f1 = set(got[1]["fingerprints"])
    f2 = set(got[2]["fingerprints"])
    assert f0 & f1, "shared 6-token run must produce a shared fingerprint"
    assert not (f0 & f2) and not (f1 & f2)
    for r in got.values():
        assert r["n_fingerprints"] <= r["n_positions"]
    # ~1/window storage on a longer doc
    long = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(200)))], "doc_id long, text string"
    )
    lr = winnow_fingerprints(long, n=3, window=4).collect()[0]
    assert lr["n_fingerprints"] < lr["n_positions"] / 2


def test_winnow_short_docs(spark):
    """r6 (advisor): docs with fewer than n tokens — including empty and
    whitespace-only text — must fingerprint instead of raising
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode; docs with >= n
    tokens are byte-identical to the unguarded form (oracle fixtures all
    have >= n tokens, so gate hashes are untouched)."""
    import pandas as pd

    from otlp_cardinality_checker_spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["empty", "blank", "one", "two", "full"],
                "text": ["", "   ", "alpha", "alpha beta",
                         "alpha beta gamma delta epsilon zeta"],
            }
        )
    )
    rows = {r["doc_id"]: r for r in
            winnow_fingerprints(docs, n=3, window=4).collect()}
    assert set(rows) == {"empty", "blank", "one", "two", "full"}
    for r in rows.values():
        assert r["n_positions"] >= 1
        assert r["n_fingerprints"] >= 1
    # short docs hash their single partial gram
    assert rows["one"]["n_positions"] == 1
    assert rows["two"]["n_positions"] == 1
    # a full-length doc's fingerprints equal the pre-guard algorithm's
    # (positional 3-grams, window-4 minima) — recompute independently
    import hashlib

    toks = "alpha beta gamma delta epsilon zeta".split()
    grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    wins = sorted({min(hs[p:p + 4]) for p in range(max(len(hs) - 3, 1))})
    assert list(rows["full"]["fingerprints"]) == wins
