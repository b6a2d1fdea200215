"""Text-analysis operator tests (documents table + crafted rows)."""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_language_id_markers(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import language_id

    rows = [
        (1, "xx", "the cat and the dog of the house went to the market"),
        (2, "xx", "der hund und die katze und nicht der vogel"),
        (3, "xx", "zzz qqq www"),
        (4, "xx", "le chat est sur les toits des maisons"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in language_id(docs).collect()}
    assert got[1]["lang_detected"] == "en"
    assert got[2]["lang_detected"] == "de"
    assert got[3]["lang_detected"] == "und"
    assert got[3]["marker_score"] == 0
    assert got[4]["lang_detected"] == "fr"


def test_quality_scores_ranges(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import quality_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = quality_scores(docs).toPandas()
    assert (got["n_tokens"] >= 1).all()
    for col in ("alpha_ratio", "digit_ratio", "punct_ratio"):
        assert got[col].between(0, 1).all()


def test_fingerprint_whitespace_canonicalization(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import fingerprints

    rows = [(1, "Hello   World"), (2, "hello world"), (3, "other text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_char_entropy_engines_agree_on_corpus(spark, char_entropy_ref):
    """The Catalyst expression tree must agree with the scalar a-z
    reference on every document of the sf0.01 corpus after round(…, 4)."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        char_entropy,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sql_rows = {
        r.doc_id: (r.lang, r.n_letters, r.entropy)
        for r in char_entropy(docs).collect()
    }
    ref_rows = {
        r.doc_id: (r.lang, *char_entropy_ref(r.text))
        for r in docs.select("doc_id", "lang", "text").collect()
    }
    assert sql_rows == ref_rows and len(sql_rows) > 0


def test_char_entropy_engines_agree_on_adversarial_inputs(
    spark, char_entropy_ref
):
    """NULL text, empty text, non-ASCII, uppercase, and single-letter spam
    must produce the scalar reference's rows."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        char_entropy,
    )

    rows = [
        (1, None, "en"),
        (2, "", "en"),
        (3, "aaaaAAAA", "en"),
        (4, "Ünïcödé piñata — ça va? 数字123", "fr"),
        (5, "The quick brown fox jumps over the lazy dog", "en"),
        (6, "zzzzzzzzzzzzzzzzzzzzzz", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = sorted(map(tuple, char_entropy(docs).collect()))
    b = sorted((i, lang, *char_entropy_ref(text)) for i, text, lang in rows)
    assert a == b
    by_id = {t[0]: t for t in a}
    assert by_id[3][3] == 0.0  # lower() folds 4x'a'+4x'A' to one symbol
    assert by_id[6][3] == 0.0  # single-letter spam: zero entropy
    assert by_id[5][3] > 2.0  # pangram: near the latin letter ceiling


def test_intra_doc_repetition_hand_computed(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        intra_doc_repetition,
    )

    rows = [
        (1, "solo"),            # < 2 words: NULL gram, zero fractions
        (2, "a a a a"),         # "a a" x3 (overlapping runs of one gram)
        (3, "x y x y x"),       # "x y" x2, "y x" x2 -> tie, "y x" wins
        (4, ""),                # split('') == [''] in both engines
        (5, "cat dog cat dog"), # "cat dog" x2, others x1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in intra_doc_repetition(docs).collect()
    }
    assert got[1]["top_gram"] is None
    assert got[1]["top_gram_count"] == 0
    assert got[1]["dup_gram_frac"] == 0.0
    assert got[2]["top_gram"] == "a a"
    assert got[2]["top_gram_count"] == 3
    # 3 occurrences x 3 chars / 7 chars -> overlapping mass can exceed 1
    assert got[2]["top_gram_char_frac"] == round(9 / 7, 4)
    assert got[3]["top_gram"] == "y x"  # tie on count=2 -> larger gram
    assert got[3]["dup_gram_frac"] == round((2 * 3 + 2 * 3) / 9, 4)
    assert got[4]["top_gram"] is None
    assert got[5]["top_gram"] == "cat dog"
    assert got[5]["top_gram_count"] == 2
    assert got[5]["distinct_frac"] == 0.5


def test_intra_doc_repetition_plan_has_no_exchange(spark):
    """The operator is row-local by construction: ONE scan, projections
    only — any Exchange in this plan is a scale regression."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        intra_doc_repetition,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = intra_doc_repetition(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_dataset_card_consistent_with_component_operators(spark):
    """Every card number equals the dedicated operator's answer: pass_rate
    == filter_funnel's kept share, exact_dup_rate == 1 - digest ratio,
    lang shares sum to 1, schema is the stable long form."""
    from otlp_cardinality_checker_spark.operators.card import dataset_card
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        filter_funnel,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    card = {
        (r["section"], r["metric"]): r["value"]
        for r in dataset_card(docs).collect()
    }
    assert dataset_card(docs).columns == ["section", "metric", "value"]

    kept = {
        r["stage"]: r["share"] for r in filter_funnel(docs).collect()
    }.get("4_kept", 0.0)
    assert abs(card[("quality", "pass_rate")] - kept) < 1e-3  # share rounds 4

    n = docs.count()
    digests = docs.select(F.md5("text")).distinct().count()
    assert abs(card[("dedup", "exact_dup_rate")] - (1 - digests / n)) < 1e-6

    langs = [v for (s, _), v in card.items() if s == "lang"]
    assert abs(sum(langs) - 1.0) < 1e-4
    assert card[("volume", "n_docs")] == n
    assert (
        card[("length", "p50")]
        <= card[("length", "p90")]
        <= card[("length", "p99")]
    )


def test_quality_classifier_separates_prose_from_boilerplate(spark):
    """Alphabetic prose must pass; digit/punct-heavy boilerplate must
    fail; monotone in the documented weight directions."""
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        quality_classifier,
    )

    prose = "a fine piece of well formed english prose about engines " * 3
    boiler = "id: 8f3a9, code=500; retry... 12,345.67; ts: 1699999999 !!!"
    rows = [
        (1, "en", "good", prose),
        (2, "en", "bad", boiler),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    got = {r["source"]: r for r in quality_classifier(docs).collect()}
    assert got["good"]["n_pass"] == 1 and got["good"]["pass_rate"] == 1.0
    assert got["bad"]["n_pass"] == 0 and got["bad"]["pass_rate"] == 0.0
    assert got["good"]["avg_score"] > 0.5 > got["bad"]["avg_score"]


def test_compression_stats_direct_zlib_parity(spark):
    """Closed-form extremes + bit-exact parity with a direct zlib pass."""
    import zlib

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        compression_stats,
    )

    rows = [
        (1, "a" * 10_000),                                   # degenerate
        (2, " ".join(f"w{i}x{i * 7 % 97}" for i in range(500))),  # varied
        (3, ""),                                             # empty
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in compression_stats(docs).collect()}
    for doc_id, text in rows:
        data = text.encode("utf-8")
        r = got[doc_id]
        assert r["raw_bytes"] == len(data)
        assert r["compressed_bytes"] == len(zlib.compress(data, 6))
        want = round(len(zlib.compress(data, 6)) / len(data), 4) if data else 0.0
        assert r["compression_ratio"] == want
    assert got[1]["compression_ratio"] < 0.01   # pure repetition deflates
    assert got[2]["compression_ratio"] > 0.3    # varied text does not


def test_compression_stats_corpus(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        compression_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = compression_stats(docs)
    assert got.count() == docs.count()
    assert (
        got.where(
            (F.col("compression_ratio") <= 0)
            | (F.col("compression_ratio") > 1.5)
        ).count()
        == 0
    )


def test_vocab_stats_hapax_and_ttr(spark):
    """Token/type/hapax accounting per group: hapax = exactly-once
    WITHIN the group; TTR exact; empty text contributes nothing."""
    rows = [
        (0, "a a b", "s1"),      # s1 tokens: a x3, b x1, c x1
        (1, "a c", "s1"),
        (2, "x y", "s2"),        # all hapax
        (3, "", "s2"),
        (4, None, "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        vocab_stats,
    )

    got = {r["source"]: r for r in vocab_stats(docs).collect()}
    s1 = got["s1"]
    assert (s1["n_tokens"], s1["n_types"], s1["n_hapax"]) == (5, 3, 2)
    assert abs(s1["type_token_ratio"] - 0.6) < 1e-9
    assert abs(s1["hapax_share"] - round(2 / 3, 6)) < 1e-9
    s2 = got["s2"]
    assert (s2["n_tokens"], s2["n_types"], s2["n_hapax"]) == (2, 2, 2)
    assert s2["hapax_share"] == 1.0


def test_readability_counts_and_grade(spark):
    """Word/sentence/vowel-group counts are exact on crafted text and
    the FK grade matches the closed form; zero-sentence groups guard."""
    rows = [
        (0, "the cat sat. the dog ran!", "s1"),  # 6 words, 2 sent
        (1, "no sentence marker here", "s2"),    # 4 words, 0 sent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        readability_stats,
    )

    got = {r["source"]: r for r in readability_stats(docs).collect()}
    s1 = got["s1"]
    # vowel groups: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6
    assert (s1["n_words"], s1["n_sentences"], s1["n_syllables"]) == (6, 2, 6)
    want = round(0.39 * (6 / 2) + 11.8 * (6 / 6) - 15.59, 4)
    assert abs(s1["fk_grade"] - want) < 1e-9
    s2 = got["s2"]
    assert s2["n_sentences"] == 0
    # guard: sentences -> greatest(1)
    # vowel groups: no(1) sentence(3: e,e,e) marker(2: a,e) here(2: e,e) = 8
    assert s2["n_syllables"] == 8
    want2 = round(0.39 * (4 / 1) + 11.8 * (8 / 4) - 15.59, 4)
    assert abs(s2["fk_grade"] - want2) < 1e-9


def test_zipf_fit_exact_synthetic_powerlaw(spark):
    """Counts c_r = 1024 >> (r-1) for ranks 1..8 give a closed-form
    slope of -ln(2)/d(ln r) regression — compute it independently in
    Python and require 6dp agreement; a uniform source fits NULL."""
    import math

    from otlp_cardinality_checker_spark.operators.text_analysis import zipf_fit

    rows = []
    # power source: token t{r} appears 2**(10-r) times
    for r in range(1, 9):
        rows += [("pow", f"t{r:02d} " * (1 << (10 - r)))]
    # uniform source: 5 tokens, 7 occurrences each -> vy degenerate
    for t in "abcde":
        rows += [("uni", f"{t} " * 7)]
    docs = spark.createDataFrame(
        [(i, s, txt) for i, (s, txt) in enumerate(rows)],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r for r in zipf_fit(docs, top_n=128).collect()}

    xs = [math.log(r) for r in range(1, 9)]
    ys = [math.log(1 << (10 - r)) for r in range(1, 9)]
    n = 8.0
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    p = got["pow"]
    assert p["n_top"] == 8 and p["top_mass"] == sum(1 << (10 - r) for r in range(1, 9))
    assert abs(p["zipf_slope"] - round(slope, 6)) <= 1e-6
    assert abs(p["r2"] - round(r2, 6)) <= 1e-6
    assert p["zipf_slope"] < 0

    u = got["uni"]
    assert u["n_top"] == 5 and u["top_mass"] == 35
    # flat head: slope is a meaningful 0; r2 is undefined (zero y-variance)
    assert u["zipf_slope"] == 0.0 and u["r2"] is None


def test_zipf_fit_top_n_cap_and_tiebreak(spark):
    """top_n caps the head; count ties rank by token ASC so the cap cut
    is deterministic."""
    from otlp_cardinality_checker_spark.operators.text_analysis import zipf_fit

    docs = spark.createDataFrame(
        [(0, "s", "b b b a a c")],
        "doc_id long, source string, text string",
    )
    row = zipf_fit(docs, top_n=2).collect()[0]
    # head = b(3), a(2); c cut by the cap
    assert row["n_top"] == 2 and row["top_mass"] == 5


def test_code_detect_separates_structured_from_prose(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import code_detect

    rows = [
        (0, "code", "def f(x): return {x: [1, 2]};"),
        (1, "code", "name=tool_0 args_len=3 retries=4 status=ok"),
        (2, "prose", "the quick brown fox jumps over the lazy dog"),
        (3, "prose", "plain sentence with no structure at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in code_detect(docs).collect()}
    assert got["code"]["n_code"] == 2 and got["code"]["code_share"] == 1.0
    assert got["prose"]["n_code"] == 0 and got["prose"]["code_share"] == 0.0
    assert got["code"]["avg_score"] > got["prose"]["avg_score"]


def test_code_detect_empty_text_guard(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import code_detect

    docs = spark.createDataFrame(
        [(0, "s", ""), (1, "s", None)],
        "doc_id long, source string, text string",
    )
    row = code_detect(docs).collect()[0]
    assert row["n_rows"] == 2 and row["n_code"] == 0 and row["avg_score"] == 0.0


def test_pmi_bigrams_collocation_beats_frequency(spark):
    """'san francisco' (always together, rare) must out-PMI 'the the'
    style frequent-but-independent pairs; the min_count floor drops
    count-1 noise; hand-compute the top pair's PMI from the marginals."""
    import math

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        pmi_bigrams,
    )

    # 6 x "san francisco" embedded in independent filler pairs
    filler = "the cat the dog the cat the dog the cat"
    rows = [(i, "s", f"san francisco {filler}") for i in range(6)]
    rows += [(9, "s", "rare pair once")]  # count-1 bigrams -> floored out
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = pmi_bigrams(docs, k=5, min_count=5).collect()
    by_rank = {r["rank"]: r for r in got}
    top = by_rank[1]
    assert (top["w1"], top["w2"]) == ("san", "francisco")
    assert top["n_pair"] == 6
    # marginals from the bigram table: c(san,*)=6, c(*,francisco)=6
    nb = sum(r["n_pair"] for r in got)  # not the total; recompute below
    # total bigrams: 6 docs x (2 + 9) bigrams + 2 from the rare doc
    n_total = 6 * 11 + 2
    want = math.log(6 * n_total / (6 * 6))
    assert abs(top["pmi"] - round(want, 6)) <= 1e-6
    assert all("rare" not in (r["w1"], r["w2"]) for r in got)


def test_pmi_bigrams_rank_is_deterministic_on_ties(spark):
    from otlp_cardinality_checker_spark.operators.text_analysis import (
        pmi_bigrams,
    )

    # two bigrams with identical counts/marginals -> identical pmi;
    # rank must break by (w1, w2) ascending
    rows = [(i, "s", "aa bb cc dd") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(pmi_bigrams(docs, k=10, min_count=5).collect(),
                 key=lambda r: r["rank"])
    pairs = [(r["w1"], r["w2"]) for r in got]
    assert pairs == sorted(pairs)  # equal pmi -> lexicographic order


def test_ks_drift_matches_numpy_two_sample(spark):
    """Planted shift: source 'b' docs are systematically longer; the KS
    stat for each group vs rest must equal the numpy ECDF sup-difference
    computed directly; a single-source corpus reports NULL."""
    import numpy as np

    from otlp_cardinality_checker_spark.operators.text_analysis import (
        ks_drift,
    )

    a_lens = [3, 4, 4, 5, 5, 5, 6]
    b_lens = [8, 9, 9, 10]
    rows = [(i, "a", "w " * n) for i, n in enumerate(a_lens)]
    rows += [(100 + i, "b", "w " * n) for i, n in enumerate(b_lens)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r for r in ks_drift(docs).collect()}

    def ks(x, y):
        pts = sorted(set(x) | set(y))
        x, y = np.array(x), np.array(y)
        devs = [abs((x <= p).mean() - (y <= p).mean()) for p in pts]
        best = max(devs)
        at = pts[devs.index(best)]
        return best, at

    d_a, at_a = ks(a_lens, b_lens)
    assert abs(got["a"]["ks_stat"] - round(d_a, 6)) <= 1e-6
    assert got["a"]["ks_at"] == at_a
    # disjoint supports -> full separation for the planted shift
    assert got["a"]["ks_stat"] == 1.0 and got["b"]["ks_stat"] == 1.0

    solo = spark.createDataFrame(
        [(0, "only", "w w w")], "doc_id long, source string, text string"
    )
    r = ks_drift(solo).collect()[0]
    assert r["ks_stat"] is None


def test_lang_confusion_diagonal_dominates(spark):
    """The fixture's docs carry their true lang; the detector's
    confusion matrix must be diagonal-heavy and shares must sum to 1
    per true class."""
    import __spark_entry__ as m
    rows = m.queries()["lang_confusion"](spark, "/root/testdata/sf0.001").collect()
    by_true = {}
    for r in rows:
        by_true.setdefault(r["lang"], []).append(r)
    for lang, cells in by_true.items():
        assert abs(sum(c["share_of_true"] for c in cells) - 1.0) <= 1e-4
        diag = [c for c in cells if c["lang_detected"] == lang]
        if diag:  # languages without marker tables detect as 'und'
            top = max(cells, key=lambda c: c["n_docs"])
            assert top["lang_detected"] in (lang, "und")
