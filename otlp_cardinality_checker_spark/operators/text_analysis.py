"""Text analysis for training-data pipelines over the `documents` table.

Large-scale-pipeline additions beyond the reference's operator set (per the
build brief): language ID, quality scoring, token counting, document
fingerprinting. All pure Catalyst expressions — JVM-side, codegen-friendly,
no UDFs — so they hold up at 100 TB (a scan + project + hash-agg only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _token_count(text: F.Column) -> F.Column:
    """Single-space token count: portable across engines (see oracle SQL)."""
    t = F.trim(text)
    return F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1


def _char_class_ratio(text: F.Column, keep_regex: str) -> F.Column:
    kept = F.length(F.regexp_replace(text, keep_regex, ""))
    return F.round(
        kept.cast("double") / F.greatest(F.length(text), F.lit(1)), 4
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Per-document quality features (length/alpha/digit/punct ratios)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars_actual"),
        _token_count(text).alias("n_tokens"),
        _char_class_ratio(text, r"[^A-Za-z]").alias("alpha_ratio"),
        _char_class_ratio(text, r"[^0-9]").alias("digit_ratio"),
        _char_class_ratio(text, r"[^.,;:!?]").alias("punct_ratio"),
    )


# Fixed, versioned weights for the logistic quality classifier below —
# the distilled stand-in for a fasttext/CCNet-style quality model (this
# container ships no model artifacts; what matters at pipeline level is
# the SCORING plumbing: linear features -> sigmoid -> threshold, all
# engine-portable). Weights favor alphabetic prose with a healthy token
# count and penalize digit/punct-heavy boilerplate.
QUALITY_WEIGHTS = {
    "alpha_ratio": 4.0,
    "digit_ratio": -6.0,
    "punct_ratio": -3.0,
    "log_tokens": 0.5,
}
QUALITY_BIAS = -3.0


def quality_classifier(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Model-based quality filter: fixed-weight logistic scorer over the
    Catalyst quality features, aggregated per (lang, source).

    score(doc) = sigmoid(w . [alpha_ratio, digit_ratio, punct_ratio,
    ln(1+n_tokens)] + b) with the versioned QUALITY_WEIGHTS above; a doc
    passes at ``score >= threshold``. Returns per-(lang, source)
    (n_docs, n_pass, pass_rate, avg_score) — the mix-adjustment table a
    curation run feeds back into its sampling rates.

    Scale shape: ONE scan, pure Catalyst expressions (the features reuse
    the engine-portable forms text_quality already hash-pins), one
    map-side-combinable hash-agg on the bounded (lang, source) grain.
    Swapping in a real model = replacing the linear expression with an
    Arrow-batched scorer; everything else stands.
    """
    text = F.col("text")
    feats = {
        "alpha_ratio": _char_class_ratio(text, r"[^A-Za-z]"),
        "digit_ratio": _char_class_ratio(text, r"[^0-9]"),
        "punct_ratio": _char_class_ratio(text, r"[^.,;:!?]"),
        "log_tokens": F.log(1.0 + _token_count(text)),
    }
    logit = sum(
        (F.lit(w) * feats[k] for k, w in QUALITY_WEIGHTS.items()),
        start=F.lit(float(QUALITY_BIAS)),
    )
    score = 1.0 / (1.0 + F.exp(-logit))
    return (
        docs.select("lang", "source", score.alias("_score"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("_score") >= threshold).cast("long")
            ).alias("n_pass"),
            F.round(
                F.sum((F.col("_score") >= threshold).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("pass_rate"),
            F.round(F.avg("_score"), 4).alias("avg_score"),
        )
    )


def token_count_stats(docs: DataFrame) -> DataFrame:
    """Per-language token volume (BPE-ish whitespace proxy)."""
    n = _token_count(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).alias("total_tokens"),
        F.max(n).alias("max_tokens"),
    )


def length_percentiles(docs: DataFrame) -> DataFrame:
    """Per-language token-length distribution (p50/p90/p99 + mean): the
    stats behind a training pipeline's length-filter thresholds. Exact
    interpolated percentiles (`percentile`, not `approx_percentile`) so
    the DuckDB `quantile_cont` oracle matches bit-for-bit; at 100 TB this
    is one hash-agg per language — swap in approx_percentile(…, accuracy)
    if exact sort-based percentiles ever dominate, at the cost of the
    exactness guarantee."""
    n = _token_count(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.percentile(n, F.lit(0.5)), 4).alias("p50_tokens"),
        F.round(F.percentile(n, F.lit(0.9)), 4).alias("p90_tokens"),
        F.round(F.percentile(n, F.lit(0.99)), 4).alias("p99_tokens"),
        F.round(F.avg(n), 4).alias("mean_tokens"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Canonical document fingerprint: md5 of whitespace-collapsed lowercase."""
    canon = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(canon).alias("fingerprint"))


def tfidf_top_terms(
    docs: DataFrame, k: int = 5, min_len: int = 3
) -> DataFrame:
    """Top-k corpus-characterizing terms per language by TF-IDF.

    tf = term frequency within the language partition; df = number of
    distinct documents (corpus-wide) containing the term; score =
    tf * ln(N/df), rounded to 4 places BEFORE ranking so the tie-break
    (score desc, term asc) is identical across engines.

    Scale shape: explode -> two hash aggregations (tf by (lang, term), df
    by term) -> equi-join on term -> top-k window. The window partitions by
    language over the *aggregated vocabulary* (bounded by dictionary size,
    not corpus size), so there is no unbounded single-reducer sort; the
    corpus-size scalar N joins in as a broadcast of one row.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    # explode_outer + guard: avoids the InferFiltersFromGenerate duplicate
    # evaluation of the split+filter chain (see dedup._capped_inverted_index)
    ex = docs.select(
        "doc_id", "lang", F.explode_outer(toks).alias("term")
    ).where(F.col("term").isNotNull())
    tf = ex.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        ex.select("term", "doc_id")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_total = docs.agg(F.count_distinct("doc_id").alias("n_total"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_total") / F.col("df")), 4
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("lang", "term", "tf", "df", "score", "rank")
    )


# Stopword-profile language ID: count hits of per-language marker words.
# Heuristic stopword approach (no external models in the container). Scores
# are integer matched-char counts so the DuckDB oracle can mirror exactly;
# ties break by the fixed LANG_PRIORITY order.
LANG_MARKERS = {
    "en": (" the ", " and ", " of ", " to "),
    "de": (" der ", " und ", " die ", " nicht "),
    "fr": (" le ", " les ", " des ", " est "),
    "es": (" el ", " los ", " que ", " una "),
}
LANG_PRIORITY = ("en", "de", "es", "fr")


def _matched_chars(text: F.Column, needle: str) -> F.Column:
    return F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))


def _marker_best(text_col: F.Column) -> F.Column:
    """Best per-language marker score (0 = no language detected)."""
    padded = F.concat(F.lit(" "), F.lower(text_col), F.lit(" "))
    return F.greatest(
        *[
            sum((_matched_chars(padded, m) for m in markers), start=F.lit(0))
            for markers in LANG_MARKERS.values()
        ]
    )


def filter_funnel(
    docs: DataFrame,
    min_tokens: int = 16,
    min_alpha: float = 0.81,
) -> DataFrame:
    """Quality-filter funnel: each document attributed to its FIRST failing
    stage (too_short → low_alpha → lang_unknown → kept), with counts and
    corpus share per stage — the drop-accounting report every training-data
    curation pipeline publishes. One scan + one hash-agg; the corpus total
    joins back as a broadcast of one row. NULL text coalesces to '' (one
    token, fails too_short), keeping the funnel's kept count consistent
    with passes_quality on every row."""
    text = F.coalesce(F.col("text"), F.lit(""))
    stage = (
        F.when(_token_count(text) < min_tokens, F.lit("1_too_short"))
        .when(
            _char_class_ratio(text, r"[^A-Za-z]") < min_alpha,
            F.lit("2_low_alpha"),
        )
        .when(_marker_best(text) == 0, F.lit("3_lang_unknown"))
        .otherwise(F.lit("4_kept"))
    )
    counts = docs.groupBy(stage.alias("stage")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "stage",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_total"), 4).alias("share"),
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy over the letter distribution (a-z) —
    the gibberish/repetition detector: natural prose sits near the
    language's letter-entropy (~2.9 nats for English); keyboard mashing,
    repeated padding, and base64 blobs land far from it.

    Entirely scalar Catalyst expressions — 26 `replace`-based letter
    counts per row, then the entropy sum with a zero-count guard; no
    explode, no shuffle, no Python. The counts/total/entropy are STACKED PROJECTIONS (lower →
    counts → total → entropy), so every generated method stays small and
    the whole stage compiles: the r5 single-expression form inlined each
    length/replace count 3x into the entropy sum (~16k generated lines),
    blew the 64KB codegen method limit, and fell back to interpreted eval
    recomputing `lower(text)` 52x per row. CollapseProject cannot undo the
    stack (each level's defining expressions are non-trivial and referenced
    more than once above). The arithmetic — term order, operations,
    operand values — is unchanged, so results are bit-identical and the
    DuckDB oracle's IEEE parity after round(…, 4) is untouched.
    """
    letters = "abcdefghijklmnopqrstuvwxyz"
    lo = F.col("_ce_lower")
    staged = docs.select(
        "doc_id", "lang", F.lower(F.col("text")).alias("_ce_lower")
    ).select(
        "doc_id",
        "lang",
        *[
            (
                F.length(lo) - F.length(F.replace(lo, F.lit(c), F.lit("")))
            ).alias(f"_ce_{c}")
            for c in letters
        ],
    )
    counts = {c: F.col(f"_ce_{c}") for c in letters}
    total = sum(counts.values(), start=F.lit(0))
    staged = staged.select(
        "doc_id", "lang", *counts.values(), total.alias("_ce_total")
    )
    safe_total = F.greatest(F.col("_ce_total"), F.lit(1)).cast("double")
    ent = sum(
        (
            F.when(
                cnt > 0,
                -(cnt / safe_total) * F.log(cnt / safe_total),
            ).otherwise(F.lit(0.0))
            for cnt in counts.values()
        ),
        start=F.lit(0.0),
    )
    return staged.select(
        "doc_id",
        "lang",
        F.col("_ce_total").cast("long").alias("n_letters"),
        F.round(ent, 4).alias("entropy"),
    )


def unigram_cross_entropy(docs: DataFrame, min_len: int = 1) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM — the
    CCNet-style perplexity quality filter, statistical edition (no external
    model): score(doc) = avg over tokens of -ln p(token), with add-one
    smoothing p(t) = (count(t)+1) / (N+V). Natural prose full of common
    words scores LOW; rare-word salad and near-gibberish score HIGH — the
    ranking is what the filter thresholds on.

    Scale shape: the corpus is tokenized and exploded ONCE into a
    (doc, term, count) frame (materialized — the two consumers below are
    separate plan branches and ReuseExchange does not bridge them); the LM
    and its (N, V) scalars derive from that vocab-sized frame, never from
    a second corpus pass, and the scoring join runs over distinct
    doc-terms instead of raw tokens. Nothing is driver-side.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    doc_terms = (
        docs.select("doc_id", "lang", F.explode_outer(toks).alias("term"))
        .where(F.col("term").isNotNull())  # see dedup._capped_inverted_index
        .groupBy("doc_id", "lang", "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    lm = doc_terms.groupBy("term").agg(F.sum("c").alias("tc"))
    scalars = lm.agg(
        F.sum("tc").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        doc_terms.join(lm, "term")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            "lang",
            "c",
            (
                -F.log(
                    (F.col("tc") + 1)
                    / (F.col("n_total") + F.col("v")).cast("double")
                )
            ).alias("nll"),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n_tokens"),
        F.round(
            F.sum(F.col("c") * F.col("nll")) / F.sum("c"), 4
        ).alias("cross_entropy"),
    )


def bigram_cross_entropy(docs: DataFrame, min_len: int = 1) -> DataFrame:
    """Per-document cross-entropy under the corpus's own BIGRAM LM — the
    order-2 upgrade of :func:`unigram_cross_entropy` (CCNet filters with a
    KenLM n-gram model; this is the distributed, self-trained analogue).
    score(doc) = avg over bigrams of -ln p(w2|w1), add-one smoothed:
    p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V) with V = number of distinct
    context tokens (so the denominator is derivable from the LM frame
    without a second corpus pass). Repetitive/templated text scores LOW
    (its bigrams dominate the corpus LM); token-salad scores HIGH even
    when its unigrams are common — the case the unigram filter misses.

    Docs with fewer than 2 tokens have no bigrams and drop out (inner
    semantics, mirrored by the oracle).

    Scale shape: ONE tokenization; bigrams built row-locally by zipping
    the token array against its own shift (the split is materialized as a
    column FIRST — HOF lambdas are interpreted, so the shared
    subexpression must not be re-evaluated per element); exploded ONCE
    into a (doc, w1, w2, count) frame (localCheckpoint — two plan
    branches, ReuseExchange does not bridge them); the LM, context
    counts, and V all derive from that bigram-vocabulary-sized frame;
    scoring is an equi-join on (w1, w2) + one on w1, never a corpus
    re-scan. Nothing driver-side.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    with_t = docs.select("doc_id", "lang", toks.alias("t"))
    n_pairs = F.greatest(F.size("t") - 1, F.lit(0))
    bigs = F.zip_with(
        F.slice("t", 1, n_pairs),
        F.slice(F.col("t"), 2, n_pairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    doc_bigrams = (
        with_t.select(
            "doc_id", "lang", F.explode_outer(bigs).alias("bg")
        )
        .where(F.col("bg").isNotNull())  # see dedup._capped_inverted_index
        .select("doc_id", "lang", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2"))
        .groupBy("doc_id", "lang", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    lm = doc_bigrams.groupBy("w1", "w2").agg(F.sum("c").alias("bc"))
    ctx = lm.groupBy("w1").agg(F.sum("bc").alias("cc"))
    scalars = ctx.agg(F.count(F.lit(1)).alias("v"))
    nll = -F.log(
        (F.col("bc") + 1) / (F.col("cc") + F.col("v")).cast("double")
    )
    return (
        doc_bigrams.join(lm, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(F.sum(F.col("c") * nll) / F.sum("c"), 4).alias(
                "cross_entropy"
            ),
        )
    )


def source_divergence(docs: DataFrame, min_len: int = 1) -> DataFrame:
    """Per-source KL divergence of the token distribution against the
    whole corpus — the mixture-drift audit: a source whose vocabulary
    diverges (boilerplate farm, wrong language, machine spam) shows a high
    KL(q_source || p_corpus) and gets investigated before it poisons the
    training mix. No smoothing needed: every source token exists in the
    corpus distribution by construction.

    Scale shape: explode once, one (source, term) hash-agg, corpus term
    counts derived from it by a second agg (vocabulary-sized input, NOT a
    second corpus scan), per-source totals broadcast-joined, one final
    per-source sum.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    ex = docs.select("source", F.explode_outer(toks).alias("term")).where(
        F.col("term").isNotNull()  # see dedup._capped_inverted_index
    )
    st = ex.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    corpus = st.groupBy("term").agg(F.sum("c").alias("tc"))
    s_tot = st.groupBy("source").agg(F.sum("c").alias("s_total"))
    n_total = corpus.agg(F.sum("tc").alias("n_total"))
    q = F.col("c") / F.col("s_total").cast("double")
    p = F.col("tc") / F.col("n_total").cast("double")
    return (
        st.join(corpus, "term")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(n_total))
        .groupBy("source")
        .agg(
            F.max("s_total").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(q * F.log(q / p)), 4).alias("kl_divergence"),
        )
    )


def passes_quality(
    text: F.Column | None = None,
    min_tokens: int = 16,
    min_alpha: float = 0.81,
) -> F.Column:
    """True iff a document clears every filter_funnel stage (the `kept`
    predicate, reusable as a standalone filter in composed pipelines).
    NULL text coalesces to '' so the predicate is never NULL and agrees
    row-for-row with filter_funnel's stage attribution."""
    if text is None:
        text = F.col("text")
    text = F.coalesce(text, F.lit(""))
    return (
        (_token_count(text) >= min_tokens)
        & (_char_class_ratio(text, r"[^A-Za-z]") >= min_alpha)
        & (_marker_best(text) > 0)
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Best-scoring language per document, 'und' when no marker hits."""
    text = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {
        lang: sum(
            (_matched_chars(text, m) for m in markers), start=F.lit(0)
        )
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    detected = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        detected = F.when(
            (best > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(detected)
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        detected.alias("lang_detected"),
        best.cast("long").alias("marker_score"),
    )


def intra_doc_repetition(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style INTRA-document repetition signals per document: the
    character mass of the most frequent word n-gram and of all duplicated
    n-grams, plus the distinct-word ratio — the standard web-corpus
    filters for boilerplate/keyword-stuffed/looping text that corpus-level
    dedup (dup_ngram_rate) cannot see because they fire within ONE doc.

    Scale shape: everything is row-local — split, array_sort, and a
    run-length fold over higher-order functions, so the whole operator is
    ONE narrow projection with ZERO exchanges (plan-pinned in
    tests/test_text_analysis.py). At 100 TB this is embarrassingly
    parallel: no shuffle, no skew surface, cost linear in document bytes
    (the sort is per-doc, O(words log words)).

    Determinism contract (mirrored exactly by the DuckDB oracle):
    words = literal single-space split of trim(text); n_chars = length of
    the words re-joined with single spaces; top gram tie-break = highest
    count, then lexicographically LARGEST gram; docs with < n words yield
    NULL top_gram and 0 fractions.
    """
    words = F.split(F.trim(F.col("text")), " ")
    d = docs.select("doc_id", words.alias("w"))
    # sequence(0, size-n) on a doc with < n words would be DESCENDING;
    # the `when` guard pins those docs to an empty gram array instead
    d = d.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.length(F.array_join("w", " ")).alias("n_chars"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        F.when(
            F.size("w") >= n,
            F.expr(
                f"""
                array_sort(transform(
                  sequence(0, size(w) - {n}),
                  i -> array_join(slice(w, i + 1, {n}), ' ')
                ))
                """
            ),
        )
        .otherwise(F.expr("cast(array() as array<string>)"))
        .alias("g"),
    )
    # run-length encode the sorted gram array: `runs` holds the 0-based
    # positions where a new gram starts; run j spans runs[j]..(runs[j+1]-1)
    d = d.withColumn(
        "runs",
        # sequence(0, -1) is DESCENDING in Spark, so empty gram arrays
        # need the explicit empty-runs branch
        F.expr(
            """
            if(size(g) = 0, cast(array() as array<int>),
               filter(sequence(0, size(g) - 1),
                      i -> i = 0 OR g[i] != g[i-1]))
            """
        ),
    ).withColumn(
        "tops",
        F.expr(
            """
            if(size(runs) = 0,
               cast(array() as array<struct<cnt: int, gram: string>>),
               transform(
                 sequence(0, size(runs) - 1),
                 j -> named_struct(
                   'cnt',
                   if(j = size(runs) - 1, size(g), runs[j + 1]) - runs[j],
                   'gram', g[runs[j]]
                 )
               ))
            """
        ),
    )
    top = F.array_max("tops")
    dup_mass = F.expr(
        """
        aggregate(
          tops, 0L,
          (acc, s) -> acc + if(s.cnt > 1, s.cnt * length(s.gram), 0L)
        )
        """
    )
    chars = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    return d.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(F.col("n_distinct") / F.col("n_words"), 4).alias(
            "distinct_frac"
        ),
        top["gram"].alias("top_gram"),
        F.coalesce(top["cnt"].cast("long"), F.lit(0)).alias(
            "top_gram_count"
        ),
        F.round(
            F.coalesce(top["cnt"] * F.length(top["gram"]), F.lit(0))
            / chars,
            4,
        ).alias("top_gram_char_frac"),
        F.round(dup_mass / chars, 4).alias("dup_gram_frac"),
    )


def compression_stats(docs: DataFrame) -> DataFrame:
    """Per-doc zlib (level 6) compression ratio — the classic web-corpus
    repetitiveness/quality signal: templated or looping text deflates far
    below natural prose, machine noise sits near 1.0.  Complements the
    token-level Gopher filters in ``intra_doc_repetition`` with a signal
    that sees CHARACTER-level redundancy (whitespace art, base64 blobs,
    copy-pasted markup) that word n-grams miss.

    Output: doc_id, raw_bytes, compressed_bytes, compression_ratio
    (rounded 4 dp; ratio of an EMPTY doc is defined as 0.0 rather than a
    divide-by-zero).

    No cross-engine oracle: DuckDB exposes no deflate — rows-only by
    design; correctness is pinned by a direct-zlib recomputation over the
    same rows plus closed-form extremes in tests/test_text_analysis.py.

    Scale shape: ONE Arrow-batched ``mapInArrow`` projection of
    (doc_id, text) into four fixed-width columns — zero exchanges,
    embarrassingly parallel; ``zlib.compress`` is C under the loop, and
    per-batch Arrow transfer amortizes the Python boundary.
    """
    import pyarrow as pa

    def _kernel(batches):
        import zlib

        for b in batches:
            raw, comp, ratio = [], [], []
            for t in b.column("text").to_pylist():
                data = (t or "").encode("utf-8")
                n, c = len(data), len(zlib.compress(data, 6))
                raw.append(n)
                comp.append(c)
                ratio.append(round(c / n, 4) if n else 0.0)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pa.array(raw, pa.int64()),
                    pa.array(comp, pa.int64()),
                    pa.array(ratio, pa.float64()),
                ],
                [
                    "doc_id",
                    "raw_bytes",
                    "compressed_bytes",
                    "compression_ratio",
                ],
            )

    return docs.select("doc_id", "text").mapInArrow(
        _kernel,
        "doc_id long, raw_bytes long, compressed_bytes long, "
        "compression_ratio double",
    )


def psi_drift(docs: DataFrame, by: str = "source") -> DataFrame:
    """Population Stability Index of the token-length distribution per
    group against the whole corpus — the standard drift monitor between a
    data slice and its population (PSI < 0.1 stable, 0.1-0.25 moderate
    shift, > 0.25 investigate). Complements source_divergence: KL watches
    *vocabulary* drift, PSI watches the *shape* of a numeric feature.

    Bins are integer octaves computed WITHOUT float log2:
    bin = length(bin(max(n_tokens, 1))) — the bit length of the token
    count, pure integer in both engines, so bin boundaries can never
    straddle a float-rounding edge cross-engine. Laplace add-1/2 smoothing
    over the corpus bin domain keeps every PSI term finite (a group with
    zero mass in some corpus bin contributes a finite penalty instead of
    infinity) and is deterministic — no epsilon tuning.

    Scale shape: ONE map-side-combined aggregation from the raw scan to
    the (group, bin) grain; the corpus bin distribution, group totals and
    grand totals all derive from that tiny frame (never a second corpus
    scan); the group x bin domain completion is a broadcast cross join of
    two bounded dims (#groups x #bins rows, ~dozens).
    """
    ntok = F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    bin_ = F.length(F.bin(F.greatest(ntok, F.lit(1)).cast("long")))
    gb = (
        docs.select(F.col(by).alias("grp"), bin_.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = gb.groupBy("bin").agg(F.sum("c").alias("cb"))
    gtot = gb.groupBy("grp").agg(F.sum("c").alias("n_docs"))
    tot = corpus.agg(
        F.sum("cb").alias("n_total"), F.count(F.lit(1)).alias("n_bins")
    )
    # full (group, bin) domain so zero-mass bins still contribute
    dom = gtot.crossJoin(F.broadcast(corpus)).crossJoin(F.broadcast(tot))
    j = dom.join(gb, ["grp", "bin"], "left").select(
        "grp",
        "n_docs",
        "n_bins",
        (
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(0.5))
            / (F.col("n_docs") + F.lit(0.5) * F.col("n_bins"))
        ).alias("q"),
        (
            (F.col("cb") + F.lit(0.5))
            / (F.col("n_total") + F.lit(0.5) * F.col("n_bins"))
        ).alias("p"),
    )
    return j.groupBy("grp").agg(
        F.max("n_docs").alias("n_docs"),
        F.max("n_bins").alias("n_bins"),
        F.round(
            F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))),
            4,
        ).alias("psi"),
    ).withColumnRenamed("grp", by)


def vocab_stats(docs: DataFrame, by: str = "source") -> DataFrame:
    """Vocabulary-growth / Zipf-tail stats per group: token mass, type
    (distinct-token) count, type-token ratio, and the hapax legomenon
    share — the corpus-health numbers that flag template-generated or
    boilerplate-heavy sources (unnaturally low TTR / hapax share) before
    they skew a tokenizer or LM fit.

    Output grain: one row per ``by`` group — ``(by, n_tokens, n_types,
    type_token_ratio, n_hapax, hapax_share)`` where hapax counts tokens
    occurring exactly once WITHIN the group.

    Scale shape: tokens are materialized once and exploded via
    ``explode_outer`` (no inferred re-evaluating size() filter — the
    repo-wide rule) into ONE map-side-combined (group, token) hash agg —
    the only full-data exchange, bounded by the group vocabulary; the
    per-group fold then shuffles type-grain rows only.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
            r"\s+",
        ),
        lambda x: x != F.lit(""),
    )
    tok = docs.select(F.col(by), F.explode_outer(toks).alias("_t")).where(
        F.col("_t").isNotNull()
    )
    grain = tok.groupBy(by, "_t").agg(F.count(F.lit(1)).alias("_c"))
    return (
        grain.groupBy(by)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("_c") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            by,
            "n_tokens",
            "n_types",
            F.round(F.col("n_types") / F.col("n_tokens"), 6).alias(
                "type_token_ratio"
            ),
            "n_hapax",
            F.round(F.col("n_hapax") / F.col("n_types"), 6).alias(
                "hapax_share"
            ),
        )
    )


def readability_stats(docs: DataFrame, by: str = "source") -> DataFrame:
    """Flesch-Kincaid-style readability per group, from three exact
    integer counts: words (whitespace tokens), sentences (runs of
    ``.!?``), and syllable proxies (vowel-group runs ``[aeiouy]+`` —
    groups never span whitespace, so summing per text equals summing per
    word). Classic quality-stratification signal: training mixes report
    grade-level distributions per source; extreme grades flag boilerplate
    (too low) or symbol soup (too high).

    FK grade = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59,
    computed on the per-GROUP totals (the corpus-level grade, stable
    against per-doc zero-sentence divisions; zero-count groups guard via
    greatest(1)). Output: one row per group — ``(by, n_docs, n_words,
    n_sentences, n_syllables, fk_grade)``.

    Scale shape: three regexp counts in ONE scan projection folding into
    ONE map-side-combined agg — no explode, no window, no join.
    """
    low = F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))
    words = F.when(F.length(low) == 0, F.lit(0)).otherwise(
        F.size(F.split(low, r"\s+"))
    )
    sentences = F.size(F.regexp_extract_all(low, F.lit(r"[.!?]+"), 0))
    syllables = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), 0))
    agg = docs.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(words).alias("n_words"),
        F.sum(sentences).alias("n_sentences"),
        F.sum(syllables).alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.greatest(F.col("n_sentences"), F.lit(1)).cast("double")
    y = F.col("n_syllables").cast("double")
    return agg.select(
        by,
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(0.39) * (w / s)
            + F.lit(11.8) * (y / F.greatest(w, F.lit(1)))
            - F.lit(15.59),
            4,
        ).alias("fk_grade"),
    )


def chi2_drift(
    docs: DataFrame, cat: str = "lang", by: str = "source"
) -> DataFrame:
    """Chi-square drift of a CATEGORICAL column per group against the
    corpus — the categorical companion to :func:`psi_drift` (PSI watches
    a numeric feature's shape; this watches a label distribution, e.g.
    language mix per source). chi2 = sum over categories of
    (observed - expected)^2 / expected with expected = group_total x
    corpus_share; zero-observation cells contribute their full expected
    mass via domain completion, and expected is always > 0 because every
    corpus category has mass by construction.

    Output grain: one row per group — ``(by, n_docs, n_cats, chi2)``
    (compare chi2 against the critical value at n_cats - 1 dof).

    Scale shape: identical to psi_drift — ONE map-side-combined agg from
    the raw scan to the (group, category) grain; corpus/group/grand
    totals all derive from that tiny frame; the domain completion is a
    broadcast cross join of two bounded dims.
    """
    gb = (
        docs.select(F.col(by).alias("grp"), F.col(cat).alias("cat"))
        .groupBy("grp", "cat")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = gb.groupBy("cat").agg(F.sum("c").alias("cc"))
    gtot = gb.groupBy("grp").agg(F.sum("c").alias("n_docs"))
    tot = corpus.agg(
        F.sum("cc").alias("n_total"), F.count(F.lit(1)).alias("n_cats")
    )
    dom = gtot.crossJoin(F.broadcast(corpus)).crossJoin(F.broadcast(tot))
    j = dom.join(gb, ["grp", "cat"], "left").select(
        "grp",
        "n_docs",
        "n_cats",
        F.coalesce(F.col("c"), F.lit(0)).cast("double").alias("obs"),
        (
            F.col("n_docs").cast("double")
            * F.col("cc")
            / F.col("n_total")
        ).alias("exp"),
    )
    return (
        j.groupBy("grp")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_cats").alias("n_cats"),
            F.round(
                F.sum(
                    (F.col("obs") - F.col("exp"))
                    * (F.col("obs") - F.col("exp"))
                    / F.col("exp")
                ),
                4,
            ).alias("chi2"),
        )
        .withColumnRenamed("grp", by)
    )


def zipf_fit(docs: DataFrame, by: str = "source", top_n: int = 128) -> DataFrame:
    """Zipf power-law fit per group: least-squares slope of
    ``ln(count) ~ ln(rank)`` over the group's ``top_n`` most frequent
    tokens. Natural text sits near slope -1 (Zipf's law); template- or
    machine-generated sources flatten toward 0 (many tokens equally
    frequent) or collapse steeply (a few tokens dominate). Complements
    `vocab_stats` (which reads the TAIL via hapax share): the fit reads
    the HEAD of the rank-frequency curve.

    Output grain: one row per group — ``(by, n_top, top_mass, zipf_slope,
    zipf_intercept, r2)``. ``zipf_slope`` is NULL when the head has
    fewer than 2 types (zero rank variance); ``r2`` is additionally NULL
    when all head counts are identical (zero y-variance — the slope is a
    meaningful 0 there, but goodness-of-fit is undefined).

    Determinism: ranks are dense integers assigned by ``(count DESC,
    token ASC)`` — a total order both engines share (ASCII byte compare);
    the regression inputs are ``ln`` of exact integers, so cross-engine
    float drift is confined to the final sums (rounded to 6dp, the
    repo's psi/chi2 precedent).

    Scale shape: one exploded map-side-combined (group, token) hash agg
    (the only full-data exchange, bounded by the group vocabulary — same
    as `vocab_stats`); the rank window then runs on the vocab grain
    partitioned by group, and only ``top_n`` rows per group survive into
    the tiny regression fold.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
            r"\s+",
        ),
        lambda x: x != F.lit(""),
    )
    tok = docs.select(F.col(by), F.explode_outer(toks).alias("_t")).where(
        F.col("_t").isNotNull()
    )
    grain = tok.groupBy(by, "_t").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(by).orderBy(F.col("_c").desc(), F.col("_t").asc())
    top = (
        grain.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= top_n)
        .select(
            by,
            F.col("_c"),
            F.log(F.col("_r").cast("double")).alias("_x"),
            F.log(F.col("_c").cast("double")).alias("_y"),
        )
    )
    s = top.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_top"),
        F.sum("_c").alias("top_mass"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
    )
    n = F.col("n_top").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    # tolerance guard, not ==0: a degenerate axis (all-equal values)
    # yields a variance that is mathematically 0 but float-sums to a tiny
    # residual; real variances are O(n^2) so 1e-9 cleanly separates them
    slope = F.when(vx > F.lit(1e-9), cov / vx)
    return s.select(
        by,
        "n_top",
        "top_mass",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias(
            "zipf_intercept"
        ),
        F.round(
            F.when((vx > F.lit(1e-9)) & (vy > F.lit(1e-9)),
                   cov * cov / (vx * vy)), 6
        ).alias("r2"),
    )


# fixed, documented weights — like `quality_classifier`, the value at
# pipeline level is the SCORING plumbing (features -> linear score ->
# threshold -> per-group share); swapping in a learned model replaces one
# expression. Weights chosen so key=value/brace/semicolon-dense text
# clears the threshold and prose stays well under it.
_CODE_SYM_W = 6.0  # weight on structural-symbol char ratio
_CODE_KV_W = 1.5  # weight on key=value / assignment token share
_CODE_THRESHOLD = 0.25


def code_detect(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    threshold: float = _CODE_THRESHOLD,
) -> DataFrame:
    """Code/structured-text share per group — the standard corpus-mix
    audit separating prose from code, config, and machine-formatted
    records before fixing a training mixture (code-heavy slices want
    different dedup/quality thresholds than prose).

    Two exact per-row features, both integer counts over one scan:

    * ``sym_ratio`` — structural characters ``{}[]();=<>`` per text char
      (code and key=value records are dense in them, prose is not);
    * ``kv_share`` — whitespace tokens containing ``=`` / ``:=`` or
      ending in ``;`` per token (assignment-shaped tokens).

    ``score = 6.0*sym_ratio + 1.5*kv_share``; a row is "code-like" when
    score > ``threshold``. On the log-shaped transcripts fixture this
    flags the ``tool_call name=... args_len=...`` turns and leaves prose
    log lines under threshold — the honest structured-text split of that
    corpus.

    Output grain: one row per group — ``(by, n_rows, n_code,
    code_share, avg_score)``, floats rounded 6dp.

    Scale shape: ONE scan projection (two regexp counts + a split) into
    ONE map-side-combined agg; no explode, no window, no join.
    """
    txt = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    nc = F.greatest(F.length(txt), F.lit(1))
    sym = F.size(F.regexp_extract_all(txt, F.lit(r"[{}\[\]();=<>]"), 0))
    toks = F.filter(F.split(txt, r"\s+"), lambda x: x != F.lit(""))
    ntok = F.greatest(F.size(toks), F.lit(1))
    kv = F.size(
        F.filter(
            toks,
            lambda t: t.contains("=") | t.endswith(";"),
        )
    )
    score = (
        F.lit(_CODE_SYM_W) * sym.cast("double") / nc.cast("double")
        + F.lit(_CODE_KV_W) * kv.cast("double") / ntok.cast("double")
    )
    rows = docs.select(F.col(by), score.alias("_s"))
    return (
        rows.groupBy(by)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("_s") > threshold).cast("long")).alias("n_code"),
            F.round(F.avg("_s"), 6).alias("avg_score"),
        )
        .select(
            by,
            "n_rows",
            "n_code",
            F.round(F.col("n_code") / F.col("n_rows"), 6).alias("code_share"),
            "avg_score",
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    by: str = "source",
    k: int = 10,
    min_count: int = 5,
    min_len: int = 1,
) -> DataFrame:
    """Top-k pointwise-mutual-information bigrams per group — the
    collocation detector (Church & Hanks): which token pairs co-occur
    far above chance. In a curation pipeline high-PMI bigrams surface
    templated constructions and source-specific jargon; a collapse of
    the PMI head toward 0 flags machine-generated filler.

    Marginals come from the bigram table itself (``c(w1,*)``,
    ``c(*,w2)``, ``N = sum c``), so ONE tokenization pass feeds
    everything: ``pmi = ln(c12 * N / (c(w1,*) * c(*,w2)))``. The
    ``min_count`` floor (applied BEFORE ranking) is the standard
    variance guard — count-1 pairs otherwise own the top of every PMI
    list.

    Output grain: top-k rows per group — ``(by, w1, w2, n_pair, pmi,
    rank)``; rank orders by the UNROUNDED pmi desc then (w1, w2) asc
    (both engines compute the identical double from identical integer
    inputs, so the order is deterministic cross-engine).

    Scale shape: one exploded map-side-combined (group, w1, w2) hash agg
    (the only full-data exchange, bounded by the group's bigram
    vocabulary, localCheckpointed — three consumers must not re-scan the
    corpus); marginals and totals are vocab-grain folds of that frame;
    the rank window runs per group on the min_count-filtered grain only.
    """
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    with_t = docs.select(F.col(by).alias("grp"), toks.alias("t"))
    n_pairs = F.greatest(F.size("t") - 1, F.lit(0))
    bigs = F.zip_with(
        F.slice("t", 1, n_pairs),
        F.slice(F.col("t"), 2, n_pairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    grain = (
        with_t.select("grp", F.explode_outer(bigs).alias("b"))
        .where(F.col("b").isNotNull())
        .groupBy("grp", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=False)
    )
    left = grain.groupBy("grp", "w1").agg(F.sum("c12").alias("cl"))
    right = grain.groupBy("grp", "w2").agg(F.sum("c12").alias("cr"))
    tot = grain.groupBy("grp").agg(F.sum("c12").alias("nb"))
    j = (
        grain.where(F.col("c12") >= min_count)
        .join(left, ["grp", "w1"])
        .join(right, ["grp", "w2"])
        .join(F.broadcast(tot), "grp")
    )
    pmi = F.log(
        F.col("c12").cast("double")
        * F.col("nb").cast("double")
        / (F.col("cl").cast("double") * F.col("cr").cast("double"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(
        pmi.desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp").alias(by),
            "w1",
            "w2",
            F.col("c12").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
            "rank",
        )
    )


def trending_terms(
    df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    k: int = 5,
    min_len: int = 3,
    window: str = "hour",
) -> DataFrame:
    """Windowed top-k token leaderboard — the "trending terms" view
    every log-analytics surface ships: which tokens dominate each time
    bucket's volume. A token surging into the head flags an incident
    signature or a new template; bucket-over-bucket head churn is a
    cheap drift signal alongside `psi_drift`/`cusum_drift`.

    Output grain: top-k rows per bucket — ``(bucket, token, n, rank)``;
    rank orders by (count desc, token asc) — a total order both engines
    share, so the cut is deterministic. ``window`` is a date_trunc unit
    (the bucket stays timestamp-typed for cross-engine hash parity).

    Scale shape: one exploded map-side-combined (bucket, token) hash agg
    (the only full-data exchange, bounded by buckets x per-bucket
    vocabulary); the rank window partitions by bucket over that vocab
    grain and only k rows per bucket survive.
    """
    grain = term_counts(df, ts_col, text_col, min_len, window)
    return top_terms(grain, k)


def term_counts(
    df: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    min_len: int = 3,
    window: str = "hour",
) -> DataFrame:
    """Trending-terms stage 1: the (bucket, tok, n) count frame. Counts
    are plain sums, so the STREAMING twin writes this frame per
    micro-batch and merges the partials by summing."""
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z]+"),
        lambda t: F.length(t) >= min_len,
    )
    return (
        df.select(
            F.date_trunc(window, F.col(ts_col)).alias("bucket"),
            F.explode_outer(toks).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .groupBy("bucket", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_terms(grain: DataFrame, k: int = 5) -> DataFrame:
    """Trending-terms stage 2: rank a (bucket, tok, n) frame per bucket by
    (n desc, tok asc) and keep the top ``k`` as (bucket, token, n, rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    return (
        grain.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("bucket", F.col("tok").alias("token"), "n", "rank")
    )


def ks_drift(docs: DataFrame, by: str = "source") -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov drift of the token-length
    distribution: each group vs the REST of the corpus. The unbinned
    companion to `psi_drift` — PSI's octave bins can hide a shift that
    stays inside one bin; the KS statistic ``D = sup |ECDF_g - ECDF_rest|``
    is binning-free and exact here because the sup over step functions
    is attained at a data point, so evaluating both ECDFs at every
    distinct length in the corpus domain is sufficient.

    Output grain: one row per group — ``(by, n_docs, ks_stat, ks_at)``
    where ``ks_at`` is the smallest length attaining the sup (tie-broken
    deterministically). ``ks_stat`` is NULL for a group that IS the
    whole corpus (no rest to compare).

    Scale shape: one map-side-combined (group, length) hash agg from the
    raw scan (the same single full-data exchange as psi_drift); the
    cumulative ECDFs come from TRIANGULAR joins on the tiny
    length-domain frame (O(L^2) pairs with L = distinct lengths —
    hundreds, never corpus-sized; the curriculum_stages idiom), so no
    window ever sees corpus rows and no empty-partition window exists.
    """
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    g = (
        docs.select(F.col(by).alias("grp"), ntok.alias("len"))
        .groupBy("grp", "len")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    corp = g.groupBy("len").agg(F.sum("c").alias("cc"))
    ns = g.groupBy("grp").agg(F.sum("c").alias("n_s"))
    tot = corp.agg(F.sum("cc").alias("n_tot"))
    dom = corp.select(F.col("len").alias("d"))

    # corpus ECDF numerator at every domain point (triangular join)
    ccum = (
        dom.join(F.broadcast(corp), F.col("len") <= F.col("d"))
        .groupBy("d")
        .agg(F.sum("cc").alias("ccum"))
    )
    # per-(group, domain point) cumulative counts; full domain per group
    # so groups with no mass below d still evaluate there
    sd = ns.crossJoin(F.broadcast(dom)).alias("sd")
    gg = g.alias("gg")
    scum = (
        sd.join(
            gg,
            (F.col("sd.grp") == F.col("gg.grp"))
            & (F.col("gg.len") <= F.col("sd.d")),
            "left",
        )
        .groupBy(F.col("sd.grp").alias("grp"), F.col("sd.d").alias("d"),
                 F.col("sd.n_s").alias("n_s"))
        .agg(F.coalesce(F.sum("gg.c"), F.lit(0)).alias("scum"))
    )
    j = (
        scum.join(F.broadcast(ccum), "d")
        .crossJoin(F.broadcast(tot))
        .select(
            "grp",
            "d",
            "n_s",
            F.when(
                F.col("n_tot") > F.col("n_s"),
                F.abs(
                    F.col("scum") / F.col("n_s")
                    - (F.col("ccum") - F.col("scum"))
                    / (F.col("n_tot") - F.col("n_s"))
                ),
            ).alias("dev"),
        )
    )
    mx = j.groupBy("grp").agg(
        F.max("n_s").alias("n_docs"), F.max("dev").alias("mdev")
    )
    at = (
        j.join(mx.select("grp", "mdev"), "grp")
        .where(F.col("dev") == F.col("mdev"))
        .groupBy("grp")
        .agg(F.min("d").alias("ks_at"))
    )
    return (
        mx.join(at, "grp", "left")
        .select(
            F.col("grp").alias(by),
            "n_docs",
            F.round(F.col("mdev"), 6).alias("ks_stat"),
            "ks_at",
        )
    )
