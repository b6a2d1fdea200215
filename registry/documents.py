"""Queries over the ``documents`` input table, one document at a time
or per group: quality scores and filters, token, length and language
statistics, tokenizers, sampling, mixtures and dataset cards.

Oracles read a ``documents`` view over the same parquet. The queries
that compare documents with each other are in ``documents_dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.operators.bpe import (
    bpe_token_stats,
    bpe_train,
    tokenizer_fertility,
    word_histogram,
)
from otlp_cardinality_checker_spark.operators.card import (
    card_diff,
    dataset_card,
)
from otlp_cardinality_checker_spark.operators.curriculum import (
    curriculum_stages,
    length_buckets,
)
from otlp_cardinality_checker_spark.operators.importance import (
    dsir_log_weights,
)
from otlp_cardinality_checker_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
    shard_plan,
)
from otlp_cardinality_checker_spark.operators.pii import dp_counts
from otlp_cardinality_checker_spark.operators.quantiles import quantile_sketch
from otlp_cardinality_checker_spark.operators.sampling import (
    _hex_threshold,
    data_budget,
    epoch_plan,
    fixed_k_sample,
    hash_sample,
    mixture_weights,
    pps_sample_stats,
    stratified_sample_stats,
    weighted_sample,
)
from otlp_cardinality_checker_spark.operators.search import bm25_topk
from otlp_cardinality_checker_spark.operators.text_analysis import (
    LANG_MARKERS,
    LANG_PRIORITY,
    _token_count,
    bigram_cross_entropy,
    char_entropy,
    chi2_drift,
    compression_stats,
    filter_funnel,
    intra_doc_repetition,
    ks_drift,
    language_id,
    length_percentiles,
    passes_quality,
    pmi_bigrams,
    psi_drift,
    quality_classifier,
    quality_scores,
    readability_stats,
    source_divergence,
    tfidf_top_terms,
    token_count_stats,
    unigram_cross_entropy,
    vocab_stats,
    zipf_fit,
)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_scores(docs)


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_count_stats(docs)


def q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact token-length percentiles (length-filter stats)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_percentiles(docs)


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs)


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call curation summary (volume / lang mix / length quantiles /
    quality pass rate / exact-dup rate / token budget) in a stable
    long-form (section, metric, value) schema — every number composed
    from the package's existing primitives and reproduced exactly by one
    DuckDB oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dataset_card(docs)


def q_card_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-snapshot regression check: full-outer diff of the dataset
    cards of two halves of the documents table (even vs odd doc_id) —
    shifted language mix, dup-rate spikes, moved length quantiles all
    surface as delta rows."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return card_diff(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 documents for each of 4 fixed keyword queries —
    the corpus-audit / retrieval-decontamination lookup. One corpus
    tokenization; query terms broadcast; df from matched postings only;
    scores rounded to 4dp before ranking (cross-engine tie stability)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, k=5)


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: first-failing-stage drop accounting."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return filter_funnel(docs)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation job: quality filter (the funnel's `kept`
    predicate) -> deterministic stratified sample -> per-(lang, source)
    document and token accounting. One scan, two stacked filters (both
    pushdown-friendly), one hash-agg: the composition every training-data
    pipeline runs before mixing, as a single Spark job."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = docs.where(passes_quality())
    sampled = hash_sample(
        kept, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )
    n_tok = _token_count(F.col("text"))
    return sampled.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def q_compression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio (character-level repetitiveness /
    quality signal). Rows-only by design: DuckDB exposes no deflate, so
    no SQL oracle exists — correctness is pinned by the direct-zlib
    parity + closed-form extreme tests in tests/test_text_analysis.py."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return compression_stats(docs)


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.7) source mixture weights: per-source
    token mass, raw vs alpha-flattened corpus shares, and the implied
    up/down-sampling factor — the XLM-R/mT5 data-mixing computation."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_weights(docs, alpha=0.7)


def q_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc letter-distribution Shannon entropy (gibberish detector)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return char_entropy(docs)


def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram cross-entropy per document (perplexity filter)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_cross_entropy(docs)


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram cross-entropy per document — the order-2 perplexity
    filter (catches common-unigram token salad the unigram filter
    misses). Docs with < 2 tokens drop out by inner semantics."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_cross_entropy(docs)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed {1,2}-gram LMs, arXiv:2302.03169):
    pool docs scored by ln p_target - ln p_source with target = the
    src0/src1 slice. The md5-bucket hash makes the weights bit-exact in
    DuckDB — a fully hash-checkable data-selection operator."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_log_weights(docs, F.col("source").isin("src0", "src1"))


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality scorer (model-based filter stage):
    per-(lang, source) pass rates + mean score at threshold 0.5."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_classifier(docs)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing accounting: per-(shard,
    chunk) doc counts, carryover splits, and token fill at budget=256 over
    8 id-mod shards. Pure integer span arithmetic — bit-identical oracle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, budget=256, n_shards=8)


def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence vs the corpus token distribution."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_divergence(docs)


SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.15}


SAMPLE_DEFAULT_RATE = 0.1


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold stratified sample audit: the DuckDB
    oracle reproduces the EXACT same sample membership (pinned by the
    sampled-id checksum), evidencing engine-portable reproducibility."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample_stats(
        docs, SAMPLE_RATES, default_rate=SAMPLE_DEFAULT_RATE
    )


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language over the documents corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=5)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: overlapping 64-token windows (overlap 16) per doc,
    with md5 chunk digests — integer-exact layout, zero exchanges."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer trained on the corpus (40 merges learned from the
    distributed word histogram), then applied distributed: per-doc token
    counts.  Iterative argmax training has no cross-engine oracle —
    rows-only; correctness pinned by an independent second implementation
    in tests/test_bpe.py plus roundtrip/monotonicity invariants."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(word_histogram(docs), n_merges=40)
    return bpe_token_stats(docs, merges)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (integer octave-quarter histogram):
    per-language p50/p90/p99 of document length from (group, bucket,
    count) partials — union+sum IS the merge, estimates deterministic
    integers (hash-oracle-safe), overshoot < 25% by construction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quantile_sketch(docs, "n_chars", (0.5, 0.9, 0.99), "lang")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals (top-bigram char
    mass, duplicated-bigram char mass, distinct-word ratio) — zero-shuffle
    row-local HOF computation; overlapping occurrences over-count shared
    characters by design, so degenerate loops score > 1."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return intra_doc_repetition(docs)


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (PPS Poisson) sample audit of documents: inclusion
    probability proportional to n_chars, exact-integer thresholds, so the
    oracle reproduces the exact sample membership."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pps_sample_stats(docs, 100)


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the token-length distribution per
    source vs the corpus (integer octave bins via bit length — no float
    log2 at bin boundaries; Laplace-smoothed over the corpus bin domain).
    The numeric-feature drift monitor complementing source_drift's
    vocabulary KL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return psi_drift(docs, by="source")


def q_data_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable data-mixing budget (30k tokens, alpha=0.7): per-source
    allocation, epochs, oversample flag, and the deterministically
    downsampled kept set (md5-threshold membership, kept-id checksum)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return data_budget(docs, budget_tokens=30000, alpha=0.7)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency power-law fit per source over the top-128
    token head: least-squares slope/intercept/r2 of ln(count)~ln(rank)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs, by="source", top_n=128)


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export-shard plan (1000-token shards over the global
    (source, doc_id) order) via the three-level hierarchical cumsum —
    must equal the oracle's flat global window cumsum bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_plan(docs, budget=1000, block_size=64)


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 PMI collocations per source (min_count 5, marginals from
    the bigram table — one tokenization pass)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_bigrams(docs, by="source", k=10, min_count=5)


def q_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP count-release audit per source (deterministic md5-seeded
    Laplace(1/eps) noise next to the true counts, eps=1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dp_counts(docs, by="source", epsilon=1.0)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unbinned KS drift of token-length per source vs rest of
    corpus (triangular-join ECDFs on the bounded length grain)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ks_drift(docs, by="source")


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source fertility + chars/token under the 40-merge BPE table.
    Rows-only (iterative BPE training has no SQL oracle; pinned by the
    independent second trainer + closed-form fertility test)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train(word_histogram(docs), n_merges=40)
    return tokenizer_fertility(docs, merges, by="source")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-5 weighted (A-ES) sample per source, n_chars-proportional,
    md5-deterministic."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, k=5, by="source", weight_col="n_chars")


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language detector against the
    fixture's lang column, with per-cell share of the true class — the
    standard detector-evaluation view."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    det = language_id(docs).select("doc_id", "lang_detected")
    j = docs.select("doc_id", "lang").join(det, "doc_id")
    cell = j.groupBy("lang", "lang_detected").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = cell.groupBy("lang").agg(F.sum("n_docs").alias("n_true"))
    return cell.join(F.broadcast(tot), "lang").select(
        "lang",
        "lang_detected",
        "n_docs",
        F.round(F.col("n_docs") / F.col("n_true"), 6).alias("share_of_true"),
    )


def q_corpus_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of token mass across sources — the corpus-
    balance inequality number (0 = perfectly even mixture, ->1 = one
    source dominates). Exact mean-absolute-difference form
    ``G = sum_ij |x_i - x_j| / (2 n^2 mu)`` over the tiny source-grain
    frame (O(S^2) pairs — the triangular-join idiom), so no sorting or
    rank windows; one row out with the per-source masses' summary."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    g = docs.groupBy("source").agg(F.sum(ntok).alias("x"))
    a = g.alias("a")
    b = g.alias("b")
    pairs = a.crossJoin(F.broadcast(b)).agg(
        F.sum(F.abs(F.col("a.x") - F.col("b.x"))).alias("sad"),
    )
    tot = g.agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").alias("total_tokens"),
        F.max("x").alias("max_tokens"),
        F.min("x").alias("min_tokens"),
    )
    return pairs.crossJoin(F.broadcast(tot)).select(
        "n_sources",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.round(
            F.col("sad").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_sources").cast("double")
                * F.col("total_tokens").cast("double")
            ),
            6,
        ).alias("gini"),
    )


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executable epoch schedule under a 60k-token temperature budget:
    one row per (doc, epoch) read, full epochs + md5-threshold tail."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return epoch_plan(docs, budget_tokens=60000, alpha=0.7)


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square language-mix drift per source vs the corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chi2_drift(docs, cat="lang", by="source")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch-Kincaid readability from exact integer
    word/sentence/vowel-group counts."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return readability_stats(docs, by="source")


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary growth: token/type mass, TTR, hapax share."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_stats(docs, by="source")


def q_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: exact integer cumulative-rank-share stages
    (k=4) over the whitespace-token difficulty score; ties share a
    stage, assignment is partitioning-invariant."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curriculum_stages(docs, n_stages=4)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency audit for length-grouped batching at
    boundaries (32, 64, 128, 256): per-bucket doc/token mass, pad-token
    waste, truncation count."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_buckets(docs, boundaries=(32, 64, 128, 256))


def q_fixed_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample (k=50 per language):
    md5-permutation ranks via the salted two-stage top-k, membership a
    pure function of (ids, salt)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fixed_k_sample(docs, k=50, stratum_col="lang")


def _stratified_sample_sql() -> str:
    """CASE thresholds generated from the same rate table as the operator."""
    whens = "\n           ".join(
        f"WHEN '{stratum}' THEN '{_hex_threshold(rate)}'"
        for stratum, rate in sorted(SAMPLE_RATES.items())
    )
    default = _hex_threshold(SAMPLE_DEFAULT_RATE)
    return f"""
WITH k AS (
  SELECT lang, doc_id,
    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang {whens} ELSE '{default}' END
    THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang, count(*) AS n_total,
  CAST(sum(keep) AS BIGINT) AS n_sampled,
  round(sum(keep) / count(*), 4) AS realized_rate,
  CAST(sum(doc_id * keep) AS BIGINT) AS sampled_id_sum
FROM k GROUP BY lang
"""


def _filter_funnel_sql() -> str:
    """Funnel oracle generated from the same marker table as the operator."""
    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    return f"""
WITH f AS (
  SELECT doc_id,
    length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS nt,
    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS ar,
    {best} AS best
  FROM (SELECT *, ' ' || lower(text) || ' ' AS t FROM documents)
), staged AS (
  SELECT CASE WHEN nt < 16 THEN '1_too_short'
              WHEN ar < 0.81 THEN '2_low_alpha'
              WHEN best = 0 THEN '3_lang_unknown'
              ELSE '4_kept' END AS stage
  FROM f
), c AS (SELECT stage, count(*) AS n_docs FROM staged GROUP BY 1),
n AS (SELECT count(*) AS n_total FROM documents)
SELECT stage, n_docs, round(n_docs / n_total, 4) AS share
FROM c CROSS JOIN n
"""


def _dataset_card_sql(rel: str = "documents") -> str:
    """Card oracle: every number recomputed from the same definitions the
    dedicated operators use (token count, kept predicate incl. the marker
    table, md5 digest grain, quantile_cont pairing). ``rel`` is any
    relation expression (card_diff runs it once per side)."""
    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    return f"""
WITH base AS (SELECT *, ' ' || lower(text) || ' ' AS t FROM {rel}),
a AS (
  SELECT count(*) AS n,
    CAST(sum(n_chars) AS BIGINT) AS chars,
    CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
      AS BIGINT) AS toks,
    CAST(sum(CASE WHEN
        length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 >= 16
        AND round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       AS DOUBLE) / greatest(length(text), 1), 4) >= 0.81
        AND {best} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
    count(DISTINCT md5(text)) AS digests,
    quantile_cont(CAST(n_chars AS DOUBLE), [0.5, 0.9, 0.99]) AS p
  FROM base
)
SELECT 'volume' AS section, 'n_docs' AS metric,
       round(CAST(n AS DOUBLE), 6) AS value FROM a
UNION ALL SELECT 'volume', 'total_chars', round(CAST(chars AS DOUBLE), 6) FROM a
UNION ALL SELECT 'volume', 'avg_chars', round(CAST(chars AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'tokens', 'avg_tokens', round(CAST(toks AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'tokens', 'total_tokens', round(CAST(toks AS DOUBLE), 6) FROM a
UNION ALL SELECT 'quality', 'pass_rate', round(CAST(kept AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'dedup', 'exact_dup_rate',
       round(1.0 - CAST(digests AS DOUBLE) / n, 6) FROM a
UNION ALL SELECT 'lang', lang,
       round(CAST(count(*) AS DOUBLE) /
             (SELECT count(*) FROM {rel}), 6)
  FROM {rel} GROUP BY lang
UNION ALL SELECT 'length', 'p50', round(p[1], 6) FROM a
UNION ALL SELECT 'length', 'p90', round(p[2], 6) FROM a
UNION ALL SELECT 'length', 'p99', round(p[3], 6) FROM a
"""


def _curation_pipeline_sql() -> str:
    """Composition oracle: funnel `kept` predicate + the sample threshold
    CASE, both generated from the operators' own tables."""
    lang_sums = []
    for markers in LANG_MARKERS.values():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        lang_sums.append(f"({terms})")
    best = "greatest(" + ", ".join(lang_sums) + ")"
    whens = "\n             ".join(
        f"WHEN '{stratum}' THEN '{_hex_threshold(rate)}'"
        for stratum, rate in sorted(SAMPLE_RATES.items())
    )
    default = _hex_threshold(SAMPLE_DEFAULT_RATE)
    return f"""
WITH kept AS (
  SELECT * FROM (SELECT *, ' ' || lower(text) || ' ' AS t FROM documents)
  WHERE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 >= 16
    AND round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS DOUBLE) / greatest(length(text), 1), 4) >= 0.81
    AND {best} > 0
), sampled AS (
  SELECT * FROM kept
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        CASE lang {whens} ELSE '{default}' END
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS total_tokens,
  CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM sampled GROUP BY 1, 2
"""


def _char_entropy_sql() -> str:
    """Entropy oracle with the EXACT same term order as the operator, so
    IEEE summation order matches and round(…,4) parity is bit-stable."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    cnts = [
        f"(length(t) - length(replace(t, '{c}', '')))" for c in letters
    ]
    total = " + ".join(cnts)
    terms = " + ".join(
        f"CASE WHEN {c} > 0 THEN -({c} / safe) * ln({c} / safe) "
        f"ELSE 0.0 END"
        for c in cnts
    )
    return f"""
WITH b AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
s AS (
  SELECT doc_id, lang, ({total}) AS total,
         CAST(greatest(({total}), 1) AS DOUBLE) AS safe, t
  FROM b
)
SELECT doc_id, lang, CAST(total AS BIGINT) AS n_letters,
       round(0.0 + {terms}, 4) AS entropy
FROM s
"""


def _lang_confusion_sql() -> str:
    """Confusion-matrix oracle built on the same generated detector SQL
    as _language_id_sql (one source of truth for the marker table)."""
    inner = _language_id_sql()
    return f"""
WITH det AS ({inner})
, cell AS (
  SELECT lang_declared AS lang, lang_detected, count(*) AS n_docs
  FROM det GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_true FROM cell GROUP BY 1
)
SELECT cell.lang, cell.lang_detected, cell.n_docs,
       round(cell.n_docs * 1.0 / tot.n_true, 6) AS share_of_true
FROM cell JOIN tot USING (lang)
"""


def _language_id_sql() -> str:
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{m}', '')))" for m in markers
        )
        score_exprs.append(f"({terms}) AS s_{lang}")
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_MARKERS) + ")"
    cases = "\n       ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in LANG_PRIORITY
    )
    return f"""
WITH base AS (
  SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents
), s AS (
  SELECT doc_id, lang, {', '.join(score_exprs)} FROM base
)
SELECT doc_id, lang AS lang_declared,
  CASE WHEN {best} = 0 THEN 'und'
       {cases}
       ELSE 'und' END AS lang_detected,
  {best} AS marker_score
FROM s
"""


# The batch oracle the streaming family reuses.
# same integer bucketing as operators/quantiles.py: bit_length via
# printf('%b') (Spark twin: length(conv(v, 10, 2)))
def quantile_sketch_sql(pre: str) -> str:
    return """
WITH vals AS (
  SELECT lang, GREATEST(CAST(n_chars AS BIGINT), 1) AS v FROM documents
), b AS (
  SELECT lang,
    ((v >> GREATEST(length(printf('%b', v)) - 3, 0)) + 1)
      << GREATEST(length(printf('%b', v)) - 3, 0) AS bucket_hi
  FROM vals
), sk AS (
  SELECT lang, bucket_hi, count(*) AS cnt FROM b GROUP BY 1, 2
), cum AS (
  SELECT lang, bucket_hi,
    sum(cnt) OVER (PARTITION BY lang ORDER BY bucket_hi) AS cum,
    sum(cnt) OVER (PARTITION BY lang) AS n
  FROM sk
), qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
SELECT lang, q, CAST(min(bucket_hi) AS BIGINT) AS estimate,
       CAST(max(n) AS BIGINT) AS n
FROM cum, qs WHERE cum >= ceil(q * n)
GROUP BY lang, q
"""


RECORDS = {
    "text_quality": (q_text_quality, lambda pre: """
SELECT doc_id,
  length(text) AS n_chars_actual,
  length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS n_tokens,
  round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS alpha_ratio,
  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS digit_ratio,
  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(length(text), 1), 4) AS punct_ratio
FROM documents
"""),
    "token_counts": (q_token_counts, lambda pre: """
SELECT lang,
  count(*) AS n_docs,
  CAST(sum(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS total_tokens,
  CAST(max(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1)
       AS BIGINT) AS max_tokens
FROM documents GROUP BY lang
"""),
    "doc_length_stats": (q_doc_length_stats, lambda pre: """
WITH n AS (
  SELECT lang,
         length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS nt
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
       round(quantile_cont(nt, 0.9), 4) AS p90_tokens,
       round(quantile_cont(nt, 0.99), 4) AS p99_tokens,
       round(avg(nt), 4) AS mean_tokens
FROM n GROUP BY lang
"""),
    "language_id": (q_language_id, lambda pre: _language_id_sql()),
    "dataset_card": (q_dataset_card, lambda pre: _dataset_card_sql()),
    "card_diff": (q_card_diff, lambda pre: f"""
WITH card_a AS ({_dataset_card_sql(
    "(SELECT * FROM documents WHERE doc_id % 2 = 0)")}),
card_b AS ({_dataset_card_sql(
    "(SELECT * FROM documents WHERE doc_id % 2 = 1)")})
SELECT coalesce(a.section, b.section) AS section,
       coalesce(a.metric, b.metric) AS metric,
       a.value AS value_a, b.value AS value_b,
       round(b.value - a.value, 6) AS delta
FROM card_a a FULL OUTER JOIN card_b b
  ON a.section = b.section AND a.metric = b.metric
"""),
    # Okapi BM25 (operators/search.py): constants mirror the Spark
    # expression after Python folding — (1.0 - b) folds to 0.25
    # BEFORE entering the Column tree, so the SQL writes 0.25, not
    # (1 - 0.75); sum-over-terms is <= 3 doubles, absorbed by the
    # 4dp pre-rank rounding.
    "bm25_search": (q_bm25_search, lambda pre: """
WITH q(query_id, term) AS (
  VALUES (1,'hash'),(1,'join'),(1,'merge'),
         (2,'fast'),(2,'scan'),(2,'filter'),
         (3,'stream'),(3,'window'),(3,'agg'),
         (4,'customer'),(4,'query'),(4,'table')
),
ex AS (
  SELECT doc_id, t AS term FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 2
),
dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY 1),
s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM ex
  WHERE term IN (SELECT DISTINCT term FROM q)
  GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT q.query_id, tf.doc_id,
         count(*) AS n_terms_matched,
         round(sum(
           ln(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))
           * (tf / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)))
         ), 4) AS score
  FROM tf JOIN q USING (term) JOIN dfr USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms_matched, score, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""),
    "filter_funnel": (q_filter_funnel, lambda pre: _filter_funnel_sql()),
    "curation_pipeline": (
        q_curation_pipeline,
        lambda pre: _curation_pipeline_sql(),
    ),
    "compression_stats": (q_compression_stats, None),
    "mixture_weights": (q_mixture_weights, lambda pre: """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t, sum(pow(n_tokens, 0.7)) AS ta
  FROM per_src
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
       round(n_tokens / t, 6) AS raw_share,
       round(pow(n_tokens, 0.7) / ta, 6) AS alpha_share,
       round((pow(n_tokens, 0.7) / ta) / (n_tokens * 1.0 / t), 4)
         AS upsample_factor
FROM per_src, tot
"""),
    "doc_entropy": (q_doc_entropy, lambda pre: _char_entropy_sql()),
    "doc_perplexity": (q_doc_perplexity, lambda pre: """
WITH ex AS (
  SELECT doc_id, lang, t AS term FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 1
), lm AS (SELECT term, count(*) AS tc FROM ex GROUP BY 1),
s AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total, count(*) AS v FROM lm)
SELECT doc_id, lang, count(*) AS n_tokens,
       round(avg(-ln((tc + 1) / CAST(n_total + v AS DOUBLE))), 4)
         AS cross_entropy
FROM ex JOIN lm USING (term) CROSS JOIN s
GROUP BY 1, 2
"""),
    # Bigram LM cross-entropy (text_analysis.bigram_cross_entropy):
    # bigrams via generate_series over the filtered token list (order
    # preserved by both engines' split+filter); V = distinct contexts,
    # derived from the LM frame exactly as the Spark plan does.
    "bigram_perplexity": (q_bigram_perplexity, lambda pre: """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS t
  FROM documents
), idx AS (
  SELECT doc_id, lang, t,
         unnest(generate_series(1, length(t) - 1)) AS i
  FROM toks
), ex AS (
  SELECT doc_id, lang, t[i] AS w1, t[i + 1] AS w2 FROM idx
), dt AS (
  SELECT doc_id, lang, w1, w2, count(*) AS c FROM ex GROUP BY 1, 2, 3, 4
), lm AS (
  SELECT w1, w2, CAST(sum(c) AS BIGINT) AS bc FROM dt GROUP BY 1, 2
), ctx AS (
  SELECT w1, CAST(sum(bc) AS BIGINT) AS cc FROM lm GROUP BY 1
), s AS (SELECT count(*) AS v FROM ctx)
SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(sum(c * -ln((bc + 1) / CAST(cc + v AS DOUBLE))) / sum(c), 4)
         AS cross_entropy
FROM dt JOIN lm USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN s
GROUP BY 1, 2
"""),
    # DSIR importance weights (operators/importance.py): md5-prefix
    # hex -> int bucket hash (('0x'||…)::INTEGER == Spark conv(…,16,10));
    # add-one smoothing over the 1024-bucket space on both models.
    "dsir_weights": (q_dsir_weights, lambda pre: """
WITH t AS (
  SELECT doc_id, lang, source IN ('src0', 'src1') AS tgt,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS tk
  FROM documents
), uni AS (
  SELECT doc_id, lang, tgt, unnest(tk) AS gram FROM t
), bi AS (
  SELECT doc_id, lang, tgt, tk[i] || ' ' || tk[i + 1] AS gram
  FROM (SELECT doc_id, lang, tgt, tk,
               unnest(generate_series(1, length(tk) - 1)) AS i FROM t)
), ex AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
db AS (
  SELECT doc_id, lang, tgt,
         (('0x' || substr(md5(gram), 1, 4))::INTEGER) % 1024 AS b,
         count(*) AS c
  FROM ex GROUP BY 1, 2, 3, 4
),
tgtm AS (SELECT b, CAST(sum(c) AS BIGINT) AS tc FROM db WHERE tgt GROUP BY 1),
srcm AS (SELECT b, CAST(sum(c) AS BIGINT) AS sc FROM db WHERE NOT tgt GROUP BY 1),
tn AS (SELECT CAST(sum(tc) AS BIGINT) AS t_n FROM tgtm),
sn AS (SELECT CAST(sum(sc) AS BIGINT) AS s_n FROM srcm),
ratio AS (
  SELECT coalesce(tgtm.b, srcm.b) AS b,
         ln((coalesce(tc, 0) + 1) / CAST(t_n + 1024 AS DOUBLE))
         - ln((coalesce(sc, 0) + 1) / CAST(s_n + 1024 AS DOUBLE))
           AS log_ratio
  FROM tgtm FULL OUTER JOIN srcm ON tgtm.b = srcm.b
  CROSS JOIN tn CROSS JOIN sn
)
SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n_grams,
       round(sum(c * log_ratio), 4) AS log_weight
FROM db JOIN ratio USING (b) WHERE NOT tgt
GROUP BY 1, 2
"""),
    # Logistic quality classifier (text_analysis.quality_classifier):
    # features are the 4dp-rounded text_quality forms, weights written
    # in the exact Python fold order (bias + 4a - 6d - 3p + 0.5lt).
    "quality_classifier": (q_quality_classifier, lambda pre: """
WITH f AS (
  SELECT lang, source,
    round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS alpha_ratio,
    round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS digit_ratio,
    round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1), 4) AS punct_ratio,
    ln(1.0 + (length(trim(text)) - length(replace(trim(text), ' ', ''))
              + 1)) AS lt
  FROM documents
), s AS (
  SELECT lang, source,
    1.0 / (1.0 + exp(-(-3.0 + 4.0 * alpha_ratio + -6.0 * digit_ratio
                       + -3.0 * punct_ratio + 0.5 * lt))) AS score
  FROM f
)
SELECT lang, source, count(*) AS n_docs,
  CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  round(CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        / CAST(count(*) AS DOUBLE), 4) AS pass_rate,
  round(avg(score), 4) AS avg_score
FROM s GROUP BY 1, 2
"""),
    # Sequence packing (operators/packing.py): pure integer span
    # arithmetic; `//` on nonnegative BIGINTs == Spark `div`.
    "pack_sequences": (q_pack_sequences, lambda pre: """
WITH n AS (
  SELECT doc_id, doc_id % 8 AS shard,
         length(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                            x -> length(x) >= 1)) AS n
  FROM documents
), spans AS (
  SELECT shard,
         CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end,
         CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - n AS BIGINT)
           AS cum_before
  FROM n WHERE n > 0
), ex AS (
  SELECT shard, cum_before, cum_end,
         unnest(generate_series(cum_before // 256,
                                (cum_end - 1) // 256)) AS chunk
  FROM spans
)
SELECT shard, chunk,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN cum_before < chunk * 256 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_carryover,
       CAST(sum(least((chunk + 1) * 256, cum_end)
                - greatest(chunk * 256, cum_before)) AS BIGINT) AS n_tokens,
       CAST(sum(least((chunk + 1) * 256, cum_end)
                - greatest(chunk * 256, cum_before)) AS BIGINT) = 256 AS full
FROM ex GROUP BY 1, 2
"""),
    "source_drift": (q_source_drift, lambda pre: """
WITH ex AS (
  SELECT source, t AS term FROM (
    SELECT source,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 1
), st AS (SELECT source, term, count(*) AS c FROM ex GROUP BY 1, 2),
corpus AS (SELECT term, CAST(sum(c) AS BIGINT) AS tc FROM st GROUP BY 1),
stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS s_total FROM st GROUP BY 1),
n AS (SELECT CAST(sum(tc) AS BIGINT) AS n_total FROM corpus)
SELECT source, CAST(max(s_total) AS BIGINT) AS n_tokens,
       count(*) AS n_terms,
       round(sum((c / CAST(s_total AS DOUBLE))
                 * ln((c / CAST(s_total AS DOUBLE))
                      / (tc / CAST(n_total AS DOUBLE)))), 4)
         AS kl_divergence
FROM st JOIN corpus USING (term) JOIN stot USING (source) CROSS JOIN n
GROUP BY 1
"""),
    "stratified_sample": (
        q_stratified_sample,
        lambda pre: _stratified_sample_sql(),
    ),
    "tfidf_terms": (q_tfidf_terms, lambda pre: """
WITH ex AS (
  SELECT doc_id, lang, t AS term FROM (
    SELECT doc_id, lang,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t
    FROM documents
  ) WHERE length(t) >= 3
), tf AS (SELECT lang, term, count(*) AS tf FROM ex GROUP BY 1, 2),
dfx AS (SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_total FROM documents)
SELECT lang, term, tf, df, score, rank FROM (
  SELECT lang, term, tf, df,
    round(tf * ln(CAST(n_total AS DOUBLE) / df), 4) AS score,
    row_number() OVER (
      PARTITION BY lang
      ORDER BY round(tf * ln(CAST(n_total AS DOUBLE) / df), 4) DESC,
               term ASC) AS rank
  FROM tf JOIN dfx USING (term) CROSS JOIN n
) WHERE rank <= 5
"""),
    "chunk_docs": (q_chunk_docs, lambda pre: """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), meta AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 64 THEN 1
              ELSE 1 + (len(t) - 64 + 47) // 48 END AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(u.ci AS BIGINT) AS chunk_idx,
       CAST(u.ci * 48 AS BIGINT) AS start_tok,
       CAST(least(64, n - u.ci * 48) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(
         t[u.ci * 48 + 1 : u.ci * 48 + least(64, n - u.ci * 48)], ' '))
         AS chunk_digest
FROM meta, unnest(range(n_chunks)) AS u(ci)
"""),
    "bpe_tokens": (q_bpe_tokens, None),
    "quantile_sketch": (q_quantile_sketch, quantile_sketch_sql),
    # same determinism contract as intra_doc_repetition: literal
    # single-space split, chars = re-joined words, top-gram tie-break
    # (count DESC, gram DESC), <2-word docs -> NULL gram / 0 fractions
    "repetition_stats": (q_repetition_stats, lambda pre: """
WITH base AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
), stats AS (
  SELECT doc_id, len(w) AS n_words,
         length(array_to_string(w, ' ')) AS n_chars,
         len(list_distinct(w)) AS n_distinct, w
  FROM base
), grams AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
  FROM stats, unnest(range(1, n_words)) t(i)
  WHERE n_words >= 2
), gc AS (
  SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY 1, 2
), top AS (
  SELECT doc_id, gram AS top_gram, cnt AS top_cnt
  FROM gc
  QUALIFY row_number()
    OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) = 1
), dup AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
           AS dup_mass
  FROM gc GROUP BY 1
)
SELECT s.doc_id, CAST(n_words AS BIGINT) AS n_words,
  round(n_distinct / CAST(n_words AS DOUBLE), 4) AS distinct_frac,
  top_gram,
  CAST(coalesce(top_cnt, 0) AS BIGINT) AS top_gram_count,
  round(coalesce(top_cnt * length(top_gram), 0)
        / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS top_gram_char_frac,
  round(coalesce(dup_mass, 0)
        / CAST(greatest(n_chars, 1) AS DOUBLE), 4) AS dup_gram_frac
FROM stats s LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
"""),
    # Exact-integer PPS thresholds (operators/sampling.py): same
    # md5 -> 32-bit uniform, same div arithmetic, same %08x rendering.
    "pps_sample": (q_pps_sample, lambda pre: """
WITH w AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents),
x AS (
  SELECT d.*,
    least(4294967296, (100 * n_chars * 4294967296) // w_total) AS t,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS u
  FROM documents d CROSS JOIN w
), y AS (
  SELECT *, CASE WHEN t >= 4294967296 OR u < printf('%08x', t)
                 THEN 1 ELSE 0 END AS keep
  FROM x
)
SELECT lang, count(*) AS n_total,
       CAST(sum(keep) AS BIGINT) AS n_sampled,
       CAST(sum(doc_id * keep) AS BIGINT) AS sampled_id_sum,
       CAST(sum(n_chars * keep) AS BIGINT) AS sampled_w_sum,
       round(CAST(sum(t) AS DOUBLE) / 4294967296, 4) AS expected_n
FROM y GROUP BY lang
"""),
    "psi_drift": (q_psi_drift, lambda pre: """
WITH d AS (
  SELECT source AS grp,
         length(bin(greatest(
           len(string_split_regex(trim(coalesce(text, '')), '\\s+')), 1
         ))) AS bin
  FROM documents
),
gb AS (SELECT grp, bin, count(*) AS c FROM d GROUP BY 1, 2),
corpus AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM gb GROUP BY 1),
gtot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_docs FROM gb GROUP BY 1),
tot AS (SELECT CAST(sum(cb) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_bins FROM corpus),
dom AS (SELECT * FROM gtot CROSS JOIN corpus CROSS JOIN tot),
j AS (
  SELECT dom.grp, dom.n_docs, dom.n_bins,
         (coalesce(gb.c, 0) + 0.5)
           / (dom.n_docs + 0.5 * dom.n_bins) AS q,
         (dom.cb + 0.5) / (dom.n_total + 0.5 * dom.n_bins) AS p
  FROM dom LEFT JOIN gb ON gb.grp = dom.grp AND gb.bin = dom.bin
)
SELECT grp AS source, max(n_docs) AS n_docs, max(n_bins) AS n_bins,
       round(sum((q - p) * ln(q / p)), 4) AS psi
FROM j GROUP BY 1
"""),
    "data_budget": (q_data_budget, lambda pre: """
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(pow(n_tokens, 0.7)) AS ta FROM per),
plan AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens, 0.7) / ta, 6) AS alpha_share
  FROM per CROSS JOIN tot
),
plan2 AS (SELECT *, 30000.0 * alpha_share AS alloc FROM plan),
plan3 AS (
  SELECT source, n_docs, n_tokens, alpha_share,
         CAST(floor(alloc) AS BIGINT) AS alloc_tokens,
         round(alloc / n_tokens, 4) AS epochs,
         alloc > n_tokens AS oversampled,
         CAST(floor(least(1.0, alloc / n_tokens) * 65536.0) AS BIGINT)
           AS thr
  FROM plan2
),
k AS (
  SELECT d.source, d.doc_id,
         len(string_split_regex(trim(d.text), '\\s+')) AS ntok,
         CASE WHEN p.thr >= 65536 THEN 1
              WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                     < printf('%04x', p.thr) THEN 1
              ELSE 0 END AS kp
  FROM documents d JOIN plan3 p USING (source)
),
ka AS (
  SELECT source, CAST(sum(kp) AS BIGINT) AS n_kept,
         CAST(sum(ntok * kp) AS BIGINT) AS kept_tokens,
         CAST(sum(doc_id * kp) AS BIGINT) AS kept_id_sum
  FROM k GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_tokens, p.alpha_share, p.alloc_tokens,
       p.epochs, p.oversampled, ka.n_kept, ka.kept_tokens, ka.kept_id_sum
FROM plan3 p JOIN ka USING (source)
"""),
    "zipf_fit": (q_zipf_fit, lambda pre: """
WITH tok AS (
  SELECT source,
         unnest(list_filter(
           string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
           x -> x <> '')) AS t
  FROM documents
), grain AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT source, t, c,
         row_number() OVER (PARTITION BY source
                            ORDER BY c DESC, t ASC) AS r
  FROM grain
), top AS (
  SELECT source, c,
         ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE r <= 128
), s AS (
  SELECT source, count(*) AS n_top, CAST(sum(c) AS BIGINT) AS top_mass,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(x * y) AS sxy, sum(y * y) AS syy
  FROM top GROUP BY 1
)
SELECT source, n_top, top_mass,
  round(CASE WHEN n_top * sxx - sx * sx > 1e-9
             THEN (n_top * sxy - sx * sy) / (n_top * sxx - sx * sx)
        END, 6) AS zipf_slope,
  round((sy - CASE WHEN n_top * sxx - sx * sx > 1e-9
                   THEN (n_top * sxy - sx * sy) / (n_top * sxx - sx * sx)
              END * sx) / n_top, 6) AS zipf_intercept,
  round(CASE WHEN n_top * sxx - sx * sx > 1e-9
              AND n_top * syy - sy * sy > 1e-9
             THEN (n_top * sxy - sx * sy) * (n_top * sxy - sx * sy)
                  / ((n_top * sxx - sx * sx) * (n_top * syy - sy * sy))
        END, 6) AS r2
FROM s
"""),
    "shard_plan": (q_shard_plan, lambda pre: """
WITH n AS (
  SELECT source, doc_id,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS ntok
  FROM documents
), c AS (
  SELECT source, ntok,
         sum(ntok) OVER (ORDER BY source, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - ntok AS doc_start
  FROM n
)
SELECT CAST(doc_start // 1000 AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS shard_tokens,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(min(doc_start) AS BIGINT) AS start_token,
       CAST(max(doc_start + ntok) AS BIGINT) AS end_token
FROM c GROUP BY 1
"""),
    "pmi_bigrams": (q_pmi_bigrams, lambda pre: """
WITH toks AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                     x -> length(x) >= 1) AS t
  FROM documents
), idx AS (
  SELECT source, t, unnest(generate_series(1, length(t) - 1)) AS i
  FROM toks
), ex AS (
  SELECT source, t[i] AS w1, t[i + 1] AS w2 FROM idx
), grain AS (
  SELECT source, w1, w2, count(*) AS c12 FROM ex GROUP BY 1, 2, 3
), l AS (
  SELECT source, w1, CAST(sum(c12) AS BIGINT) AS cl
  FROM grain GROUP BY 1, 2
), r AS (
  SELECT source, w2, CAST(sum(c12) AS BIGINT) AS cr
  FROM grain GROUP BY 1, 2
), tt AS (
  SELECT source, CAST(sum(c12) AS BIGINT) AS nb FROM grain GROUP BY 1
), j AS (
  SELECT g.source, g.w1, g.w2, g.c12,
         ln(CAST(g.c12 AS DOUBLE) * CAST(nb AS DOUBLE)
            / (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))) AS pmi
  FROM grain g
  JOIN l USING (source, w1)
  JOIN r USING (source, w2)
  JOIN tt USING (source)
  WHERE g.c12 >= 5
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rank
  FROM j
)
SELECT source, w1, w2, c12 AS n_pair, round(pmi, 6) AS pmi,
       CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 10
"""),
    "dp_counts": (q_dp_counts, lambda pre: """
WITH a AS (
  SELECT source AS grp, count(*) AS true_count FROM documents GROUP BY 1
), u AS (
  SELECT grp, true_count,
         CAST(('0x' || substr(md5('' || grp), 1, 8)) AS BIGINT)
           / 4294967296.0 - 0.5 AS v
  FROM a
), nz AS (
  SELECT grp, true_count,
         -1.0 * sign(v) * ln(greatest(1.0 - 2.0 * abs(v), 1e-12)) AS noise
  FROM u
)
SELECT grp AS source, true_count,
       1.0 AS epsilon,
       round(noise, 4) AS noise,
       round(true_count + noise, 4) AS released_count
FROM nz
"""),
    "ks_drift": (q_ks_drift, lambda pre: """
WITH n AS (
  SELECT source AS grp,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS l
  FROM documents
), g AS (
  SELECT grp, l, count(*) AS c FROM n GROUP BY 1, 2
), corp AS (
  SELECT l, CAST(sum(c) AS BIGINT) AS cc FROM g GROUP BY 1
), ns AS (
  SELECT grp, CAST(sum(c) AS BIGINT) AS n_s FROM g GROUP BY 1
), tot AS (SELECT CAST(sum(cc) AS BIGINT) AS n_tot FROM corp),
dom AS (SELECT l AS d FROM corp),
ccum AS (
  SELECT dom.d, CAST(sum(corp.cc) AS BIGINT) AS ccum
  FROM dom JOIN corp ON corp.l <= dom.d GROUP BY 1
), sd AS (
  SELECT ns.grp, ns.n_s, dom.d FROM ns CROSS JOIN dom
), scum AS (
  SELECT sd.grp, sd.d, sd.n_s,
         CAST(coalesce(sum(g.c), 0) AS BIGINT) AS scum
  FROM sd LEFT JOIN g ON g.grp = sd.grp AND g.l <= sd.d
  GROUP BY 1, 2, 3
), j AS (
  SELECT scum.grp, scum.d, scum.n_s,
         CASE WHEN n_tot > scum.n_s THEN
           abs(scum.scum * 1.0 / scum.n_s
               - (ccum.ccum - scum.scum) * 1.0 / (n_tot - scum.n_s))
         END AS dev
  FROM scum JOIN ccum USING (d) CROSS JOIN tot
), mx AS (
  SELECT grp, max(n_s) AS n_docs, max(dev) AS mdev FROM j GROUP BY 1
), at AS (
  SELECT j.grp, min(j.d) AS ks_at
  FROM j JOIN mx ON j.grp = mx.grp AND j.dev = mx.mdev
  GROUP BY 1
)
SELECT mx.grp AS source, mx.n_docs, round(mx.mdev, 6) AS ks_stat,
       CAST(at.ks_at AS BIGINT) AS ks_at
FROM mx LEFT JOIN at ON mx.grp = at.grp
"""),
    "tokenizer_fertility": (q_tokenizer_fertility, None),
    "weighted_sample": (q_weighted_sample, lambda pre: """
WITH r AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
         ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) + 1) / 4294967297.0)
         / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
), rk AS (
  SELECT source, doc_id, weight,
         row_number() OVER (PARTITION BY source
                            ORDER BY k DESC, doc_id ASC) AS rank
  FROM r
)
SELECT source, doc_id, weight, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
"""),
    "lang_confusion": (q_lang_confusion, lambda pre: _lang_confusion_sql()),
    "corpus_gini": (q_corpus_gini, lambda pre: """
WITH g AS (
  SELECT source,
    CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
             ELSE len(string_split_regex(trim(coalesce(text, '')),
                                         '\\s+')) END) AS BIGINT) AS x
  FROM documents GROUP BY 1
), p AS (
  SELECT CAST(sum(abs(a.x - b.x)) AS BIGINT) AS sad
  FROM g a CROSS JOIN g b
), t AS (
  SELECT count(*) AS n_sources,
         CAST(sum(x) AS BIGINT) AS total_tokens,
         CAST(max(x) AS BIGINT) AS max_tokens,
         CAST(min(x) AS BIGINT) AS min_tokens
  FROM g
)
SELECT n_sources, total_tokens, max_tokens, min_tokens,
       round(CAST(sad AS DOUBLE)
             / (2.0 * CAST(n_sources AS DOUBLE)
                * CAST(total_tokens AS DOUBLE)), 6) AS gini
FROM p CROSS JOIN t
"""),
    "epoch_plan": (q_epoch_plan, lambda pre: """
WITH per AS (
  SELECT source,
         CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(pow(n_tokens, 0.7)) AS ta FROM per),
plan AS (
  SELECT source, n_tokens, round(pow(n_tokens, 0.7) / ta, 6) AS share
  FROM per CROSS JOIN tot
),
plan2 AS (
  SELECT source,
    least(CAST(floor(60000.0 * share / n_tokens) AS BIGINT), 64)
      AS nfull,
    CAST(floor((60000.0 * share / n_tokens
                - floor(60000.0 * share / n_tokens)) * 65536.0)
         AS BIGINT) AS thr
  FROM plan
),
x AS (
  SELECT d.source, d.doc_id, p.nfull, p.thr, u.epoch
  FROM documents d JOIN plan2 p USING (source),
       unnest(generate_series(1, p.nfull + 1)) AS u(epoch)
)
SELECT source, doc_id, epoch,
       md5(CAST(doc_id AS VARCHAR) || '@' || CAST(epoch AS VARCHAR))
         AS order_key
FROM x
WHERE epoch <= nfull
   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < printf('%04x', thr)
"""),
    "chi2_drift": (q_chi2_drift, lambda pre: """
WITH gb AS (
  SELECT source AS grp, lang AS cat, count(*) AS c
  FROM documents GROUP BY 1, 2
), corpus AS (SELECT cat, sum(c) AS cc FROM gb GROUP BY 1),
gtot AS (SELECT grp, sum(c) AS n_docs FROM gb GROUP BY 1),
tot AS (SELECT sum(cc) AS n_total, count(*) AS n_cats FROM corpus),
dom AS (SELECT * FROM gtot CROSS JOIN corpus CROSS JOIN tot),
j AS (
  SELECT d.grp, d.n_docs, d.n_cats,
         CAST(coalesce(g.c, 0) AS DOUBLE) AS obs,
         CAST(d.n_docs AS DOUBLE) * d.cc / d.n_total AS exp
  FROM dom d LEFT JOIN gb g ON d.grp = g.grp AND d.cat = g.cat
)
SELECT grp AS source, CAST(max(n_docs) AS BIGINT) AS n_docs,
       CAST(max(n_cats) AS BIGINT) AS n_cats,
       round(sum((obs - exp) * (obs - exp) / exp), 4) AS chi2
FROM j GROUP BY 1
"""),
    "readability": (q_readability, lambda pre: """
WITH s AS (
  SELECT source,
    lower(trim(coalesce(text, ''))) AS low
  FROM documents
), c AS (
  SELECT source,
    CASE WHEN length(low) = 0 THEN 0
         ELSE len(string_split_regex(low, '\\s+')) END AS words,
    len(regexp_extract_all(low, '[.!?]+')) AS sentences,
    len(regexp_extract_all(low, '[aeiouy]+')) AS syllables
  FROM s
), a AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(words) AS BIGINT) AS n_words,
         CAST(sum(sentences) AS BIGINT) AS n_sentences,
         CAST(sum(syllables) AS BIGINT) AS n_syllables
  FROM c GROUP BY 1
)
SELECT source, n_docs, n_words, n_sentences, n_syllables,
       round(0.39 * (n_words * 1.0 / greatest(n_sentences, 1))
             + 11.8 * (n_syllables * 1.0 / greatest(n_words, 1))
             - 15.59, 4) AS fk_grade
FROM a
"""),
    "vocab_stats": (q_vocab_stats, lambda pre: """
WITH tok AS (
  SELECT source,
    unnest(list_filter(
      string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
      x -> x <> '')) AS t
  FROM documents
), g AS (
  SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       round(count(*) * 1.0 / sum(c), 6) AS type_token_ratio,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS hapax_share
FROM g GROUP BY 1
"""),
    "curriculum_stages": (q_curriculum_stages, lambda pre: """
WITH s AS (
  SELECT doc_id,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS difficulty
  FROM documents
), g AS (
  SELECT difficulty, count(*) AS cnt FROM s GROUP BY 1
), cum AS (
  SELECT difficulty, cnt,
         sum(cnt) OVER (ORDER BY difficulty) AS c
  FROM g
), st AS (
  SELECT difficulty, cnt,
         (c * 4 + (SELECT count(*) FROM s) - 1)
           // (SELECT count(*) FROM s) AS stage
  FROM cum
), sz AS (
  SELECT stage, CAST(sum(cnt) AS BIGINT) AS stage_size
  FROM st GROUP BY 1
)
SELECT s.doc_id, CAST(s.difficulty AS BIGINT) AS difficulty,
       CAST(st.stage AS BIGINT) AS stage, sz.stage_size
FROM s JOIN st USING (difficulty) JOIN sz USING (stage)
"""),
    "length_buckets": (q_length_buckets, lambda pre: """
WITH s AS (
  SELECT CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS ntok
  FROM documents
), b AS (
  SELECT ntok,
    CASE WHEN ntok <= 32 THEN 32 WHEN ntok <= 64 THEN 64
         WHEN ntok <= 128 THEN 128 ELSE 256 END AS bucket_cap,
    least(ntok, 256) AS billed,
    CASE WHEN ntok > 256 THEN 1 ELSE 0 END AS trunc
  FROM s
), a AS (
  SELECT bucket_cap, count(*) AS n_docs,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         CAST(sum(billed) AS BIGINT) AS billed,
         CAST(sum(trunc) AS BIGINT) AS n_truncated
  FROM b GROUP BY 1
)
SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap, n_docs, n_tokens,
       n_truncated,
       CAST(bucket_cap * n_docs - billed AS BIGINT) AS pad_tokens,
       round((bucket_cap * n_docs - billed) * 1.0 / (bucket_cap * n_docs),
             6) AS waste_share
FROM a
"""),
    "fixed_k_sample": (q_fixed_k_sample, lambda pre: """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 50
"""),
}
