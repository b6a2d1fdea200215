"""Deduplication operators for training-data pipelines (documents table).

Scale notes (the point of each design):

* exact: hash-groupBy on a content digest — one shuffle of (hash, id), never
  of the text bytes themselves at the final stage.
* MinHash + LSH: shingle -> minhash signature -> band buckets -> candidate
  pairs via a self-equi-join *on the band key only* (no O(n^2) cross join);
  verification re-computes exact Jaccard only for candidates.
* SimHash: 64-bit signature from token hashes; near-dups = identical
  signature buckets (or small Hamming distance within buckets).
* n-gram Jaccard: exact pairwise similarity restricted to pairs sharing at
  least one shingle (inverted-index join), again avoiding the cross join.

Everything is built from built-in functions (`xxhash64`, higher-order array
ops); no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_MINHASH = 32
N_BANDS = 8  # rows per band = N_MINHASH / N_BANDS = 4


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: digest, copy count, survivor id."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keep_doc_id"),
    )


def fingerprint_store(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct canonical fingerprints of a corpus slice — the persisted
    dedup state an incremental curation pipeline carries between runs.
    One row per fingerprint (md5 of whitespace-collapsed lowercase) with
    the surviving doc id. Write with ``.write.parquet(path)``; the store
    grows by distinct-new-content only, never by corpus size."""
    canon = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return docs.groupBy(F.md5(canon).alias("fingerprint")).agg(
        F.min("doc_id").alias("keep_doc_id")
    )


def incremental_dedup(
    new_docs: DataFrame, store: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Classify an incoming batch against the persisted fingerprint store:
    each incoming doc is ``dup_store`` (content already seen in a prior
    run), ``dup_batch`` (first seen earlier IN this batch), or ``kept``
    (genuinely new — its fingerprint joins the store for the next run).

    Returns per-(lang, status) counts. The composition invariant — running
    batch dedup over (seen + incoming) equals dedup(seen) followed by
    incremental_dedup(incoming, store(seen)) — is pinned by test.

    Scale shape: fingerprints are computed in ONE scan of the incoming
    batch; the store probe is an equi-join ON THE DIGEST (never text) —
    broadcastable while the store is small, degrading gracefully to a
    shuffle join at web scale (both sides are digest-grain, i.e. already
    deduplicated and as small as the problem allows); first-in-batch is a
    digest-grain min + join-back, no window over raw rows.
    """
    canon = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    fp = new_docs.select(
        "doc_id", "lang", F.md5(canon).alias("fingerprint")
    )
    first = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("_first_id")
    )
    seen = store.select("fingerprint").withColumn("_in_store", F.lit(True))
    status = (
        F.when(F.col("_in_store"), F.lit("dup_store"))
        .when(F.col("doc_id") != F.col("_first_id"), F.lit("dup_batch"))
        .otherwise(F.lit("kept"))
    )
    return (
        fp.join(first, "fingerprint")
        .join(seen, "fingerprint", "left")
        .fillna(False, ["_in_store"])
        .groupBy("lang", status.alias("status"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, shingle-hash array) with word n-gram shingles.

    Two performance constraints shape the expression (HOF lambdas are
    interpreted — no whole-stage codegen, no common-subexpression
    elimination inside the lambda):

    * the token split is materialized as a column FIRST, else Catalyst
      inlines it and the split re-runs once per array element;
    * the n-gram is n ``element_at`` lookups, not ``slice`` — slice
      allocates a fresh array per element. Together: 26x faster at sf0.1
      (18 s -> 0.7 s), byte-identical shingle hashes (``idx`` stops at
      size-n, so every element_at index is in bounds)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j + 1) for j in range(n)]
    )
    shingles = F.when(
        F.size(t) >= n, F.transform(idx, lambda i: F.xxhash64(gram(i)))
    ).otherwise(F.array(F.xxhash64(F.concat_ws(" ", t))))
    return docs.select("doc_id", toks.alias("_toks")).select(
        "doc_id", F.array_distinct(shingles).alias("shingles")
    )


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature per doc: min over shingles of xxhash64(shingle, i).

    Each "permutation" i is the seeded 64-bit hash family
    ``xxhash64(shingle_hash, lit(i))`` — deterministic, integer-only, and
    codegen-friendly (the earlier decimal(38,0) multiply-mod chain was
    ~10x more expensive per shingle). One `transform` + `array_min` per
    hash function, all JVM-side.
    """
    def _perm(i: int):
        # MUST be an arity-1 closure: PySpark passes (element, index) to a
        # two-parameter transform() lambda, and `lambda h, i=i:` counts as
        # two parameters — the array POSITION would silently overwrite the
        # captured hash-function index, collapsing all n signature
        # positions into one position-dependent function (caught by the
        # 500k-doc soak: every band identical, candidates tracked raw
        # boilerplate overlap instead of Jaccard).
        return lambda h: F.xxhash64(h, F.lit(i))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("shingles"), _perm(i)))
            for i in range(n_hashes)
        ]
    )
    return shingled.select("doc_id", "shingles", sig.alias("signature"))


def lsh_candidate_pairs(
    signed: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_MINHASH
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket."""
    rows_per_band = n_hashes // n_bands
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("signature")[b * rows_per_band + r]
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(n_bands)
            ]
        )
    )
    banded = signed.select("doc_id", bands.alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _capped_inverted_index(
    shingled: DataFrame, max_df: int | None
) -> tuple[DataFrame, DataFrame]:
    """(inverted index, per-doc sizes), optionally dropping stop-grams.

    At web scale a stop-word shingle ("of the and") appears in a constant
    fraction of ALL documents, so its posting list alone generates
    O(corpus^2) candidate pairs — the one part of the inverted-index join
    that does not survive a 100x scale-up. ``max_df`` drops shingles whose
    document frequency exceeds the cap (the standard stop-gram filter in
    web-dedup pipelines): per-shingle fan-out is then bounded by
    max_df^2/2 pairs, making the whole join linear in corpus size. The hot
    list is tiny by construction (only shingles above the cap), so the
    anti-join broadcasts.

    Similarity is then computed over the FILTERED shingle sets (sizes count
    surviving shingles only) — the documented semantics: ubiquitous
    n-grams carry no dedup signal. Docs whose shingles are all stop-grams
    drop out of the pair graph entirely.
    """
    # explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate adds
    # a `size(arr) > 0` pre-filter to inner explode, and predicate pushdown
    # then re-inlines the whole shingle HOF (split per element_at!) into
    # that filter — the array expression evaluates O(len) extra times per
    # row (measured 6x on the sf0.1 pair join). The outer variant gets no
    # inferred filter; shingle arrays are never empty and elements are
    # never null (xxhash64 output), so the isNotNull guard only restores
    # inner semantics for defensive completeness.
    inv = shingled.select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).where(F.col("shingle").isNotNull())
    if max_df is None:
        sizes = shingled.select(
            "doc_id", F.size("shingles").alias("n_shingles")
        )
        return inv, sizes
    hot = (
        inv.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > max_df)
        .select("shingle")
    )
    inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = inv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    return inv, sizes


# Default stop-gram document-frequency cap: bounds any single shingle's
# candidate fan-out to DEFAULT_MAX_DF^2/2 pairs, keeping the inverted-index
# join linear in corpus size. Far above any df seen at test scale, so small
# corpora are unaffected; at web scale it is the safety rail.
DEFAULT_MAX_DF = 10_000


def exact_jaccard(
    shingled: DataFrame,
    min_jaccard: float = 0.0,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via inverted-index join.

    Pairs are generated only for docs sharing >=1 shingle (explode + self
    equi-join on the shingle hash), then |intersection| is a group count and
    |union| = |A| + |B| - |intersection|. With ``max_df`` set (the DEFAULT:
    a stop-word shingle's posting list is the one O(corpus^2) blow-up in
    this plan), stop-grams are removed first (see _capped_inverted_index)
    and the Jaccard is over the filtered sets. Pass ``max_df=None``
    EXPLICITLY to opt in to the uncapped truly-exact form — appropriate
    only for bounded corpora (oracle parity runs, verification samples),
    never as the web-scale default.
    """
    inv, sizes = _capped_inverted_index(shingled, max_df)
    pairs = (
        inv.alias("l")
        .join(
            inv.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # no broadcast hint: `sizes` is one row per document — tiny at test
    # scale (AQE will still pick a broadcast join) but a driver-OOM if
    # forced at 10^9 docs; the equi-join degrades gracefully to shuffle
    with_sizes = (
        pairs.join(
            sizes.withColumnsRenamed(
                {"doc_id": "doc_a", "n_shingles": "size_a"}
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed(
                {"doc_id": "doc_b", "n_shingles": "size_b"}
            ),
            "doc_b",
        )
    )
    # filter on the UNROUNDED ratio (the oracles do the same); round only
    # the displayed column — else a pair at the threshold boundary could
    # round up into the result on one engine and not the other
    raw = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        with_sizes.where(raw >= min_jaccard)
        .withColumn("jaccard", F.round(raw, 6))
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def minhash_near_dups(
    docs: DataFrame, min_jaccard: float = 0.5, n: int = 3
) -> DataFrame:
    """Full MinHash+LSH pipeline: candidates -> exact-Jaccard verification.

    Verification is O(|candidates|): the LSH candidate pairs are joined back
    to the shingle arrays (broadcast when small, shuffle hash join otherwise)
    and Jaccard is computed per pair with array_intersect/array_union — the
    full inverted-index pairwise join never runs, so the LSH stage actually
    prunes work at scale.
    """
    sh = word_shingles(docs, n=n)
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    arrays = sh.select("doc_id", "shingles")
    scored = (
        cands.join(
            arrays.withColumnsRenamed(
                {"doc_id": "doc_a", "shingles": "sh_a"}
            ),
            "doc_a",
        )
        .join(
            arrays.withColumnsRenamed(
                {"doc_id": "doc_b", "shingles": "sh_b"}
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("_raw"),
        )
    )
    # unrounded threshold, rounded display (same contract as exact_jaccard)
    return scored.where(F.col("_raw") >= min_jaccard).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.round("_raw", 6).alias("jaccard"),
    )


def dup_ngram_rate(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document duplicated n-gram fraction (memorization-risk audit).

    For each document: the share of its distinct word n-grams that also
    occur in at least one OTHER document — the 'duplicate n-gram fraction'
    used by web-corpus curation pipelines to find boilerplate-heavy or
    partially-copied documents that exact/near dedup misses.

    Scale shape: explode → shingle-df hash-agg → equi-join back on the
    shingle hash → per-doc hash-agg. No pair join at all, so hot shingles
    cost one aggregation row each, never quadratic fan-out.
    """
    sh = word_shingles(docs, n=n)
    # explode_outer: see _capped_inverted_index for the
    # InferFiltersFromGenerate duplication this avoids
    inv = sh.select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    ).where(F.col("shingle").isNotNull())
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        inv.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") >= 2).cast("long")).alias("n_dup_shingles"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup_shingles",
            F.round(
                F.col("n_dup_shingles") / F.col("n_shingles"), 4
            ).alias("dup_rate"),
        )
    )


def cross_split_containment(
    docs: DataFrame,
    test_pred,
    min_containment: float = 0.5,
    n: int = 3,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Train/test contamination check: best n-gram containment of each
    *test* document inside any *train* document.

    containment(T in R) = |shingles(T) ∩ shingles(R)| / |shingles(T)| — the
    asymmetric overlap used for benchmark-leakage audits (a short test doc
    fully quoted inside a long train doc scores 1.0 even though its Jaccard
    is tiny).

    Scale shape: the pair space is generated by an inverted-index equi-join
    on the shingle hash *across the split boundary only* (test side joins
    train side — never test x test or train x train), then one hash-agg per
    surviving pair and a per-test-doc argmax window over the aggregated
    candidates (bounded by candidates per doc, not corpus size). Ties break
    deterministically (containment desc, train doc id asc).
    """
    base_inv, sizes = _capped_inverted_index(word_shingles(docs, n=n), max_df)
    flags = docs.select("doc_id", test_pred.alias("is_test"))
    inv = base_inv.join(flags, "doc_id")
    pairs = (
        inv.where(F.col("is_test")).alias("t")
        .join(
            inv.where(~F.col("is_test")).alias("r"),
            F.col("t.shingle") == F.col("r.shingle"),
        )
        .groupBy(
            F.col("t.doc_id").alias("doc_id"),
            F.col("r.doc_id").alias("train_doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    test_sizes = sizes.join(flags.where(F.col("is_test")), "doc_id").select(
        "doc_id", "n_shingles"
    )
    scored = pairs.join(test_sizes, "doc_id").withColumn(
        "containment",
        F.round(F.col("n_common") / F.col("n_shingles"), 6),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("containment"), F.asc("train_doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("containment") >= min_containment))
        .select("doc_id", "train_doc_id", "n_common", "containment")
    )


def _simhash_token_hashes(text_col: str):
    """xxhash64 per distinct whitespace token, computed JVM-side."""
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != F.lit(""),
        )
    )
    return F.transform(toks, lambda t: F.xxhash64(t))


# per-bit signature weights as int64 two's complement (bit 63 = sign bit)
_SIMHASH_BIT_VALS = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def simhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from whitespace-token hashes.

    For each bit b: sign = sum over tokens of (+1 if bit set else -1);
    signature bit = 1 when sum > 0 (so the signature's bit-63 contribution
    is -(1<<63) in int64 two's complement).

    ONE pass over the token-hash array — a single ``F.aggregate`` folding
    into a 64-slot vote-counter array (the pre-round-5 formulation ran 64
    separate aggregates, re-scanning the array per bit). Votes are checked
    against a Python count over the same token hashes (test_dedup), and
    the sf0.001 output is pinned to a golden fingerprint.
    """
    # NULL text folds to the zero signature, as pre-round-5 (votes NULL ->
    # every bit's when() falls to otherwise(0)); coalesce preserves that
    hashes = F.coalesce(
        _simhash_token_hashes(text_col), F.array().cast("array<bigint>")
    )
    # one fold over tokens; per token, a 64-wide zip_with adds +-1 votes
    # (the bit-value mask doubles as the bit test: h & mask != 0)
    bit_vals = F.array(
        *[F.lit(v).cast("long") for v in _SIMHASH_BIT_VALS]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            bit_vals,
            lambda a, bv: a
            + F.when(h.bitwiseAND(bv) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            bit_vals,
            lambda v, bv: F.when(v > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(docs: DataFrame) -> DataFrame:
    """Docs whose SimHash signatures collide exactly (strong near-dup)."""
    sigs = simhash_signatures(docs)
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(
    docs: DataFrame, max_hamming: int = 3, max_block_df: int | None = 100_000
) -> DataFrame:
    """All doc pairs within Hamming distance ``max_hamming`` of each
    other's 64-bit SimHash — the Manku/Jain/Das Sarma web-dedup algorithm
    (WWW'07, public literature), COMPLETE by the pigeonhole argument:
    split the signature into ``max_hamming + 1`` blocks; two signatures
    differing in <= max_hamming bits must agree EXACTLY on at least one
    block (the differing bits occupy at most max_hamming blocks). So

        candidates = equi-join on (block index, block value)
        result     = candidates where bit_count(a XOR b) <= max_hamming

    never misses a true pair, and the verify filter (one XOR + popcount,
    whole-stage codegen) removes the false candidates.

    Scale shape: the join is a plain equi-join on a 64/(d+1)-bit block
    value — bucket sizes are block-collision counts, not corpus size.
    A degenerate block (e.g. bit positions that are constant across the
    corpus because every document shares boilerplate tokens) would make
    one bucket the whole corpus, so ``max_block_df`` drops blocks whose
    value-frequency exceeds the cap, exactly like the stop-gram df cap in
    the inverted-index join — with the same documented semantics: pairs
    agreeing ONLY on dropped blocks are missed (at the default cap this
    needs 100k+ signatures sharing a 16-bit block value). Pass
    ``max_block_df=None`` for the uncapped, strictly-complete form.

    Output: doc_a, doc_b (doc_a < doc_b), hamming.
    """
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    sigs = simhash_signatures(docs).select("doc_id", "simhash")
    blocks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        # shiftrightunsigned: the sign bit is data here
                        F.expr(
                            f"shiftrightunsigned(simhash, {b * width}) & "
                            f"{(1 << width) - 1}"
                        ).alias("val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", F.col("bb.blk").alias("blk"),
             F.col("bb.val").alias("val"))
    if max_block_df is not None:
        hot = (
            blocks.groupBy("blk", "val")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > max_block_df)
            .select("blk", "val")
        )
        blocks = blocks.join(F.broadcast(hot), ["blk", "val"], "left_anti")
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["blk", "val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("_sa"),
            F.col("b.simhash").alias("_sb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.expr("_sa ^ _sb"))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def duplicated_spans(
    docs: DataFrame, k: int = 5, text_col: str = "text"
) -> DataFrame:
    """Exact duplicated-substring spans per document — the token-grain
    analogue of the ExactSubstr suffix-array dedup in "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., 2021),
    re-expressed Spark-first: no suffix array; a corpus-frequency window
    over k-gram fingerprints finds every token position whose k-token
    window recurs ANYWHERE in the corpus (intra- or inter-document, the
    paper's semantics), then a running-max interval union merges the
    overlapping windows into maximal duplicated spans.

    Output (one row per doc): n_tokens, n_dup_spans, dup_tokens (tokens
    covered by at least one recurring window — an EXACT covered-token
    count, not a sum of window lengths), dup_frac, longest_dup_span.

    Scale shape (text bytes are never shuffled):
    1. tokens + per-position k-gram md5 fingerprints in ONE narrow
       projection (split materialized first, grams are k ``element_at``
       lookups — the `word_shingles` HOF discipline); md5 keeps the
       DuckDB oracle bit-identical — swap ``xxhash64`` in production for
       8-byte shuffle keys.
    2. position duplication = ``count >= 2`` over a fingerprint-
       partitioned window: ONE exchange whose rows are
       (doc_id, pos, digest).
    3. the surviving duplicated minority is merged per doc with a
       running-max interval union over [p, p+k-1] windows (ONE doc_id
       exchange; spans merge when they overlap or touch, so coverage is
       never double-counted and there is NO k-times row expansion). The
       span-grain and doc-grain groupBys reuse the doc_id partitioning
       (HashPartitioning(doc_id) satisfies both clusterings) — no
       further exchange.
    4. the join back to per-doc token counts is doc-grain rows only.
    """
    from pyspark.sql.window import Window

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    t = F.col("_toks")
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j + 1) for j in range(k)]
    )
    grams = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - k), lambda i: F.md5(gram(i))
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    base = docs.select("doc_id", toks.alias("_toks"))
    sizes = base.select(
        "doc_id", F.size("_toks").cast("long").alias("n_tokens")
    )
    # posexplode_outer, not posexplode: inner explode over a COMPUTED
    # array gets an inferred size(arr)>0 filter that re-evaluates the
    # whole gram expression per row (see _capped_inverted_index).
    pos_grams = base.select(
        "doc_id", F.posexplode_outer(grams).alias("pos", "ghash")
    ).where(F.col("ghash").isNotNull())
    w_g = Window.partitionBy("ghash")
    dup_pos = (
        pos_grams.withColumn("n_occ", F.count(F.lit(1)).over(w_g))
        .where(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        w_d.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup_pos.withColumn(
        "new_span",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            w_d.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = (
        marked.groupBy("doc_id", "span_id")
        .agg(
            (F.max("pos") + (k - 1) - F.min("pos") + 1)
            .cast("long")
            .alias("span_len")
        )
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("span_len").alias("dup_tokens"),
        F.max("span_len").alias("longest_dup_span"),
    )
    zero = F.lit(0).cast("long")
    return sizes.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_spans", zero).alias("n_dup_spans"),
        F.coalesce("dup_tokens", zero).alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", zero) / F.col("n_tokens"), 4
        ).alias("dup_frac"),
        F.coalesce("longest_dup_span", zero).alias("longest_dup_span"),
    )


def ngram_novelty(
    docs: DataFrame,
    test_pred,
    n: int = 3,
) -> DataFrame:
    """Corpus-level n-gram novelty of each *test* document: the fraction
    of its DISTINCT word n-grams that appear NOWHERE in the train split —
    the GPT-3-style decontamination audit at corpus grain.  Complements
    ``cross_split_containment`` (pairwise max containment in any single
    train doc): a test doc stitched together from MANY train docs scores
    low pairwise containment but near-zero novelty here.

    Output per test doc: doc_id, n_shingles, n_novel, novelty_rate
    (round 6; novel = absent from the train corpus' shingle set).

    Scale shape: shingles ride as xxhash64 values (the word_shingles
    discipline — never shingle text on the wire; the oracle re-derives
    the same sets from raw strings, which cancels in the counts).  The
    train set is deduplicated to distinct shingles FIRST (map-side
    combinable), then one left-semi equi-join on the hash counts each
    test doc's seen shingles — per-shingle fan-out is 1 by construction
    (semi-join against a distinct set), so no df cap is needed: the join
    is linear in test-corpus shingles.
    """
    inv, sizes = _capped_inverted_index(word_shingles(docs, n=n), None)
    flags = docs.select("doc_id", test_pred.alias("is_test"))
    inv = inv.join(flags, "doc_id")
    train_set = (
        inv.where(~F.col("is_test")).select("shingle").distinct()
    )
    seen = (
        inv.where(F.col("is_test"))
        .join(train_set, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    test_sizes = sizes.join(
        flags.where(F.col("is_test")), "doc_id"
    ).select("doc_id", "n_shingles")
    n_novel = F.col("n_shingles") - F.coalesce(
        F.col("n_seen"), F.lit(0).cast("long")
    )
    return test_sizes.join(seen, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        n_novel.cast("long").alias("n_novel"),
        F.round(n_novel / F.col("n_shingles"), 6).alias("novelty_rate"),
    )


def dup_source_matrix(
    docs: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """Cross-source duplicate-leakage matrix: for every unordered source
    pair, how many distinct canonical fingerprints (md5 of
    whitespace-collapsed lowercase — the fingerprint_store canon) occur
    in BOTH sources. The inter-source view of exact dedup: a heavy cell
    means one source is mirroring another's content, which inflates that
    content's effective epoch count under any per-source mixing plan.

    Output grain: one row per source pair with >= 1 shared fingerprint —
    ``(source_a, source_b, n_shared)`` with source_a < source_b.

    Scale shape: one hash-agg to the DISTINCT (fingerprint, source)
    grain (the only full-data exchange — map-side combined, raw text
    never shuffles, only 32-char digests); the pair join then runs on
    that digest-grain frame against itself with ``a.src < b.src`` — each
    fingerprint contributes at most (#sources choose 2) pairs, so the
    join output is bounded by #fingerprints x #source-pairs, linear for
    a bounded source dimension.
    """
    canon = F.lower(
        F.regexp_replace(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
        )
    )
    grain = docs.select(
        F.md5(canon).alias("_fp"), F.col(by).alias("_src")
    ).distinct()
    a = grain.select(F.col("_fp"), F.col("_src").alias("source_a"))
    b = grain.select(F.col("_fp"), F.col("_src").alias("source_b"))
    return (
        a.join(b, "_fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def norm_dedup_gain(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Normalization-reveal audit: how many *additional* duplicates a
    cheap text normalization (lowercase + digit-masking + whitespace
    squeeze) exposes over byte-exact dedup, per group. The standard
    pre-flight before choosing a dedup key at corpus scale — if the gain
    is large, byte-exact dedup is leaving near-identical text (ids,
    timestamps, counters baked into otherwise-identical rows) in the
    training set; if it is ~0, the cheaper exact pass suffices.

    ``norm = trim(regexp_replace(regexp_replace(lower(text), '[0-9]+',
    '#'), '\\s+', ' '))`` — deliberately the same masking DIRECTION as
    `functions/masking.py`'s template pipeline but a fixed 3-step subset,
    so the audit is a pure-Catalyst single scan either engine replays.

    Output grain: one row per group — ``(by, n_rows, n_raw_distinct,
    n_norm_distinct, raw_dup_share, norm_dup_share, reveal_gain)`` where
    ``reveal_gain = (n_raw_distinct - n_norm_distinct) /
    n_raw_distinct``.

    Scale shape: ONE scan; distinct counting runs on md5 digests (fixed
    16-byte shuffle keys, never full text — the repo's dedup idiom); two
    count-distincts in one agg expand to a grouping-set pass, all
    map-side combinable.
    """
    raw = F.coalesce(F.col(text_col), F.lit(""))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(raw), "[0-9]+", "#"), r"\s+", " "
        )
    )
    g = df.select(
        F.col(by).alias("grp"),
        F.md5(raw).alias("rfp"),
        F.md5(norm).alias("nfp"),
    )
    agg = g.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("rfp").alias("n_raw_distinct"),
        F.countDistinct("nfp").alias("n_norm_distinct"),
    )
    return agg.select(
        F.col("grp").alias(by),
        "n_rows",
        "n_raw_distinct",
        "n_norm_distinct",
        F.round(
            (F.col("n_rows") - F.col("n_raw_distinct")) / F.col("n_rows"), 6
        ).alias("raw_dup_share"),
        F.round(
            (F.col("n_rows") - F.col("n_norm_distinct")) / F.col("n_rows"), 6
        ).alias("norm_dup_share"),
        F.round(
            (F.col("n_raw_distinct") - F.col("n_norm_distinct"))
            / F.col("n_raw_distinct"),
            6,
        ).alias("reveal_gain"),
    )


def containment_pairs(
    shingled: DataFrame,
    min_containment: float = 0.5,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join: pairs where the smaller
    document's shingle set is (mostly) a subset of the larger's —
    ``containment = |A ∩ B| / min(|A|, |B|)``. This is the quote/
    excerpt/boilerplate-wrapper detector Jaccard structurally misses: a
    200-token snippet fully embedded in a 20k-token page has containment
    1.0 but Jaccard ~0.01, so a Jaccard-thresholded dedup keeps both and
    the snippet trains twice. (Broder's resemblance vs containment
    distinction — the two have needed separate thresholds since the
    original shingling work.)

    Output grain: one row per pair passing the UNROUNDED threshold —
    ``(doc_a, doc_b, n_common, size_a, size_b, containment, jaccard)``
    (jaccard included for the contrast audit: high-containment/low-
    jaccard rows are the subset relationships).

    Scale shape: identical to `exact_jaccard` — the capped inverted-index
    equi-join (stop-grams dropped, per-shingle fan-out bounded by
    ``max_df^2/2``), pair grain only for docs sharing >=1 surviving
    shingle; sizes join on the filtered sets. No new shuffle surface.
    """
    inv, sizes = _capped_inverted_index(shingled, max_df)
    pairs = (
        inv.alias("l")
        .join(
            inv.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    with_sizes = (
        pairs.join(
            sizes.withColumnsRenamed(
                {"doc_id": "doc_a", "n_shingles": "size_a"}
            ),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed(
                {"doc_id": "doc_b", "n_shingles": "size_b"}
            ),
            "doc_b",
        )
    )
    cont = F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        with_sizes.where(cont >= min_containment)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


def prefix_dups(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Prompt-prefix duplication audit: how much of each group starts
    with the same first-``k`` tokens. SFT and RAG corpora accumulate
    shared openers ("You are a helpful...", boilerplate headers, log
    preambles); full-text dedup keeps them all, but a model trained on
    them overweights the opener distribution — this audit is the number
    reviewed before prefix-aware sampling.

    Output grain: one row per group — ``(by, n_rows, n_prefixes,
    prefix_dup_share, max_prefix_count)`` where ``prefix_dup_share =
    1 - n_prefixes/n_rows`` and ``max_prefix_count`` is the largest
    single-prefix cohort.

    Scale shape: ONE scan; the (group, prefix-digest) hash agg is the
    only full-data exchange and shuffles fixed 16-byte md5 keys (never
    text); the per-group fold then runs on the prefix grain.
    """
    toks = F.filter(
        F.split(
            F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
            r"\s+",
        ),
        lambda x: x != F.lit(""),
    )
    pre = F.md5(F.concat_ws(" ", F.slice(toks, 1, k)))
    grain = (
        df.select(F.col(by).alias("grp"), pre.alias("pfp"))
        .groupBy("grp", "pfp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        grain.groupBy("grp")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_prefixes"),
            F.max("c").alias("max_prefix_count"),
        )
        .select(
            F.col("grp").alias(by),
            "n_rows",
            "n_prefixes",
            F.round(
                F.lit(1.0) - F.col("n_prefixes") / F.col("n_rows"), 6
            ).alias("prefix_dup_share"),
            "max_prefix_count",
        )
    )


def jaccard_threshold_curve(
    shingled: DataFrame,
    max_df: int | None = DEFAULT_MAX_DF,
) -> DataFrame:
    """Dedup-yield curve: how many candidate pairs survive each Jaccard
    threshold 0.1..0.9 — computed in ONE pass over the SAME pair frame
    `exact_jaccard` builds, so choosing a dedup bar stops being
    run-the-pipeline-nine-times. The threshold tests are integer
    cross-multiplications (``10*|∩| >= t*|∪|``) — no float ratio ever
    crosses an engine boundary, so the curve is exact by construction.

    Output grain: one row per threshold tenth — ``(threshold, n_pairs,
    candidate_pairs, share)`` where ``candidate_pairs`` is the full
    >=1-shared-shingle pair count (the curve's denominator, constant
    across rows by design) and the curve is cumulative (a pair at
    jaccard 0.45 counts under thresholds 0.1-0.4).

    Scale shape: the capped inverted-index pair join (the family's
    bounded candidate generator) feeds a pair-grain frame crossJoined
    with a broadcast 9-row threshold dim; the final per-threshold agg is
    map-side combined. Adding the curve costs one extra tiny agg over
    what exact_jaccard already shuffles.
    """
    inv, sizes = _capped_inverted_index(shingled, max_df)
    pairs = (
        inv.alias("l")
        .join(
            inv.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    with_sizes = (
        pairs.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "sa"}),
            "doc_a",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "sb"}),
            "doc_b",
        )
        .select(
            "nc", (F.col("sa") + F.col("sb") - F.col("nc")).alias("un")
        )
    )
    spark = shingled.sparkSession
    tdim = spark.range(1, 10).select(F.col("id").alias("t"))
    tot = with_sizes.agg(F.count(F.lit(1)).alias("candidate_pairs"))
    curve = (
        with_sizes.crossJoin(F.broadcast(tdim))
        .where(F.col("nc") * 10 >= F.col("t") * F.col("un"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # right join the threshold dim so empty tenths still report 0
    full = tdim.join(curve, "t", "left").select(
        "t", F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs")
    )
    return full.crossJoin(F.broadcast(tot)).select(
        (F.col("t") / F.lit(10.0)).alias("threshold"),
        "n_pairs",
        "candidate_pairs",
        F.round(F.col("n_pairs") / F.col("candidate_pairs"), 6).alias(
            "share"
        ),
    )


def dup_evidence(
    docs: DataFrame,
    min_jaccard: float = 0.5,
    n: int = 3,
    k_shingles: int = 3,
) -> DataFrame:
    """Explainability for near-duplicate pairs: for every pair above the
    Jaccard bar, the first ``k_shingles`` SHARED n-grams (as text, sorted)
    — the evidence a reviewer reads before approving a dedup pass, and
    the debugging view when a threshold seems to fuse unrelated docs
    (cf. the conv_near_dups cap lesson: three sample shingles usually
    reveal a boilerplate leak instantly).

    Output grain: one row per qualifying pair — ``(doc_a, doc_b,
    jaccard, shared_examples)`` where shared_examples joins the
    lexicographically first k shared shingle TEXTS with ``' | '`` (a
    plain string keeps the cross-engine hash stable).

    Scale shape: the pair set comes from the standard inverted-index
    join (`exact_jaccard`, capped by default upstream); the evidence
    join-back touches only QUALIFYING pairs (two joins to the per-doc
    string-shingle arrays, array_intersect + slice row-locally). Text
    shingles ship only for pairs under review, never corpus-wide.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    t = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j + 1) for j in range(n)]
    )
    texts = F.when(
        F.size(t) >= n, F.transform(idx, gram)
    ).otherwise(F.array(F.concat_ws(" ", t)))
    shingle_texts = docs.select("doc_id", toks.alias("_toks")).select(
        "doc_id", F.array_distinct(texts).alias("sh")
    )
    pairs = exact_jaccard(
        word_shingles(docs, n=n), min_jaccard=min_jaccard, max_df=None
    ).select("doc_a", "doc_b", "jaccard")
    return (
        pairs.join(
            shingle_texts.withColumnsRenamed(
                {"doc_id": "doc_a", "sh": "sh_a"}
            ),
            "doc_a",
        )
        .join(
            shingle_texts.withColumnsRenamed(
                {"doc_id": "doc_b", "sh": "sh_b"}
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.concat_ws(
                " | ",
                F.slice(
                    F.array_sort(F.array_intersect("sh_a", "sh_b")),
                    1,
                    k_shingles,
                ),
            ).alias("shared_examples"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    n: int = 3,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every POSITIONAL n-gram, then keep the minimum
    hash of each sliding window of ``window`` consecutive positions —
    guaranteeing any match of length >= window+n-1 tokens shares a
    fingerprint, at ~1/window the storage of the full shingle set. The
    space-efficient alternative to `word_shingles` for plagiarism-style
    span matching.

    The n-gram hash is the md5-prefix integer (the cross-engine idiom —
    the winnowing SELECTION depends on hash values, so the hash itself
    must reproduce in the oracle; xxhash64 would not).

    Output grain: ``(doc_id, fingerprints array<bigint> DISTINCT-sorted,
    n_positions, n_fingerprints)`` — feed the array to `exact_jaccard`'s
    machinery (or `containment_pairs`) exactly like a shingle set.

    Scale shape: entirely row-local HOFs (positional grams -> hashes ->
    window minima via element_at folds, never per-element slice); no
    shuffle at all.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+"),
        lambda x: x != F.lit(""),
    )
    t = F.col("_toks")
    n_pos = F.greatest(F.size(t) - n + 1, F.lit(1))
    # try_element_at: docs with fewer than n tokens (including empty
    # text) still produce their single partial gram instead of raising
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI mode — out-of-range
    # positions yield NULL, which concat_ws skips, so the gram is the
    # whole (short) token list. For size >= n every index is in range
    # and this is byte-identical to element_at (the oracle only ever
    # sees >= n-token fixtures; short docs are a Spark-side-only
    # robustness case, pinned by test_winnow_short_docs).
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.try_element_at(t, i + j + 1) for j in range(n)]
    )
    hashes = F.transform(
        F.sequence(F.lit(0), n_pos - 1),
        lambda i: F.conv(F.substring(F.md5(gram(i)), 1, 8), 16, 10).cast(
            "long"
        ),
    )
    h = F.col("_h")
    n_wins = F.greatest(F.size(h) - window + 1, F.lit(1))
    win_min = F.transform(
        F.sequence(F.lit(0), n_wins - 1),
        lambda p: F.aggregate(
            F.sequence(F.lit(1), F.least(F.lit(window), F.size(h))),
            F.lit(None).cast("long"),
            lambda acc, j: F.least(
                F.coalesce(acc, F.element_at(h, p + j)),
                F.element_at(h, p + j),
            ),
        ),
    )
    return (
        docs.select("doc_id", toks.alias("_toks"))
        .select("doc_id", hashes.alias("_h"))
        .select(
            "doc_id",
            F.array_sort(F.array_distinct(win_min)).alias("fingerprints"),
            F.size(h).alias("n_positions"),
        )
        .withColumn("n_fingerprints", F.size("fingerprints"))
    )
