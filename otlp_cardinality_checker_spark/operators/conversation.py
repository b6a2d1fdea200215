"""Conversation-structure analytics over the transcripts table.

The reference analyzes telemetry *records* individually; the rebuild's
input is multi-turn agent transcripts (`conv_id, turn_idx, role, text,
tool, ts` — BASELINE.json input_hint), where the *sequence* inside a
conversation carries signal the per-record operators cannot see: which
tool follows which (chain mining), how roles alternate (protocol
conformance), how deep conversations run, and how long turns take.

Every operator here is one window pass partitioned by ``conv_id`` (plus a
small hash aggregation on top): the shuffle key is the conversation id —
high-cardinality and uniform by construction — so the plan is skew-free
and the per-group state is one conversation (bounded by the longest
transcript, never by table size).  No driver-side loops, no UDFs; at
100 TB each of these is a single exchange on `conv_id` followed by a
map-side-combinable aggregate.

Sequence semantics are deliberately *event-order* based (``turn_idx``, the
PK within a conversation), not wall-clock based, so results are exact and
reproducible under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _by_turn() -> Window:
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def tool_bigrams(turns: DataFrame) -> DataFrame:
    """Consecutive tool-call pairs inside each conversation.

    The chain is the ordered sequence of non-null ``tool`` values per
    ``conv_id`` (turns without a tool call do not break a chain — they are
    simply not part of it).  Returns ``(prev_tool, tool, count, share)``
    with share = count / all bigrams, rounded to 6."""
    chain = turns.where(F.col("tool").isNotNull()).select(
        "conv_id",
        "turn_idx",
        "tool",
        F.lag("tool").over(_by_turn()).alias("prev_tool"),
    )
    pairs = chain.where(F.col("prev_tool").isNotNull())
    counts = pairs.groupBy("prev_tool", "tool").agg(
        F.count(F.lit(1)).alias("count")
    )
    # Grand total via a broadcast scalar, not Window.partitionBy(): an
    # unpartitioned window funnels the (bounded, but why bother) bigram
    # frame through one task; crossJoin(broadcast(1-row agg)) keeps the
    # plan exchange-free past the groupBy.
    total = F.broadcast(counts.agg(F.sum("count").alias("_total")))
    return counts.crossJoin(total).select(
        "prev_tool",
        "tool",
        "count",
        F.round(F.col("count") / F.col("_total"), 6).alias("share"),
    ).orderBy(F.desc("count"), "prev_tool", "tool")


def role_transitions(turns: DataFrame) -> DataFrame:
    """Role-transition matrix: counts of ``(prev_role -> role)`` over
    consecutive turns, plus the share of transitions *out of* prev_role
    (rows of the stochastic matrix sum to 1)."""
    seq = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.lag("role").over(_by_turn()).alias("prev_role"),
    ).where(F.col("prev_role").isNotNull())
    counts = seq.groupBy("prev_role", "role").agg(
        F.count(F.lit(1)).alias("count")
    )
    out_of = Window.partitionBy("prev_role")
    return counts.select(
        "prev_role",
        "role",
        "count",
        F.round(F.col("count") / F.sum("count").over(out_of), 6).alias(
            "row_share"
        ),
    ).orderBy("prev_role", "role")


def template_loops(turns: DataFrame, flag_run: int = 3) -> DataFrame:
    """Stuck-agent loop detection: runs of consecutive turns with the SAME
    masked template inside a conversation.

    Raw turn text almost never repeats verbatim (parameters vary); a
    looping agent repeats the *shape* of its turns — the masked template —
    over and over. Gaps-and-islands over the per-conversation turn order:
    a run starts whenever the template changes, run length = turns in the
    island, and a conversation is ``flagged`` when its longest run reaches
    ``flag_run``.

    Expects a ``template`` column (functions.masking.with_template output
    or equivalent). Returns per-conversation
    (conv_id, n_turns, n_runs, n_repeat_pairs, max_run, flagged) with
    n_repeat_pairs = n_turns - n_runs (consecutive same-template pairs).

    Scale shape: ONE exchange on conv_id for the two stacked windows
    (lag + running run-counter share the partitioning); both follow-up
    aggregations group on keys PREFIXED by conv_id, so the window's hash
    partitioning already satisfies their distribution — no further
    exchange (pinned by tests/test_conversation.py::
    test_template_loops_single_exchange).
    """
    w = _by_turn()
    run_w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = _template_runs(turns, w, run_w)
    return (
        runs.groupBy("conv_id")
        .agg(
            F.sum("run_len").alias("n_turns"),
            F.count(F.lit(1)).alias("n_runs"),
            (F.sum("run_len") - F.count(F.lit(1))).alias("n_repeat_pairs"),
            F.max("run_len").alias("max_run"),
        )
        .withColumn("flagged", F.col("max_run") >= flag_run)
    )


def _template_runs(turns: DataFrame, w: Window, run_w: Window) -> DataFrame:
    """Gaps-and-islands core: one row per (conv_id, run) with the run's
    template, length, and ordinal. IS DISTINCT FROM semantics: first row
    (lag NULL) starts a run, and NULL templates compare null-safely on
    both engines."""
    new_run = F.when(
        ~F.col("template").eqNullSafe(F.lag("template").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        turns.select("conv_id", "turn_idx", "template")
        .withColumn("_new", new_run)
        .withColumn("_run", F.sum("_new").over(run_w))
        .groupBy("conv_id", "_run")
        # template is CONSTANT within a run (the null-safe equality is
        # what grouped it), so min() just picks it deterministically
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.min("template").alias("template"),
            F.min("turn_idx").alias("_min_turn"),
        )
    )


def loop_partials(turns: DataFrame) -> DataFrame:
    """Mergeable per-conversation run summary of a CONTIGUOUS turn-range
    slice — the streaming-state grain for loop detection.

    Run-length stats are not union+sum mergeable (a run can span a slice
    boundary), but they ARE a monoid: two adjacent slices merge by
    stitching the left slice's last run with the right slice's first run
    when their templates match null-safely. This emits the boundary
    information that merge needs: per conv —
    (min_turn, n_turns, n_runs, max_run,
     first_template, first_run, last_template, last_run).

    Same single-exchange shape as template_loops (all keys share the
    conv_id prefix).
    """
    w = _by_turn()
    run_w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = _template_runs(turns, w, run_w)
    return runs.groupBy("conv_id").agg(
        F.min("_min_turn").alias("min_turn"),
        F.sum("run_len").alias("n_turns"),
        F.count(F.lit(1)).alias("n_runs"),
        F.max("run_len").alias("max_run"),
        F.min_by("template", "_run").alias("first_template"),
        F.min_by("run_len", "_run").alias("first_run"),
        F.max_by("template", "_run").alias("last_template"),
        F.max_by("run_len", "_run").alias("last_run"),
    )


def tool_error_attribution(
    routed: DataFrame, z: float = 1.96
) -> DataFrame:
    """Per-tool error attribution with a Wilson-score lower bound.

    A tool call's outcome lands on the FOLLOWING turn (the agent reports
    the result), so a call is attributed an error when the next turn in
    its conversation carries severity ERROR. A raw error rate ranks a
    1-call/1-error tool above a 1000-call/400-error one; the Wilson 95%
    lower bound (the triage ranking every SRE dashboard uses) discounts
    low-volume tools by their binomial uncertainty — the rank flip vs the
    raw rate is pinned by test.

    Returns (tool, n_calls, n_errors, error_rate, wilson_lb, rank) ranked
    by wilson_lb desc (ties: tool asc). One conv_id window pass (the
    module's standard skew-free exchange) + one hash-agg on `tool` (a
    bounded dimension) + a window over the aggregated grain only.
    """
    seq = routed.select(
        "tool",
        F.coalesce(
            (F.lead("severity").over(_by_turn()) == "ERROR").cast("long"),
            F.lit(0),
        ).alias("_next_err"),
    )
    agg = (
        seq.where(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum("_next_err").alias("n_errors"),
        )
    )
    n = F.col("n_calls").cast("double")
    p = F.col("n_errors") / n
    z2 = F.lit(z * z)
    lb = (
        p
        + z2 / (2 * n)
        - F.lit(z)
        * F.sqrt((p * (1 - p) + z2 / (4 * n)) / n)
    ) / (1 + z2 / n)
    scored = agg.select(
        "tool",
        "n_calls",
        "n_errors",
        F.round(p, 6).alias("error_rate"),
        F.round(lb, 6).alias("wilson_lb"),
    )
    # every tool needs its rank (no top-k cut), so one reducer sorts the
    # whole grain — bounded by the TOOL DIMENSION, not the corpus, so
    # this is safe at any scale. pmod(n_calls, 1) == 0 (n_calls >= 1 by
    # construction): a single partition, written non-foldably so the
    # optimizer keeps the spec and WindowExec's empty-partition warning
    # stays out of sweep logs, where it flags genuinely data-sized
    # windows (aggregate.global_top_k uses the same device).
    w = Window.partitionBy(F.pmod(F.col("n_calls"), F.lit(1))).orderBy(
        F.desc("wilson_lb"), F.asc("tool")
    )
    return scored.withColumn("rank", F.row_number().over(w))


def conv_depth_stats(turns: DataFrame) -> DataFrame:
    """Conversation-depth histogram: for each depth (turns per
    conversation), how many conversations have it, their share, and the
    total turn volume they carry."""
    depths = turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("depth"))
    hist = depths.groupBy("depth").agg(F.count(F.lit(1)).alias("n_convs"))
    # Same broadcast-scalar total as tool_bigrams (no unpartitioned window).
    total = F.broadcast(hist.agg(F.sum("n_convs").alias("_total")))
    return hist.crossJoin(total).select(
        "depth",
        "n_convs",
        F.round(F.col("n_convs") / F.col("_total"), 6).alias("conv_share"),
        (F.col("depth") * F.col("n_convs")).alias("n_turns"),
    ).orderBy("depth")


def sessionize(
    df: DataFrame,
    gap_seconds: int = 300,
    id_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    ts_col: str = "ts",
) -> DataFrame:
    """Batch gap-sessionization: split each entity's event sequence into
    sessions wherever the inter-event gap exceeds ``gap_seconds``.

    The batch twin of the streaming ``conv_sessions`` operator
    (streaming/stream.py applyInPandasWithState): one lag window to mark
    session starts, one running sum over the same partitioning to number
    them — Catalyst reuses the id_col exchange for both window passes, so
    this is still a single shuffle.  ``order_cols`` must be a
    deterministic total order within the entity (PK columns; wall-clock
    alone is not one if timestamps repeat).  Returns one row per session:
    ``(<id_col>, session_idx, n_events, start_ts, end_ts, duration_s)``.
    """
    w = Window.partitionBy(id_col).orderBy(*order_cols)
    gap_us = (
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(F.lag(F.col(ts_col).cast("timestamp")).over(w))
    )
    marked = df.select(
        id_col,
        *order_cols,
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.when(
            gap_us.isNull() | (gap_us > gap_seconds * 1_000_000), 1
        ).otherwise(0).alias("_new_session"),
    )
    numbered = marked.select(
        id_col,
        "_ts",
        F.sum("_new_session").over(
            Window.partitionBy(id_col)
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_idx"),
    )
    return (
        numbered.groupBy(id_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("_ts").alias("start_ts"),
            F.max("_ts").alias("end_ts"),
        )
        .withColumn(
            "duration_s",
            F.round(
                (F.unix_micros("end_ts") - F.unix_micros("start_ts"))
                / 1_000_000.0,
                6,
            ),
        )
        .orderBy(id_col, "session_idx")
    )


def turn_gap_percentiles(
    turns: DataFrame, probabilities: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Per-role latency profile: exact percentiles of the gap (seconds)
    between a turn and the previous turn in its conversation.

    Uses the exact ``percentile`` aggregate (linear interpolation — the
    same definition as DuckDB's ``quantile_cont``, so the oracle matches
    bit-for-bit after rounding).  The gap for a conversation's first turn
    is undefined and excluded.  Exact percentile needs the per-group
    values collected on the reducer — fine for a bounded role domain; for
    an unbounded group key at 100 TB swap in ``percentile_approx``
    (t-digest sketch, mergeable) at the same call site."""
    gaps = turns.select(
        "role",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(
                F.lag(F.col("ts").cast("timestamp")).over(_by_turn())
            )
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    gap_s = (F.col("gap_us") / 1_000_000.0).alias("gap_s")
    aggs = [F.count(F.lit(1)).alias("n_gaps")]
    for p in probabilities:
        aggs.append(
            F.round(
                F.percentile(gap_s, F.lit(p)), 6
            ).alias(f"p{str(p).replace('0.', '').ljust(2, '0')}")
        )
    return gaps.groupBy("role").agg(*aggs).orderBy("role")


def boilerplate_turns(turns: DataFrame, min_convs: int = 3) -> DataFrame:
    """Canned/boilerplate turn detection: normalized turn texts that recur
    across at least ``min_convs`` DISTINCT conversations — system prompts,
    templated greetings, stock tool errors.  These dominate token mass in
    real agent corpora and must be found (and usually down-weighted)
    before training; corpus-level doc dedup cannot see them because each
    *conversation* is unique even when individual turns are copies.

    Normalization = trim + whitespace collapse + lowercase; the group key
    is the md5 of the normalized text so the aggregation exchange carries
    16-byte digests, never turn bytes.  ``example`` (first 80 chars, min
    per group) rides the map-side partial agg as a bounded payload.

    Output: role, fingerprint, n_convs, n_turns, example.

    Scale shape: ONE hash-agg exchange keyed by (role, digest);
    count(DISTINCT conv_id) expands to the standard two-phase distinct
    agg on the same key — both phases map-side combinable, per-group
    state bounded by the conversations that share a fingerprint.
    """
    canon = F.md5(
        F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    )
    return (
        turns.groupBy("role", canon.alias("fingerprint"))
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.count(F.lit(1)).alias("n_turns"),
            F.min(F.substring("text", 1, 80)).alias("example"),
        )
        .where(F.col("n_convs") >= min_convs)
    )


def conv_dedup(turns: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: two conversations are duplicates
    when their ordered (role, text) turn sequences are identical — the
    transcript-grain analogue of document ``exact_dedup_stats`` (repeated
    seeds, replayed sessions, and copy-pasted demo conversations all
    surface here while remaining invisible to turn- or doc-level dedup).

    The conversation fingerprint is the md5 of the turn-ordered chain of
    per-turn digests (md5 of role + unit-separator + text, computed in
    the narrow pre-shuffle projection) — so only 32-char digests ever
    cross the wire, never turn bytes, and the fingerprint is
    order-sensitive by construction.

    Output: conv_digest, n_turns, n_convs, keep_conv_id (min id — the
    survivor a dedup pass would keep).

    Scale shape: ONE conv_id exchange feeding a per-conversation
    collect_list bounded by the longest transcript, then a digest-grain
    hash-agg (map-side combinable).  array_sort on (turn_idx, digest)
    structs makes the chain deterministic under any row order.
    """
    sep = F.lit("\x1f")  # US separator: role can never bleed into text
    per_turn = turns.select(
        "conv_id",
        F.struct(
            F.col("turn_idx"),
            F.md5(
                F.concat(F.col("role"), sep, F.col("text"))
            ).alias("td"),
        ).alias("t"),
    )
    conv_fp = per_turn.groupBy("conv_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("t")), lambda s: s["td"]
                ),
                "",
            )
        ).alias("conv_digest"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    return conv_fp.groupBy("conv_digest").agg(
        F.min("n_turns").alias("n_turns"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("conv_id").alias("keep_conv_id"),
    )


def conv_near_dups(
    turns: DataFrame,
    min_jaccard: float = 0.6,
    max_df: int | str | None = "auto",
) -> DataFrame:
    """NEAR-duplicate conversations: Jaccard over each conversation's SET
    of per-turn (role, text) digests — catches a replay with one extra
    turn or a trimmed tail, which ``conv_dedup``'s exact order-sensitive
    chain deliberately does not match.  Pure operator composition: the
    per-conversation digest sets feed the SAME capped inverted-index
    Jaccard as the document dedup family (``dedup.exact_jaccard`` with
    conv_id standing in for doc_id).

    ``max_df`` here is the BOILERPLATE cap, and it matters more than in
    the document case: a canned system prompt shared by thousands of
    conversations is exactly a stop-gram — it generates O(n_convs^2)
    candidate pairs while carrying zero dedup signal (two conversations
    are not similar because both open with the same greeting).  Turn
    digests with conversation-frequency > max_df are dropped before the
    pair join and similarity is over the surviving sets (the documented
    `_capped_inverted_index` semantics).

    A FIXED cap is scale-sensitive (a template turn shared by 0.5% of
    conversations is signal at 2k convs and boilerplate at 2M), so the
    default ``max_df="auto"`` derives it from the data:
    clamp(n_convs // 100, 20, 50).  The ceiling is deliberately
    NEAR-DUP-GROUP-SIZED, not a corpus percentage: the cap is also the
    per-digest pair-fan-out bound (df^2/2 candidate pairs per surviving
    digest), and no genuine replay group spans hundreds of
    conversations — a turn shared by more than ~50 convs is
    categorically boilerplate.  The 4M-turn soak measures the failure
    mode on a fully-templated fixture (BENCH.md): percentage-scaled
    caps of 1600/500 produce 531 s / 318 s with tens of GB of spill and
    MILLIONS of spurious template pairs, while cap 50 runs in 18 s,
    zero spill, zero false pairs.  The n_convs count is a bounded
    driver-side scalar (one map-side-combined count job), the same
    pattern as graph.py's convergence scalar.

    Set semantics: repeated identical turns inside one conversation count
    once.  Output: conv_a, conv_b (conv_a < conv_b), n_common, jaccard.
    """
    from .dedup import exact_jaccard

    sep = F.lit("\x1f")
    sh = turns.groupBy(F.col("conv_id").alias("doc_id")).agg(
        F.collect_set(
            F.md5(F.concat(F.col("role"), sep, F.col("text")))
        ).alias("shingles")
    )
    if max_df == "auto":
        max_df = min(max(20, sh.count() // 100), 50)
    out = exact_jaccard(sh, min_jaccard=min_jaccard, max_df=max_df)
    return out.select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "n_common",
        "jaccard",
    )


def context_budget(turns: DataFrame, budget_tokens: int = 512) -> DataFrame:
    """Context-window truncation audit: per conversation, how much of the
    transcript survives the standard chat-serving policy of keeping the
    LONGEST SUFFIX of turns whose total token count fits the model's
    context budget (most-recent-first truncation). Reports, per
    conversation, the turn/token totals, how many trailing turns fit, and
    whether anything was dropped — the per-corpus answer to "how much
    history do our conversations actually lose at a given context size".

    Token counts are whitespace-token counts (empty turns count 0), the
    same portable form the mixing/packing operators use.

    Scale shape: ONE conv_id exchange feeds both the suffix-cumsum window
    (ordered by turn_idx desc) and the final per-conversation aggregate —
    the agg keys on the window's partition column so no second shuffle is
    needed. State per conversation is a running sum, bounded by depth;
    output is conversation grain.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive, got {budget_tokens}")
    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    ntok = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_turn = turns.select(
        "conv_id", ntok.alias("_ntok"), F.sum(ntok).over(w).alias("_suffix")
    )
    kept = (F.col("_suffix") <= F.lit(budget_tokens)).cast("long")
    return per_turn.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("_ntok").alias("total_tokens"),
        F.sum(kept).alias("turns_kept"),
        F.sum(F.col("_ntok") * kept).alias("tokens_kept"),
        (F.count(F.lit(1)) > F.sum(kept)).alias("truncated"),
    )


def sft_pairs(
    turns: DataFrame,
    context_turns: int = 8,
    sep: str = "\n",
    target_role: str = "assistant",
) -> DataFrame:
    """SFT (prompt, response) example extraction: one training pair per
    ``target_role`` turn, where the prompt is the rendered context of up
    to ``context_turns`` immediately preceding turns (any role, rendered
    ``role: text`` and joined by ``sep``) and the response is the turn's
    own text. This is the transcript->training-example projection every
    instruction-tuning pipeline runs; doing it inside the engine keeps
    the context rendering next to the dedup/quality/budget operators that
    gate it.

    Output grain: one row per target turn — ``(conv_id, turn_idx,
    prompt, response, n_context_turns, prompt_chars, response_chars)``.
    A target turn with no history gets ``prompt = ''`` (n_context_turns
    0), so downstream filters can drop or keep context-free pairs
    explicitly.

    Scale shape: ONE conv_id exchange; the sliding frame
    ``rowsBetween(-context_turns, -1)`` holds at most ``context_turns``
    rendered turns per row, so window state is bounded by the cap, not
    by conversation depth. Output size is bounded by (input rows) x
    (context_turns + 1) rendered chars — the inherent cost of
    materializing per-example context, and the reason ``context_turns``
    is a required cap rather than unbounded history.

    Measured amplification (sf0.1, 500k turns / 31.8M input chars;
    BENCH.md r6 has the table): rendered output is ~1.2x the input at
    context_turns=2, 2.0x at 4, 3.4x at 8, 5.1x at 16 — roughly
    ``0.6 + 0.28 * context_turns`` times the corpus. At a 100 TB corpus
    the cap IS the output budget: 8 means ~340 TB of rendered pairs.
    Recommendation: default to 4 unless the training recipe demands
    deeper context, and size the sink for input_bytes x amplification.
    """
    if context_turns <= 0:
        raise ValueError(
            f"context_turns must be positive, got {context_turns}"
        )
    rendered = F.concat_ws(
        ": ", F.col("role"), F.coalesce(F.col("text"), F.lit(""))
    )
    frame = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    with_ctx = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce(F.col("text"), F.lit("")).alias("_resp"),
        F.array_join(F.collect_list(rendered).over(frame), sep).alias(
            "prompt"
        ),
        F.count(F.lit(1)).over(frame).alias("n_context_turns"),
    )
    return with_ctx.where(F.col("role") == target_role).select(
        "conv_id",
        "turn_idx",
        "prompt",
        F.col("_resp").alias("response"),
        "n_context_turns",
        F.length("prompt").alias("prompt_chars"),
        F.length("_resp").alias("response_chars"),
    )


def loss_mask_spans(
    turns: DataFrame,
    target_role: str = "assistant",
) -> DataFrame:
    """Loss-mask span computation for train-on-assistant-only SFT: each
    conversation renders to ONE training string by concatenating
    ``<|role|>`` + text + ``\\n`` per turn in turn order, and this
    operator emits, for every ``target_role`` turn, the 1-based character
    offset span its text occupies inside that rendered string — the spans
    a trainer unmasks for loss while the user/system/tool turns stay
    masked. Computing spans from cumulative arithmetic (never from string
    search) makes them exact even when the same text recurs.

    Output grain: one row per target turn — ``(conv_id, turn_idx,
    span_start, span_len, rendered_len)`` where ``rendered_len`` is the
    full conversation's rendered length (equal on every row of a
    conversation). Invariant (pinned by test):
    ``substr(rendered, span_start, span_len) == text``.

    Scale shape: ONE conv_id exchange feeds both windows (prefix cumsum
    ordered by turn_idx and the unbounded total); per-conversation window
    state is one running sum. No strings are shuffled beyond the initial
    exchange; offsets are integer arithmetic over per-turn lengths.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    # rendered turn = "<|" + role + "|>" + text + "\n"
    seg_len = F.length("role") + F.lit(4) + F.length(text) + F.lit(1)
    prefix = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    whole = Window.partitionBy("conv_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    spans = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        F.length(text).alias("span_len"),
        (
            F.coalesce(F.sum(seg_len).over(prefix), F.lit(0))
            + F.length("role")
            + F.lit(5)
        ).alias("span_start"),
        F.sum(seg_len).over(whole).alias("rendered_len"),
    )
    return spans.where(F.col("role") == target_role).select(
        "conv_id", "turn_idx", "span_start", "span_len", "rendered_len"
    )


def echo_rate(
    turns: DataFrame,
    context_turns: int = 8,
    target_role: str = "assistant",
) -> DataFrame:
    """Response-parroting audit: for each ``target_role`` turn, the share
    of its DISTINCT (lowercased, whitespace-split) tokens that already
    appear in the preceding ``context_turns`` turns' text. High echo
    rates flag degenerate assistant behavior (quoting the question back,
    template restating) that SFT curation usually filters; near-zero
    rates on tool-heavy turns flag context-free responses. Pure set
    arithmetic — both engines' array intersection is distinct-output, so
    the counts are exact cross-engine.

    Output grain: one row per target turn — ``(conv_id, turn_idx,
    n_resp_tokens, n_echoed, echo_rate)``; ``echo_rate`` is 0.0 for a
    token-free response.

    Scale shape: the same single conv_id exchange as ``sft_pairs`` (the
    sliding frame is the only window); token arrays are materialized
    ONCE per row as columns before the set ops (HOF lambdas get no CSE —
    the shared-subexpression rule), and each array is bounded by turn
    length x context cap.
    """
    if context_turns <= 0:
        raise ValueError(
            f"context_turns must be positive, got {context_turns}"
        )

    def toks(col):
        return F.array_distinct(
            F.filter(
                F.split(F.lower(F.trim(col)), r"\s+"),
                lambda x: x != F.lit(""),
            )
        )

    frame = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    ctx_text = F.array_join(
        F.collect_list(F.coalesce(F.col("text"), F.lit(""))).over(frame),
        " ",
    )
    staged = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        toks(F.coalesce(F.col("text"), F.lit(""))).alias("_rt"),
        toks(ctx_text).alias("_ct"),
    ).where(F.col("role") == target_role)
    n_resp = F.size("_rt")
    n_echo = F.size(F.array_intersect("_rt", "_ct"))
    return staged.select(
        "conv_id",
        "turn_idx",
        n_resp.cast("long").alias("n_resp_tokens"),
        n_echo.cast("long").alias("n_echoed"),
        F.when(n_resp == 0, F.lit(0.0))
        .otherwise(F.round(n_echo / n_resp, 6))
        .alias("echo_rate"),
    )


def preference_pairs(
    turns: DataFrame,
    min_candidates: int = 2,
    prev_role: str | None = None,
) -> DataFrame:
    """DPO/RLHF preference-pair builder over transcripts: group assistant
    responses by the TEMPLATE of their immediately preceding turn
    (the masked prompt — same prompt shape, many candidate responses
    across conversations; pass ``prev_role`` to restrict which role may
    own the prompt turn), then emit one (chosen, rejected) pair per
    group: chosen = the candidate with the lexicographically GREATEST
    (score, conv_id, turn_idx) key, rejected = the least. The score is
    the response's distinct-token count (lexical richness — a
    deterministic, engine-portable quality proxy; swap in a model score
    upstream by adding a column and reusing the same ranking contract).
    The composite key makes ties impossible, so chosen/rejected are
    unique and partitioning-invariant.

    Output grain: one row per prompt-template group with >=
    ``min_candidates`` candidates — ``(prompt_fp, prompt_template,
    n_candidates, chosen_conv, chosen_turn, chosen_score,
    rejected_conv, rejected_turn, rejected_score, score_gap)``.

    Scale shape: one conv_id window exchange (lag of role/template) and
    one aggregation exchange keyed by the prompt template. Every
    aggregate (count, max_by, min_by) is map-side combinable, so hot
    templates cost one partial row per task — no skew exposure, no
    pair-join anywhere (the group IS the candidate set).
    """
    from ..functions.masking import with_template

    if min_candidates < 2:
        raise ValueError(
            f"min_candidates must be >= 2, got {min_candidates}"
        )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # with_template: guarded stacked-projection chain (r6), ~35% cheaper
    # masks than the inline single-Column chain it replaced
    staged = with_template(
        turns.select("conv_id", "turn_idx", "role", "text"), out="_tpl"
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.lag("role").over(w).alias("_prev_role"),
        F.lag("_tpl").over(w).alias("prompt_template"),
    )
    prev_ok = (
        F.col("_prev_role") == prev_role
        if prev_role is not None
        else F.col("_prev_role").isNotNull()
    )
    cand = staged.where((F.col("role") == "assistant") & prev_ok)
    score = F.size(
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
                lambda x: x != F.lit(""),
            )
        )
    ).cast("long")
    ord_key = F.concat_ws(
        "|",
        F.lpad(score.cast("string"), 8, "0"),
        F.col("conv_id"),
        F.lpad(F.col("turn_idx").cast("string"), 8, "0"),
    )
    scored = cand.select(
        "prompt_template",
        "conv_id",
        "turn_idx",
        score.alias("_score"),
        ord_key.alias("_ord"),
    )
    agg = scored.groupBy("prompt_template").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max_by("conv_id", F.col("_ord")).alias("chosen_conv"),
        F.max_by("turn_idx", F.col("_ord")).alias("chosen_turn"),
        F.max_by("_score", F.col("_ord")).alias("chosen_score"),
        F.min_by("conv_id", F.col("_ord")).alias("rejected_conv"),
        F.min_by("turn_idx", F.col("_ord")).alias("rejected_turn"),
        F.min_by("_score", F.col("_ord")).alias("rejected_score"),
    )
    return agg.where(F.col("n_candidates") >= min_candidates).select(
        F.md5("prompt_template").alias("prompt_fp"),
        "prompt_template",
        "n_candidates",
        "chosen_conv",
        "chosen_turn",
        "chosen_score",
        "rejected_conv",
        "rejected_turn",
        "rejected_score",
        (F.col("chosen_score") - F.col("rejected_score")).alias(
            "score_gap"
        ),
    )


DEFAULT_MARKERS = (
    "i cannot",
    "i'm sorry",
    "unable to",
    "as an ai",
    "error",
    "failed",
    "timeout",
)


def response_markers(
    turns: DataFrame,
    markers: tuple[str, ...] = DEFAULT_MARKERS,
) -> DataFrame:
    """Marker-phrase audit: per (role, marker), how many turns contain
    the (lowercased, substring) marker and what share of that role's
    turns they are. The default set mixes refusal markers ("i cannot",
    "as an ai" — the SFT-curation filter) with failure markers
    ("error", "failed", "timeout" — the reliability triage view); pass
    a custom tuple for either alone.

    Output grain: one row per (role, marker) — ``(role, marker,
    n_matched, role_turns, share)`` — including zero-match rows, so a
    marker's absence is an explicit, hash-checkable answer.

    Scale shape: ONE map-side-combined aggregation over a single scan —
    each marker is a column-wise conditional sum, so rows are never
    duplicated per marker; the #roles x #markers unpivot then runs on
    the tiny aggregated frame (stack, no exchange).
    """
    if not markers:
        raise ValueError("markers must be non-empty")
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    aggs = [F.count(F.lit(1)).alias("role_turns")] + [
        F.sum(F.contains(low, F.lit(m)).cast("long")).alias(f"_m{i}")
        for i, m in enumerate(markers)
    ]
    per_role = turns.groupBy("role").agg(*aggs)
    pairs = ", ".join(
        "'{}', _m{}".format(m.replace("'", "\\'"), i)
        for i, m in enumerate(markers)
    )
    unpivoted = per_role.selectExpr(
        "role",
        "role_turns",
        f"stack({len(markers)}, {pairs}) AS (marker, n_matched)",
    )
    return unpivoted.select(
        "role",
        "marker",
        "n_matched",
        "role_turns",
        F.round(F.col("n_matched") / F.col("role_turns"), 6).alias(
            "share"
        ),
    )


def conv_outcomes(routed: DataFrame) -> DataFrame:
    """Conversation-outcome rollup: each conversation's outcome is the
    severity of its LAST turn (the state the conversation ended in — the
    triage view an agent-ops dashboard leads with), enriched with how
    deep conversations of each outcome run, how many tool calls they
    made, and how early the first ERROR appeared (NULL when none did).

    Input is the routed/enriched frame (needs ``conv_id, turn_idx,
    severity, tool``). Output grain: one row per outcome —
    ``(outcome, n_convs, conv_share, avg_turns, avg_tool_calls,
    avg_first_error_turn)``.

    Scale shape: ONE map-side-combined hash-agg to the conversation
    grain (max_by picks the last turn's severity; conditional min finds
    the first error — all combinable, no window), then a tiny
    per-outcome agg + broadcast 1-row total for the share.
    """
    per_conv = routed.groupBy("conv_id").agg(
        F.max_by("severity", "turn_idx").alias("outcome"),
        F.count(F.lit(1)).alias("_turns"),
        F.sum(F.col("tool").isNotNull().cast("long")).alias("_tools"),
        F.min(
            F.when(F.col("severity") == "ERROR", F.col("turn_idx"))
        ).alias("_first_err"),
    )
    agg = per_conv.groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.round(F.avg("_turns"), 4).alias("avg_turns"),
        F.round(F.avg("_tools"), 4).alias("avg_tool_calls"),
        F.round(F.avg("_first_err"), 4).alias("avg_first_error_turn"),
    )
    total = F.broadcast(agg.agg(F.sum("n_convs").alias("_t")))
    return agg.crossJoin(total).select(
        "outcome",
        "n_convs",
        F.round(F.col("n_convs") / F.col("_t"), 6).alias("conv_share"),
        "avg_turns",
        "avg_tool_calls",
        "avg_first_error_turn",
    )


def tool_latency(turns: DataFrame, slo_seconds: float = 2.0) -> DataFrame:
    """Per-tool response-latency percentiles + SLO breach rate: the gap
    between a tool-call turn and the NEXT turn in its conversation is
    the observable "tool latency" in a transcript log (the agent speaks
    again once the result lands). The ops twin of
    `tool_error_attribution` — that ranks tools by failure, this ranks
    them by slowness, with exact p50/p95/p99 (the repo's bit-exact
    `F.percentile`/`quantile_cont` pair) and a breach share against
    ``slo_seconds``.

    Output grain: one row per tool — ``(tool, n_calls, p50_s, p95_s,
    p99_s, n_breach, breach_share)``. Calls with no following turn
    (conversation ends on the tool call) have no observable latency and
    are excluded, mirrored by the oracle.

    Scale shape: ONE conv_id-partitioned lead() window over a 4-column
    projection (the conversation module's standard single exchange),
    then one map-side percentile agg per tool.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.lead("ts").over(w)
    lat = (
        turns.select("conv_id", "turn_idx", "tool", "ts")
        .withColumn("_nxt", nxt)
        .where(F.col("tool").isNotNull() & F.col("_nxt").isNotNull())
        .select(
            "tool",
            (
                F.unix_timestamp("_nxt").cast("double")
                - F.unix_timestamp("ts").cast("double")
            ).alias("lat_s"),
        )
    )
    return lat.groupBy("tool").agg(
        F.count(F.lit(1)).alias("n_calls"),
        F.round(F.percentile(F.col("lat_s"), F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile(F.col("lat_s"), F.lit(0.95)), 4).alias("p95_s"),
        F.round(F.percentile(F.col("lat_s"), F.lit(0.99)), 4).alias("p99_s"),
        F.sum((F.col("lat_s") > slo_seconds).cast("long")).alias("n_breach"),
        F.round(
            F.sum((F.col("lat_s") > slo_seconds).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("breach_share"),
    )


# fixed, documented per-role token prices (arbitrary units per 1k
# tokens) — like the classifier weights, the pipeline value is the
# PRICED-ACCOUNTING plumbing; swap the dict for real meter rates.
ROLE_PRICES = {"user": 1.0, "assistant": 3.0, "tool": 0.5, "system": 1.0}


def cost_report(turns: DataFrame, by: str = "role") -> DataFrame:
    """Priced token accounting per group: whitespace token counts times
    a per-role rate card — the cost dashboard every agent pipeline
    reconciles (which role/tool burns the budget, what a conversation
    costs on average).

    Output grain: one row per group — ``(by, n_turns, n_tokens, cost,
    cost_share)``; cost = tokens/1000 * role price, share against the
    corpus total via a broadcast 1-row agg (never an empty-partition
    window).

    Scale shape: one scan, one map-side-combined agg; the price map is a
    CASE chain (bounded roles), the total a broadcast crossJoin.
    """
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    price = F.lit(1.0)
    expr = None
    for role, p in sorted(ROLE_PRICES.items()):
        cond = F.col("role") == role
        expr = F.when(cond, F.lit(p)) if expr is None else expr.when(
            cond, F.lit(p)
        )
    price = expr.otherwise(F.lit(1.0))
    rows = turns.select(
        F.col(by).alias("grp"),
        ntok.cast("long").alias("ntok"),
        (ntok.cast("double") / F.lit(1000.0) * price).alias("cost"),
    )
    agg = rows.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ntok").alias("n_tokens"),
        F.sum("cost").alias("cost_raw"),
    )
    tot = agg.agg(F.sum("cost_raw").alias("total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias(by),
        "n_turns",
        "n_tokens",
        F.round(F.col("cost_raw"), 4).alias("cost"),
        F.round(F.col("cost_raw") / F.col("total"), 6).alias("cost_share"),
    )
