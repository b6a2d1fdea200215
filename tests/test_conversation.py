"""Conversation-structure operators: sequence semantics on hand fixtures."""

from __future__ import annotations

import datetime as dt

import pytest

from otlp_cardinality_checker_spark.operators.conversation import (
    conv_depth_stats,
    role_transitions,
    sessionize,
    tool_bigrams,
    turn_gap_percentiles,
)


def _ts(m, s=0):
    return dt.datetime(2026, 1, 1, 0, m, s)


@pytest.fixture(scope="module")
def turns(spark):
    rows = [
        # conv A: tool chain search -> calc -> search (gap turn without
        # tool between calc and search must NOT break the chain)
        ("A", 0, "user", "q", None, _ts(0)),
        ("A", 1, "assistant", "t", "search", _ts(1)),
        ("A", 2, "assistant", "t", "calc", _ts(2)),
        ("A", 3, "user", "followup", None, _ts(3)),
        ("A", 4, "assistant", "t", "search", _ts(10)),
        # conv B: single tool call -> no bigram
        ("B", 0, "user", "q", None, _ts(0)),
        ("B", 1, "assistant", "t", "calc", _ts(0, 30)),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_tool_bigrams_chain_semantics(turns):
    rows = {(r["prev_tool"], r["tool"]): r for r in tool_bigrams(turns).collect()}
    assert set(rows) == {("search", "calc"), ("calc", "search")}
    assert all(r["count"] == 1 and r["share"] == 0.5 for r in rows.values())


def test_role_transitions_row_stochastic(turns):
    rows = role_transitions(turns).collect()
    got = {(r["prev_role"], r["role"]): r["count"] for r in rows}
    # A: u->a, a->a, a->u, u->a ; B: u->a
    assert got == {
        ("user", "assistant"): 3,
        ("assistant", "assistant"): 1,
        ("assistant", "user"): 1,
    }
    by_prev: dict[str, float] = {}
    for r in rows:
        by_prev[r["prev_role"]] = by_prev.get(r["prev_role"], 0.0) + r["row_share"]
    assert all(abs(v - 1.0) < 1e-9 for v in by_prev.values())


def test_conv_depth_histogram(turns):
    rows = {r["depth"]: r for r in conv_depth_stats(turns).collect()}
    assert rows[5]["n_convs"] == 1 and rows[2]["n_convs"] == 1
    assert rows[5]["n_turns"] == 5 and rows[2]["n_turns"] == 2
    assert rows[5]["conv_share"] == 0.5


def test_turn_gaps_excludes_first_turn(turns):
    rows = {r["role"]: r for r in turn_gap_percentiles(turns).collect()}
    # gaps: A turn1..4 -> 60,60,60,420 ; B turn1 -> 30
    # first turn of each conv contributes no gap
    assert rows["assistant"]["n_gaps"] == 4  # A:1,2,4 + B:1
    assert rows["user"]["n_gaps"] == 1  # A:3
    assert rows["user"]["p50"] == 60.0
    # assistant gaps sorted: 30,60,60,420 -> p50 = 60 (linear interp)
    assert rows["assistant"]["p50"] == 60.0


def test_sessionize_gap_split(turns):
    # conv A ts: 0,1,2,3,10 min — a 300 s gap splits before the last turn
    rows = {
        (r["conv_id"], r["session_idx"]): r
        for r in sessionize(turns, gap_seconds=300).collect()
    }
    assert rows[("A", 1)]["n_events"] == 4
    assert rows[("A", 1)]["duration_s"] == 180.0
    assert rows[("A", 2)]["n_events"] == 1
    assert rows[("A", 2)]["duration_s"] == 0.0
    assert rows[("B", 1)]["n_events"] == 2
    assert len(rows) == 3


def test_sessionize_no_split_when_gap_large(turns):
    rows = sessionize(turns, gap_seconds=10_000).collect()
    assert {(r["conv_id"], r["n_events"]) for r in rows} == {("A", 5), ("B", 2)}


def test_sessionize_single_shuffle(turns):
    plan = (
        sessionize(turns)._jdf.queryExecution().executedPlan().toString()
    )
    # both window passes and the session aggregate must reuse ONE
    # hashpartitioning exchange on the id column (plus the final orderBy's
    # range exchange)
    assert plan.count("Exchange hashpartitioning") == 1


def test_partitioning_invariance(turns):
    a = sorted(map(tuple, tool_bigrams(turns.repartition(13)).collect()))
    b = sorted(map(tuple, tool_bigrams(turns.coalesce(1)).collect()))
    assert a == b


def test_template_loops_runs_and_flag(spark):
    """Crafted conversations: run lengths, repeat pairs, and the
    flag_run threshold, including null-safe template comparison."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
    )

    rows = [
        # conv a: A A A B  -> runs [3,1], 2 repeat pairs, flagged at 3
        ("a", 1, "A"), ("a", 2, "A"), ("a", 3, "A"), ("a", 4, "B"),
        # conv b: A B A B  -> runs [1,1,1,1], 0 repeat pairs
        ("b", 1, "A"), ("b", 2, "B"), ("b", 3, "A"), ("b", 4, "B"),
        # conv c: NULL NULL A -> nulls form one run (null-safe compare)
        ("c", 1, None), ("c", 2, None), ("c", 3, "A"),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, template string"
    )
    got = {r["conv_id"]: r for r in template_loops(turns).collect()}
    a, b, c = got["a"], got["b"], got["c"]
    assert (a["n_turns"], a["n_runs"], a["n_repeat_pairs"], a["max_run"], a["flagged"]) == (4, 2, 2, 3, True)
    assert (b["n_turns"], b["n_runs"], b["n_repeat_pairs"], b["max_run"], b["flagged"]) == (4, 4, 0, 1, False)
    assert (c["n_turns"], c["n_runs"], c["n_repeat_pairs"], c["max_run"], c["flagged"]) == (3, 2, 1, 2, False)


def test_template_loops_single_exchange(spark):
    """The windows and both follow-up groupBys must share ONE
    conv_id-prefixed hash partitioning: exactly one Exchange in the plan."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
    )

    turns = spark.createDataFrame(
        [("a", 1, "A")], "conv_id string, turn_idx int, template string"
    )
    plan = (
        template_loops(turns)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_tool_error_wilson_rank_flip(spark):
    """A 1-call/1-error tool outranks a 200-call/80-error tool on RAW
    rate but must rank BELOW it on the Wilson lower bound; attribution
    reads the NEXT turn's severity, and a trailing tool call with no
    following turn counts as no-error."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        tool_error_attribution,
    )

    rows = []
    # tool flaky: 200 calls, 80 followed by an ERROR turn
    for i in range(200):
        conv = f"f{i}"
        rows.append((conv, 1, "flaky", "INFO"))
        rows.append((conv, 2, None, "ERROR" if i < 80 else "INFO"))
    # tool rare: 1 call, its next turn is an ERROR
    rows.append(("r0", 1, "rare", "INFO"))
    rows.append(("r0", 2, None, "ERROR"))
    # tool tail: 1 call as the LAST turn of its conversation -> 0 errors
    rows.append(("t0", 1, "tail", "INFO"))
    routed = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string, severity string"
    )
    got = {r["tool"]: r for r in tool_error_attribution(routed).collect()}
    flaky, rare, tail = got["flaky"], got["rare"], got["tail"]
    assert (flaky["n_calls"], flaky["n_errors"]) == (200, 80)
    assert (rare["n_calls"], rare["n_errors"]) == (1, 1)
    assert (tail["n_calls"], tail["n_errors"]) == (1, 0)
    # raw rate says rare (1.0) > flaky (0.4); Wilson flips it
    assert rare["error_rate"] > flaky["error_rate"]
    assert flaky["wilson_lb"] > rare["wilson_lb"]
    assert flaky["rank"] == 1 and rare["rank"] == 2 and tail["rank"] == 3
    # Wilson LB is a true lower bound and positive when errors exist
    assert 0 < flaky["wilson_lb"] < flaky["error_rate"]
    assert tail["wilson_lb"] == 0.0


def test_transcript_card_component_consistency(spark):
    """Every number on the transcript card must equal the dedicated
    operator's output on the same crafted frame."""
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.card import (
        transcript_card,
    )
    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
    )
    from otlp_cardinality_checker_spark.functions.masking import (
        template_expr,
    )
    import pyspark.sql.functions as FF

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for c in range(4):
        for i in range(3 + c):  # depths 3,4,5,6
            rows.append((
                f"c{c}", i, "user" if i % 2 == 0 else "assistant",
                "look up id 42" if i % 2 else "ok done",
                "search" if i == 1 else None,
                t0 + dt.timedelta(seconds=10 * i + c),
                "INFO", "chat" if i != 1 else "tool_call",
            ))
    routed = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, severity string, sink string",
    )
    card = {
        (r["section"], r["metric"]): r["value"]
        for r in transcript_card(routed).collect()
    }
    n = len(rows)
    assert card[("volume", "n_turns")] == float(n)
    assert card[("volume", "n_convs")] == 4.0
    assert card[("volume", "avg_depth")] == round(n / 4, 6)
    assert card[("depth", "p50")] == 4.5  # depths 3,4,5,6
    assert card[("gap", "p50_s")] == 10.0  # uniform 10 s gaps
    assert card[("tool", "n_tools")] == 1.0
    assert card[("tool", "call_share")] == round(4 / n, 6)
    # share sections sum to 1
    for section in ("role", "sink", "severity"):
        total = sum(v for (s, _), v in card.items() if s == section)
        assert abs(total - 1.0) < 1e-6, section
    # loop section equals template_loops aggregates
    tl = template_loops(
        routed.select(
            "conv_id", "turn_idx",
            template_expr(FF.col("text")).alias("template"),
        )
    ).agg(
        FF.sum("n_repeat_pairs").alias("p"),
        FF.sum("n_turns").alias("t"),
        FF.sum(FF.col("flagged").cast("long")).alias("f"),
        FF.count(FF.lit(1)).alias("c"),
    ).collect()[0]
    assert card[("loop", "repeat_pair_rate")] == round(tl["p"] / tl["t"], 6)
    assert card[("loop", "flagged_conv_share")] == round(tl["f"] / tl["c"], 6)


def test_transcript_card_uses_pipeline_templates(tmp_path, spark, tiny_frames):
    """A routed frame parsed with a custom patterns_yaml carries its own
    `template` column; the card's loop section must read it, not re-mask
    `text` with the builtin pattern table."""
    import pyspark.sql.functions as FF

    from otlp_cardinality_checker_spark.datagen import role_dim, tool_dim
    from otlp_cardinality_checker_spark.functions.masking import (
        template_expr,
    )
    from otlp_cardinality_checker_spark.operators.card import (
        transcript_card,
    )
    from otlp_cardinality_checker_spark.operators.conversation import (
        template_loops,
    )
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.operators.route import route_turns

    yml = tmp_path / "user_patterns.yaml"
    yml.write_text(
        """
patterns:
  - name: everything_is_x
    regex: '[A-Za-z]+'
    placeholder: 'X'
"""
    )
    transcripts, _, _ = tiny_frames
    routed = route_turns(
        enrich_turns(
            parse_turns(
                spark.createDataFrame(transcripts), patterns_yaml=str(yml)
            ),
            spark.createDataFrame(role_dim(include_system=False)),
            spark.createDataFrame(tool_dim()),
        )
    ).cache()

    def loop_section(templated):
        tl = template_loops(templated).agg(
            FF.sum("n_repeat_pairs").alias("p"),
            FF.sum("n_turns").alias("t"),
            FF.sum(FF.col("flagged").cast("long")).alias("f"),
            FF.count(FF.lit(1)).alias("c"),
        ).collect()[0]
        return (
            round(tl["p"] / tl["t"], 6),
            round(tl["f"] / tl["c"], 6),
        )

    card = {
        (r["section"], r["metric"]): r["value"]
        for r in transcript_card(routed).collect()
    }
    got = (card[("loop", "repeat_pair_rate")],
           card[("loop", "flagged_conv_share")])
    own = loop_section(routed.select("conv_id", "turn_idx", "template"))
    builtin = loop_section(
        routed.select(
            "conv_id", "turn_idx",
            template_expr(FF.col("text")).alias("template"),
        )
    )
    assert got == own
    assert own != builtin  # the custom patterns change the loop figures
    routed.unpersist()


def test_boilerplate_turns_crafted(spark):
    """Threshold on DISTINCT convs, whitespace-insensitive fingerprint."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        boilerplate_turns,
    )

    rows = [
        # same normalized text in 3 convs (one with extra whitespace)
        ("c1", 0, "system", "You are  a helpful\tassistant."),
        ("c2", 0, "system", "You are a helpful assistant."),
        ("c3", 0, "system", " you are a HELPFUL assistant. "),
        # repeated 3x but inside a single conv -> below distinct-conv bar
        ("c1", 1, "user", "retry please"),
        ("c1", 2, "user", "retry please"),
        ("c1", 3, "user", "retry please"),
        # only 2 convs -> excluded at min_convs=3
        ("c2", 1, "assistant", "Done."),
        ("c3", 1, "assistant", "Done."),
    ]
    turns = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )
    got = boilerplate_turns(turns, min_convs=3).collect()
    assert len(got) == 1
    r = got[0]
    assert r["role"] == "system" and r["n_convs"] == 3 and r["n_turns"] == 3
    # example = lexicographic min of the first-80-char prefixes
    assert r["example"] == " you are a HELPFUL assistant. "


def test_conv_dedup_crafted(spark):
    """Order-sensitive conversation fingerprints: identical transcripts
    collide regardless of row arrival order; reordered or role-swapped
    transcripts do not."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_dedup,
    )

    rows = [
        # c1 and c2: identical transcripts (c2's rows arrive reversed)
        ("c1", 0, "user", "hi"),
        ("c1", 1, "assistant", "hello"),
        ("c2", 1, "assistant", "hello"),
        ("c2", 0, "user", "hi"),
        # c3: same texts, swapped turn order -> different fingerprint
        ("c3", 0, "assistant", "hello"),
        ("c3", 1, "user", "hi"),
        # c4: same texts/order as c1 but roles swapped -> different
        ("c4", 0, "assistant", "hi"),
        ("c4", 1, "user", "hello"),
    ]
    turns = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )
    got = conv_dedup(turns).collect()
    assert len(got) == 3  # c1+c2 collide; c3, c4 distinct
    by_keep = {r["keep_conv_id"]: r for r in got}
    assert by_keep["c1"]["n_convs"] == 2 and by_keep["c1"]["n_turns"] == 2
    assert by_keep["c3"]["n_convs"] == 1
    assert by_keep["c4"]["n_convs"] == 1


def test_conv_near_dups_crafted(spark):
    """A replayed conversation with one extra turn is a near-dup (missed
    by conv_dedup's exact chain); the boilerplate cap drops a turn shared
    by every conversation before pairing."""
    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_dedup,
        conv_near_dups,
    )

    boiler = "You are a helpful assistant."
    rows = []
    # c1: 5 turns; c2 = c1 plus one trailing turn -> jaccard 5/6
    for cid in ("c1", "c2"):
        rows.append((cid, 0, "system", boiler))
        for i in range(1, 5):
            rows.append((cid, i, "user" if i % 2 else "assistant", f"m{i}"))
    rows.append(("c2", 5, "assistant", "one extra closing turn"))
    # c3..c6: unrelated, but all open with the same boilerplate turn
    for j in range(3, 7):
        rows.append((f"c{j}", 0, "system", boiler))
        rows.append((f"c{j}", 1, "user", f"unique question {j}"))
    turns = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text"]
    )
    # cap 2: the boilerplate digest (conv-freq 6) is dropped everywhere,
    # while the c1/c2 shared turns (conv-freq 2) survive the cap
    got = conv_near_dups(turns, min_jaccard=0.5, max_df=2).collect()
    assert [(r["conv_a"], r["conv_b"]) for r in got] == [("c1", "c2")]
    # without the shared-boilerplate digest: 4 common of 5 union
    assert got[0]["n_common"] == 4 and got[0]["jaccard"] == 0.8
    # exact conv_dedup must NOT match the near-dup pair
    fp = conv_dedup(turns)
    assert fp.where(F.col("n_convs") > 1).count() == 0


def test_context_budget_suffix_semantics(spark):
    """Longest-suffix-fits policy: kept turns are the maximal trailing run
    whose token total fits; an over-budget final turn keeps nothing;
    empty turns count zero tokens."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        context_budget,
    )

    import datetime as dt

    import pytest as _pytest

    t0 = dt.datetime(2026, 1, 1)

    def turn(conv, idx, ntok):
        text = " ".join(["w"] * ntok) if ntok else ""
        return (conv, idx, "user", text, None, t0)

    rows = (
        [turn("fits", i, n) for i, n in enumerate([5, 10, 20])]
        + [turn("tail", i, n) for i, n in enumerate([5, 10, 30])]
        + [turn("huge", i, n) for i, n in enumerate([5, 10, 100])]
        + [turn("empty", 0, 0), turn("empty", 1, 8)]
    )
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r["conv_id"]: r for r in context_budget(df, 35).collect()}
    assert got["fits"]["turns_kept"] == 3 and not got["fits"]["truncated"]
    assert got["fits"]["tokens_kept"] == 35
    assert got["tail"]["turns_kept"] == 1 and got["tail"]["truncated"]
    assert got["tail"]["tokens_kept"] == 30
    assert got["huge"]["turns_kept"] == 0 and got["huge"]["tokens_kept"] == 0
    assert got["empty"]["turns_kept"] == 2  # 0-token turn rides along free
    assert got["empty"]["total_tokens"] == 8
    with _pytest.raises(ValueError):
        context_budget(df, 0)


def _sft_fixture(spark):
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, "system", "be terse", None, t0),
        ("c1", 1, "user", "héllo wörld", None, t0),
        ("c1", 2, "assistant", "hi — héllo", None, t0),
        ("c1", 3, "tool", "ran: grep", "grep", t0),
        ("c1", 4, "assistant", "done", None, t0),
        ("solo", 0, "assistant", "no history", None, t0),
        ("nul", 0, "user", None, None, t0),
        ("nul", 1, "assistant", "after null", None, t0),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


def test_sft_pairs_context_rendering(spark):
    """Prompts are the exact rendered window of preceding turns (any
    role), capped at context_turns; a history-free assistant turn gets
    prompt=''; NULL texts render empty; non-ASCII lengths are chars."""
    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.conversation import (
        sft_pairs,
    )

    df = _sft_fixture(spark)
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in sft_pairs(df, context_turns=2).collect()
    }
    assert set(got) == {("c1", 2), ("c1", 4), ("solo", 0), ("nul", 1)}
    r = got[("c1", 2)]
    assert r["prompt"] == "system: be terse\nuser: héllo wörld"
    assert r["response"] == "hi — héllo"
    assert r["n_context_turns"] == 2
    assert r["prompt_chars"] == len(r["prompt"])  # chars, not bytes
    assert r["response_chars"] == 10
    # cap: turn 4 sees only turns 2-3, NOT turn 1
    assert got[("c1", 4)]["prompt"] == "assistant: hi — héllo\ntool: ran: grep"
    assert got[("solo", 0)]["prompt"] == ""
    assert got[("solo", 0)]["n_context_turns"] == 0
    assert got[("nul", 1)]["prompt"] == "user: "
    with _pytest.raises(ValueError):
        sft_pairs(df, context_turns=0)


def test_loss_mask_spans_substr_invariant(spark):
    """The pinned contract: substr(rendered, span_start, span_len) ==
    the assistant turn's text, where rendered is built independently in
    Python; rendered_len equals the full rendered string's length."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        loss_mask_spans,
    )

    df = _sft_fixture(spark)
    turns = {
        (r["conv_id"], r["turn_idx"]): r
        for r in df.collect()
    }
    rendered = {}
    for (conv, idx) in sorted(turns):
        r = turns[(conv, idx)]
        rendered[conv] = rendered.get(conv, "") + (
            f"<|{r['role']}|>{r['text'] or ''}\n"
        )
    out = loss_mask_spans(df).collect()
    assert {(r["conv_id"], r["turn_idx"]) for r in out} == {
        ("c1", 2), ("c1", 4), ("solo", 0), ("nul", 1)
    }
    for r in out:
        s = rendered[r["conv_id"]]
        assert r["rendered_len"] == len(s), r
        chunk = s[r["span_start"] - 1 : r["span_start"] - 1 + r["span_len"]]
        want = turns[(r["conv_id"], r["turn_idx"])]["text"] or ""
        assert chunk == want, (r, chunk, want)


def test_echo_rate_set_semantics(spark):
    """Echo = distinct-token intersection share: full parrot -> 1.0,
    disjoint -> 0.0, duplicates in the response count once, case folds,
    empty response -> rate 0 with 0 tokens, context window is capped."""
    import datetime as dt

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.conversation import (
        echo_rate,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c", 0, "user", "Alpha beta GAMMA", None, t0),
        ("c", 1, "assistant", "alpha ALPHA beta delta", None, t0),  # 3 distinct, 2 echoed
        ("c", 2, "assistant", "zeta eta", None, t0),               # disjoint-ish
        ("c", 3, "assistant", "", None, t0),                       # empty
        ("far", 0, "user", "secret", None, t0),
        ("far", 1, "user", "x1", None, t0),
        ("far", 2, "user", "x2", None, t0),
        ("far", 3, "assistant", "secret", None, t0),  # ctx cap 2: 'secret' out of frame
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r
        for r in echo_rate(df, context_turns=2).collect()
    }
    r = got[("c", 1)]
    assert r["n_resp_tokens"] == 3 and r["n_echoed"] == 2
    assert abs(r["echo_rate"] - round(2 / 3, 6)) < 1e-9
    # turn 2's 2-turn context = turns 0-1; no overlap
    assert got[("c", 2)]["n_echoed"] == 0 and got[("c", 2)]["echo_rate"] == 0.0
    assert got[("c", 3)]["n_resp_tokens"] == 0
    assert got[("c", 3)]["echo_rate"] == 0.0
    # 'secret' fell out of the 2-turn frame -> not an echo
    assert got[("far", 3)]["n_echoed"] == 0
    with _pytest.raises(ValueError):
        echo_rate(df, context_turns=0)


def test_preference_pairs_ranking(spark):
    """Same masked prompt template across conversations forms one
    candidate group; chosen/rejected are the greatest/least
    (score, conv_id, turn_idx) key (tie-free by construction);
    single-candidate groups are dropped; prev_role restricts the
    prompt-owning role; min_candidates < 2 rejected."""
    import datetime as dt

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.conversation import (
        preference_pairs,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # three convs share prompt template "fetch item <*>"
        ("a", 0, "user", "fetch item 42", None, t0),
        ("a", 1, "assistant", "one two three", None, t0),        # score 3
        ("b", 0, "user", "fetch item 99", None, t0),
        ("b", 1, "assistant", "one one", None, t0),              # score 1
        ("c", 0, "user", "fetch item 7", None, t0),
        ("c", 1, "assistant", "alpha beta", None, t0),           # score 2
        # lone group -> dropped
        ("d", 0, "user", "completely different ask", None, t0),
        ("d", 1, "assistant", "whatever", None, t0),
        # same template but prompt owned by system (for prev_role test)
        ("e", 0, "system", "fetch item 5", None, t0),
        ("e", 1, "assistant", "zeta", None, t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    out = preference_pairs(df).collect()
    groups = {r["prompt_template"]: r for r in out}
    assert list(groups) == ["fetch item <*>"]
    g = groups["fetch item <*>"]
    assert g["n_candidates"] == 4  # a, b, c + e (prev_role unrestricted)
    assert (g["chosen_conv"], g["chosen_score"]) == ("a", 3)
    assert (g["rejected_conv"], g["rejected_score"]) == ("b", 1)
    assert g["score_gap"] == 2

    restricted = preference_pairs(df, prev_role="user").collect()
    assert restricted[0]["n_candidates"] == 3  # e's system prompt excluded

    # determinism under repartitioning
    import pyspark.sql.functions as F

    again = preference_pairs(
        df.repartition(7, F.col("turn_idx"))
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}

    with _pytest.raises(ValueError):
        preference_pairs(df, min_candidates=1)


def test_response_markers_counts_and_zero_rows(spark):
    """Substring markers are case-insensitive, counted per turn (not per
    occurrence); zero-match (role, marker) rows are present; empty
    marker set rejected."""
    import datetime as dt

    import pytest as _pytest

    from otlp_cardinality_checker_spark.operators.conversation import (
        response_markers,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c", 0, "assistant", "I CANNOT do that; error error", None, t0),
        ("c", 1, "assistant", "fine", None, t0),
        ("c", 2, "user", "why the error?", None, t0),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {
        (r["role"], r["marker"]): r
        for r in response_markers(df, markers=("i cannot", "error", "i'm sorry")).collect()
    }
    assert len(got) == 6  # 2 roles x 3 markers, zero rows included
    assert got[("assistant", "i cannot")]["n_matched"] == 1
    assert got[("assistant", "error")]["n_matched"] == 1  # per turn, not per hit
    assert got[("assistant", "i'm sorry")]["n_matched"] == 0
    assert got[("user", "error")]["n_matched"] == 1
    assert got[("assistant", "error")]["role_turns"] == 2
    assert abs(got[("assistant", "error")]["share"] - 0.5) < 1e-9
    with _pytest.raises(ValueError):
        response_markers(df, markers=())


def test_conv_outcomes_last_turn_semantics(spark):
    """Outcome = LAST turn's severity (not worst); first_error is the
    earliest ERROR turn or NULL; shares sum to 1 over conversations."""
    from otlp_cardinality_checker_spark.operators.conversation import (
        conv_outcomes,
    )

    rows = [
        # recovers: ERROR mid-conv but ends INFO
        ("r", 0, "INFO", None), ("r", 1, "ERROR", "grep"), ("r", 2, "INFO", None),
        # fails: ends ERROR
        ("f", 0, "INFO", "ls"), ("f", 1, "ERROR", None),
        # clean
        ("c", 0, "INFO", None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, severity string, tool string"
    )
    got = {r["outcome"]: r for r in conv_outcomes(df).collect()}
    assert got["INFO"]["n_convs"] == 2  # r recovered + c clean
    assert got["ERROR"]["n_convs"] == 1
    assert abs(got["INFO"]["conv_share"] - round(2 / 3, 6)) < 1e-9
    # r's first error at turn 1; c has none -> avg over INFO convs = 1.0
    assert got["INFO"]["avg_first_error_turn"] == 1.0
    assert got["ERROR"]["avg_first_error_turn"] == 1.0
    assert got["INFO"]["avg_turns"] == 2.0  # (3 + 1) / 2
    assert got["ERROR"]["avg_tool_calls"] == 1.0


def test_tool_latency_excludes_terminal_calls_and_hits_slo(spark):
    import datetime as dt

    from otlp_cardinality_checker_spark.operators.conversation import (
        tool_latency,
    )

    b = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, "user", "go", None, b),
        ("c1", 1, "tool", "call", "t_fast", b + dt.timedelta(seconds=1)),
        ("c1", 2, "assistant", "ok", None, b + dt.timedelta(seconds=2)),
        ("c1", 3, "tool", "call", "t_slow", b + dt.timedelta(seconds=3)),
        ("c1", 4, "assistant", "ok", None, b + dt.timedelta(seconds=13)),
        # terminal tool call: no following turn -> excluded
        ("c2", 0, "tool", "call", "t_orphan", b),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r["tool"]: r for r in tool_latency(df, slo_seconds=2.0).collect()}
    assert "t_orphan" not in got
    assert got["t_fast"]["p50_s"] == 1.0 and got["t_fast"]["n_breach"] == 0
    assert got["t_slow"]["p50_s"] == 10.0 and got["t_slow"]["breach_share"] == 1.0


def test_cost_report_rate_card_and_shares(spark):
    from otlp_cardinality_checker_spark.operators.conversation import (
        cost_report,
    )

    rows = [
        ("c", 0, "user", "a b c d", None, None),        # 4 tok * 1.0
        ("c", 1, "assistant", "x y", None, None),       # 2 tok * 3.0
        ("c", 2, "tool", "k=v", None, None),            # 1 tok * 0.5
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r["role"]: r for r in cost_report(df).collect()}
    assert got["user"]["cost"] == round(4 / 1000 * 1.0, 4)
    assert got["assistant"]["cost"] == round(2 / 1000 * 3.0, 4)
    assert got["tool"]["cost"] == round(1 / 1000 * 0.5, 4)
    assert abs(sum(r["cost_share"] for r in got.values()) - 1.0) <= 1e-5


def test_tool_lift_independent_vs_coupled(spark):
    """Tools that always co-occur get lift >> 1; tools that never
    co-occur produce no pair row; hand-check the lift formula."""
    rows = []
    # convs 0..9: tools A and B always together (perfect coupling)
    for c in range(10):
        rows += [(f"c{c}", 0, "tool", "x", "A", None),
                 (f"c{c}", 1, "tool", "x", "B", None)]
    # convs 10..19: tool C alone
    for c in range(10, 20):
        rows += [(f"c{c}", 0, "tool", "x", "C", None)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    import importlib.util

    from otlp_cardinality_checker_spark.operators import conversation  # noqa: F401
    import pyspark.sql.functions as F

    ct = df.where(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    n_convs = df.select("conv_id").distinct().count()
    a, b = ct.alias("a"), ct.alias("b")
    pair = (
        a.join(b, (F.col("a.conv_id") == F.col("b.conv_id"))
               & (F.col("a.tool") < F.col("b.tool")))
        .groupBy(F.col("a.tool").alias("ta"), F.col("b.tool").alias("tb"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .collect()
    )
    assert len(pair) == 1 and pair[0]["n_both"] == 10
    # lift = n_both * N / (na * nb) = 10*20/(10*10) = 2.0
    assert pair[0]["n_both"] * n_convs / (10 * 10) == 2.0
