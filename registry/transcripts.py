"""Queries over the raw transcript table (``_transcripts``): per-turn and
per-conversation operators that do not need the routed frame.

Most oracles read the same transcripts parquet (``_transcripts_path``);
those that need templates read the truth tables through ``pre``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otlp_cardinality_checker_spark.datagen import ROLES
from otlp_cardinality_checker_spark.functions.masking import with_template
from otlp_cardinality_checker_spark.operators import quality as Q
from otlp_cardinality_checker_spark.operators.conversation import (
    boilerplate_turns,
    context_budget,
    conv_dedup,
    conv_depth_stats,
    conv_near_dups,
    cost_report,
    echo_rate,
    loss_mask_spans,
    preference_pairs,
    response_markers,
    role_transitions,
    sft_pairs,
    template_loops,
    tool_bigrams,
    tool_latency,
    turn_gap_percentiles,
)
from otlp_cardinality_checker_spark.operators.dedup import (
    dup_source_matrix,
    norm_dedup_gain,
    prefix_dups,
)
from otlp_cardinality_checker_spark.operators.parse import parse_turns
from otlp_cardinality_checker_spark.operators.pii import (
    PII_PATTERNS,
    pii_propagation,
)
from otlp_cardinality_checker_spark.operators.profile import string_profile
from otlp_cardinality_checker_spark.operators.text_analysis import (
    code_detect,
    trending_terms,
)
from otlp_cardinality_checker_spark.sources.transcripts import (
    load_dims,
    load_transcripts,
)

from .common import _tool_dim_path, _transcripts, _transcripts_path


def q_severity_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        parse_turns(load_transcripts(spark, sf_dir))
        .groupBy("severity_inferred")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_template_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuck-agent loop detection: per-conversation runs of consecutive
    same-TEMPLATE turns (raw text almost never repeats; the masked shape
    does). Spark side masks live via with_template; the oracle reads the
    datagen truth templates — the same cross-implementation pinning as
    template_stats."""
    turns = with_template(
        _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "text")
    ).select("conv_id", "turn_idx", "template")
    return template_loops(turns)


def q_tool_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call chain mining: consecutive tool pairs per conversation."""
    return tool_bigrams(_transcripts(spark, sf_dir))


def q_boilerplate_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-turn mining: normalized turn texts recurring across
    >= 3 distinct conversations (system prompts / templated greetings /
    stock errors) — the turn-grain dedup signal that doc-level dedup
    cannot see."""
    return boilerplate_turns(_transcripts(spark, sf_dir), min_convs=3)


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level exact dedup: order-sensitive digest chain over
    (role, text) turns; only 32-char digests shuffle. Surfaces replayed /
    copy-pasted conversations invisible to turn- or doc-grain dedup."""
    return conv_dedup(_transcripts(spark, sf_dir))


def q_conv_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate conversations: capped inverted-index Jaccard over
    per-conversation turn-digest sets. The boilerplate cap is data-
    derived (turns shared by > clamp(1% of convs, 20, 50) conversations
    are dropped — they carry no dedup signal and would generate O(n^2)
    pairs), so the semantics are invariant under corpus growth while the
    absolute ceiling bounds per-digest pair fan-out. Pure composition
    with dedup.exact_jaccard."""
    return conv_near_dups(
        _transcripts(spark, sf_dir), min_jaccard=0.3, max_df="auto"
    )


def q_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation audit at a 128-token budget: per
    conversation, how many trailing turns (and tokens) survive
    most-recent-first truncation, and whether history is lost."""
    return context_budget(_transcripts(spark, sf_dir), budget_tokens=128)


def q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example extraction: one (prompt, response) pair per assistant
    turn, prompt = up to 8 preceding turns rendered 'role: text' and
    newline-joined inside a bounded sliding frame."""
    return sft_pairs(_transcripts(spark, sf_dir), context_turns=8)


def q_loss_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-assistant-only loss-mask spans: 1-based char offsets of
    each assistant turn's text inside the '<|role|>text\\n'-rendered
    conversation string, from cumulative integer arithmetic (never string
    search)."""
    return loss_mask_spans(_transcripts(spark, sf_dir))


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code/structured-text share per role over the transcripts: exact
    symbol-ratio + assignment-token features, fixed linear score."""
    return code_detect(_transcripts(spark, sf_dir), by="role")


def q_norm_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-reveal dedup audit per role over the transcripts:
    digit-masked/lowercased dedup vs byte-exact dedup."""
    return norm_dedup_gain(_transcripts(spark, sf_dir), by="role")


def q_pii_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII value propagation across conversation turns, per pattern
    class — staged extraction mirrors pii_scan's redaction contract."""
    return pii_propagation(_transcripts(spark, sf_dir))


def q_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-8-token prefix duplication per role over the transcripts
    (shared-opener audit; md5-digest prefix grain)."""
    return prefix_dups(_transcripts(spark, sf_dir), by="role", k=8)


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly top-5 token leaderboard over the transcripts."""
    return trending_terms(_transcripts(spark, sf_dir), k=5)


def q_tool_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool response-latency percentiles + 2s-SLO breach rate."""
    return tool_latency(_transcripts(spark, sf_dir), slo_seconds=2.0)


def q_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priced token accounting per role (fixed rate card)."""
    return cost_report(_transcripts(spark, sf_dir), by="role")


def q_string_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass string column profile of the transcripts (nulls,
    empties, md5-distincts, length stats per column)."""
    t = _transcripts(spark, sf_dir).select(
        "conv_id", "role", "text", "tool"
    )
    return string_profile(t, ["conv_id", "role", "text", "tool"])


def q_verbosity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the assistant get terser or wordier as conversations deepen?
    Mean assistant token count per turn-depth bucket (0-1, 2-3, 4-5,
    6+), with the corpus mean via broadcast for a drift index."""
    t = _transcripts(spark, sf_dir)
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"))
    )
    a = t.where(F.col("role") == "assistant").select(
        F.least(F.floor(F.col("turn_idx") / 2), F.lit(3)).cast("int").alias(
            "depth_bucket"
        ),
        ntok.cast("long").alias("ntok"),
    )
    gb = a.groupBy("depth_bucket").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum("ntok").alias("s"),
    )
    tot = gb.agg(
        F.sum("s").alias("st"), F.sum("n_turns").alias("nt")
    )
    return gb.crossJoin(F.broadcast(tot)).select(
        "depth_bucket",
        "n_turns",
        F.round(F.col("s") / F.col("n_turns"), 4).alias("mean_tokens"),
        F.round(
            (F.col("s") / F.col("n_turns"))
            / (F.col("st") / F.col("nt")),
            6,
        ).alias("vs_corpus_mean"),
    )


def q_tool_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over tools: for tool pairs co-occurring
    in the same conversation, support and lift
    P(a,b)/(P(a)P(b)) over the conversation universe — integer counts
    only, so lift is bit-deterministic."""
    t = _transcripts(spark, sf_dir)
    ct = (
        t.where(F.col("tool").isNotNull())
        .select("conv_id", "tool")
        .distinct()
    )
    n_convs = t.select("conv_id").distinct().count()
    a = ct.alias("a")
    b = ct.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id"))
            & (F.col("a.tool") < F.col("b.tool")),
        )
        .groupBy(F.col("a.tool").alias("tool_a"), F.col("b.tool").alias("tool_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    single = ct.groupBy("tool").agg(F.count(F.lit(1)).alias("n"))
    return (
        pair.where(F.col("n_both") >= 50)
        .join(
            F.broadcast(single.withColumnsRenamed({"tool": "tool_a", "n": "na"})),
            "tool_a",
        )
        .join(
            F.broadcast(single.withColumnsRenamed({"tool": "tool_b", "n": "nb"})),
            "tool_b",
        )
        .select(
            "tool_a",
            "tool_b",
            "n_both",
            F.round(F.col("n_both") / F.lit(float(n_convs)), 6).alias(
                "support"
            ),
            F.round(
                (F.col("n_both").cast("double") * F.lit(float(n_convs)))
                / (F.col("na").cast("double") * F.col("nb").cast("double")),
                6,
            ).alias("lift"),
        )
    )


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group duplicate-leakage matrix over canonical turn-text
    fingerprints, grouped by ROLE (the documents fixture has no exact
    cross-source duplicates — the honest zero — while boilerplate turns
    genuinely recur across roles): (source_a, source_b, n_shared)."""
    return dup_source_matrix(_transcripts(spark, sf_dir), by="role")


def q_response_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refusal/failure marker audit per (role, marker), zero rows kept."""
    return response_markers(_transcripts(spark, sf_dir))


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair builder: assistant responses grouped by the
    masked template of their preceding user turn; chosen/rejected by the
    tie-free (score, conv_id, turn_idx) key."""
    return preference_pairs(_transcripts(spark, sf_dir))


def q_echo_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Response-parroting audit: distinct-token echo share of each
    assistant turn vs its 8-turn context window."""
    return echo_rate(_transcripts(spark, sf_dir), context_turns=8)


def q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition stochastic matrix over consecutive turns."""
    return role_transitions(_transcripts(spark, sf_dir))


def q_conv_depth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-depth histogram (turns per conversation)."""
    return conv_depth_stats(_transcripts(spark, sf_dir))


def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role exact p50/p90/p99 of the inter-turn gap (seconds)."""
    return turn_gap_percentiles(_transcripts(spark, sf_dir))


def q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract gate over the raw transcripts table: 9 declarative
    constraints (completeness, PK uniqueness, domain, regex, bounds, row
    count, referential integrity vs tool_dim) evaluated in ONE scan.
    `tool_short` deliberately fails (tool_19 has two digits) so the oracle
    hash also covers a failed row."""
    turns = load_transcripts(spark, sf_dir)
    _, tool_dim = load_dims(spark, sf_dir)
    return Q.constraint_audit(
        turns,
        [
            Q.complete("conv_complete", "conv_id"),
            Q.complete("text_complete", "text"),
            Q.unique("pk_unique", "conv_id", "turn_idx"),
            Q.in_domain("role_domain", "role", list(ROLES)),
            Q.matches("tool_short", "tool", r"^tool_\d$"),
            Q.min_value("turn_nonneg", "turn_idx", 0.0),
            Q.min_value("ts_after_2025", "ts", 1735689600.0),
            Q.row_count("nonempty", 1.0),
            Q.ref_integrity("tool_ri", "tool", tool_dim, "tool"),
        ],
    )


def _pii_propagation_sql() -> str:
    """Generated from the SAME pattern table as the operator (the
    _pii_stats_sql contract): class i extracted from text already
    redacted by classes 0..i-1."""
    selects = []
    staged = "coalesce(text, '')"
    for name, pat, placeholder in PII_PATTERNS:
        selects.append(
            f"SELECT conv_id, turn_idx, '{name}' AS kind,\n"
            f"       unnest(regexp_extract_all({staged}, '{pat}')) AS v\n"
            f"FROM t"
        )
        staged = f"regexp_replace({staged}, '{pat}', '{placeholder}', 'g')"
    union = "\n  UNION ALL\n  ".join(selects)
    return f"""
, hits AS (
  {union}
), pv AS (
  SELECT kind, conv_id, v, count(DISTINCT turn_idx) AS n_turns,
         min(turn_idx) AS ft, max(turn_idx) AS lt
  FROM hits GROUP BY 1, 2, 3
)
SELECT kind, count(*) AS n_values,
  CAST(sum(CASE WHEN n_turns > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_propagated,
  round(sum(CASE WHEN n_turns > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
    AS propagation_rate,
  CAST(max(lt - ft) AS BIGINT) AS max_spread_turns,
  round(avg(CASE WHEN n_turns > 1 THEN lt - ft END), 4)
    AS avg_spread_turns
FROM pv GROUP BY 1
"""


# Batch oracles the streaming family reuses.
def template_loops_sql(pre: str) -> str:
    return pre + """
SELECT conv_id, CAST(sum(run_len) AS BIGINT) AS n_turns,
       count(*) AS n_runs,
       CAST(sum(run_len) - count(*) AS BIGINT) AS n_repeat_pairs,
       CAST(max(run_len) AS BIGINT) AS max_run,
       max(run_len) >= 3 AS flagged
FROM (
  SELECT conv_id, run_no, count(*) AS run_len FROM (
    SELECT conv_id,
           sum(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx
                              ROWS UNBOUNDED PRECEDING) AS run_no
    FROM (
      SELECT conv_id, turn_idx,
             CASE WHEN template IS DISTINCT FROM
                    lag(template) OVER (PARTITION BY conv_id
                                        ORDER BY turn_idx)
                  THEN 1 ELSE 0 END AS new_run
      FROM rtruth
    )
  ) GROUP BY 1, 2
) GROUP BY 1
"""


def response_markers_sql(pre: str) -> str:
    return f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
m(marker) AS (VALUES ('i cannot'), ('i''m sorry'), ('unable to'),
              ('as an ai'), ('error'), ('failed'), ('timeout'))
SELECT t.role, m.marker,
  CAST(sum(CASE WHEN contains(lower(coalesce(t.text, '')), m.marker)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
  count(*) AS role_turns,
  round(sum(CASE WHEN contains(lower(coalesce(t.text, '')), m.marker)
            THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS share
FROM t CROSS JOIN m
GROUP BY 1, 2
"""


def trending_terms_sql(pre: str) -> str:
    return f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
tok AS (
  SELECT date_trunc('hour', ts) AS bucket,
         unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[^a-z]+'),
           x -> length(x) >= 3)) AS tok
  FROM t
), grain AS (
  SELECT bucket, tok, count(*) AS n FROM tok GROUP BY 1, 2
), rk AS (
  SELECT bucket, tok, n,
         row_number() OVER (PARTITION BY bucket
                            ORDER BY n DESC, tok ASC) AS rank
  FROM grain
)
SELECT bucket, tok AS token, n, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
"""


RECORDS = {
    "severity_counts": (
        q_severity_counts,
        lambda pre: pre + "SELECT severity_inferred, count(*) AS n_rows FROM parsed GROUP BY severity_inferred",
    ),
    # template_loops (operators/conversation.py): gaps-and-islands over
    # the truth templates — the same cross-implementation pinning as
    # template_stats (Spark masks live, DuckDB reads datagen truth).
    "template_loops": (q_template_loops, template_loops_sql),
    "tool_bigrams": (q_tool_bigrams, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
chain AS (
  SELECT conv_id, turn_idx, tool,
         lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool
  FROM t WHERE tool IS NOT NULL
),
c AS (
  SELECT prev_tool, tool, count(*) AS cnt
  FROM chain WHERE prev_tool IS NOT NULL GROUP BY 1, 2
)
SELECT prev_tool, tool, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / sum(cnt) OVER (), 6) AS share
FROM c
"""),
    "boilerplate_turns": (q_boilerplate_turns, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
           AS fingerprint,
         count(DISTINCT conv_id) AS n_convs,
         count(*) AS n_turns,
         min(substring(text, 1, 80)) AS example
  FROM t GROUP BY 1, 2
)
SELECT role, fingerprint, CAST(n_convs AS BIGINT) AS n_convs,
       CAST(n_turns AS BIGINT) AS n_turns, example
FROM g WHERE n_convs >= 3
"""),
    "conv_dedup": (q_conv_dedup, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
td AS (
  SELECT conv_id, turn_idx, md5(role || chr(31) || text) AS td FROM t
), fp AS (
  SELECT conv_id,
         md5(string_agg(td, '' ORDER BY turn_idx)) AS conv_digest,
         count(*) AS n_turns
  FROM td GROUP BY 1
)
SELECT conv_digest, CAST(min(n_turns) AS BIGINT) AS n_turns,
       CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS keep_conv_id
FROM fp GROUP BY 1
"""),
    "conv_near_dups": (q_conv_near_dups, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
sh AS (
  SELECT conv_id,
         list_distinct(list(md5(role || chr(31) || text))) AS s
  FROM t GROUP BY 1
), inv0 AS (
  SELECT conv_id, unnest(s) AS d FROM sh
), cap AS (
  SELECT least(greatest(20, count(*) // 100), 50) AS c FROM sh
), hot AS (
  SELECT d FROM inv0, cap GROUP BY d, c HAVING count(*) > c
),
inv AS (SELECT inv0.* FROM inv0 ANTI JOIN hot USING (d)),
sizes AS (SELECT conv_id, count(*) AS n FROM inv GROUP BY 1),
pairs AS (
  SELECT l.conv_id AS conv_a, r.conv_id AS conv_b, count(*) AS n_common
  FROM inv l JOIN inv r ON l.d = r.d AND l.conv_id < r.conv_id
  GROUP BY 1, 2
), j AS (
  SELECT conv_a, conv_b, n_common,
         n_common * 1.0 / (sa.n + sb.n - n_common) AS raw
  FROM pairs
  JOIN sizes sa ON conv_a = sa.conv_id
  JOIN sizes sb ON conv_b = sb.conv_id
)
SELECT conv_a, conv_b, CAST(n_common AS BIGINT) AS n_common,
       round(raw, 6) AS jaccard
FROM j WHERE raw >= 0.3
"""),
    "context_budget": (q_context_budget, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
p AS (
  SELECT conv_id, turn_idx,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')),
                                          '\\s+'))
         END AS ntok
  FROM t
),
s AS (
  SELECT conv_id, ntok,
         sum(ntok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS suffix
  FROM p
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(ntok) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN suffix <= 128 THEN 1 ELSE 0 END) AS BIGINT)
         AS turns_kept,
       CAST(sum(CASE WHEN suffix <= 128 THEN ntok ELSE 0 END) AS BIGINT)
         AS tokens_kept,
       count(*) > sum(CASE WHEN suffix <= 128 THEN 1 ELSE 0 END)
         AS truncated
FROM s GROUP BY 1
"""),
    "sft_pairs": (q_sft_pairs, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
r AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS resp,
         role || ': ' || coalesce(text, '') AS rendered
  FROM t
), w AS (
  SELECT conv_id, turn_idx, role, resp,
    coalesce(string_agg(rendered, chr(10)) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), '') AS prompt,
    count(*) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS n_context_turns
  FROM r
)
SELECT conv_id, turn_idx, prompt, resp AS response,
       CAST(n_context_turns AS BIGINT) AS n_context_turns,
       CAST(length(prompt) AS BIGINT) AS prompt_chars,
       CAST(length(resp) AS BIGINT) AS response_chars
FROM w WHERE role = 'assistant'
"""),
    "loss_spans": (q_loss_spans, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
seg AS (
  SELECT conv_id, turn_idx, role,
         length(coalesce(text, '')) AS text_len,
         length(role) + 4 + length(coalesce(text, '')) + 1 AS seg_len
  FROM t
), o AS (
  SELECT conv_id, turn_idx, role, text_len,
    coalesce(sum(seg_len) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + length(role) + 5 AS span_start,
    sum(seg_len) OVER (PARTITION BY conv_id) AS rendered_len
  FROM seg
)
SELECT conv_id, turn_idx,
       CAST(span_start AS BIGINT) AS span_start,
       CAST(text_len AS BIGINT) AS span_len,
       CAST(rendered_len AS BIGINT) AS rendered_len
FROM o WHERE role = 'assistant'
"""),
    "code_detect": (q_code_detect, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
f AS (
  SELECT role, trim(coalesce(text, '')) AS txt FROM t
), g AS (
  SELECT role,
         greatest(length(txt), 1) AS nc,
         len(regexp_extract_all(txt, '[{{}}\\[\\]();=<>]')) AS sym,
         list_filter(string_split_regex(txt, '\\s+'),
                     x -> x <> '') AS toks
  FROM f
), sc AS (
  SELECT role,
         6.0 * sym / nc
         + 1.5 * len(list_filter(toks,
                                 x -> contains(x, '=') OR suffix(x, ';')))
           / greatest(len(toks), 1) AS s
  FROM g
)
SELECT role, count(*) AS n_rows,
       CAST(sum(CASE WHEN s > 0.25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_code,
       round(sum(CASE WHEN s > 0.25 THEN 1 ELSE 0 END) * 1.0 / count(*),
             6) AS code_share,
       round(avg(s), 6) AS avg_score
FROM sc GROUP BY 1
"""),
    "norm_dedup_gain": (q_norm_dedup_gain, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         md5(coalesce(text, '')) AS rfp,
         md5(trim(regexp_replace(regexp_replace(
             lower(coalesce(text, '')), '[0-9]+', '#', 'g'),
             '\\s+', ' ', 'g'))) AS nfp
  FROM t
), a AS (
  SELECT role, count(*) AS n_rows,
         count(DISTINCT rfp) AS n_raw_distinct,
         count(DISTINCT nfp) AS n_norm_distinct
  FROM g GROUP BY 1
)
SELECT role, n_rows, n_raw_distinct, n_norm_distinct,
       round((n_rows - n_raw_distinct) * 1.0 / n_rows, 6)
         AS raw_dup_share,
       round((n_rows - n_norm_distinct) * 1.0 / n_rows, 6)
         AS norm_dup_share,
       round((n_raw_distinct - n_norm_distinct) * 1.0 / n_raw_distinct, 6)
         AS reveal_gain
FROM a
"""),
    "pii_propagation": (q_pii_propagation, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}'))
{_pii_propagation_sql()}
"""),
    "prefix_dups": (q_prefix_dups, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
p AS (
  SELECT role,
         md5(array_to_string(
           list_filter(string_split_regex(
             lower(trim(coalesce(text, ''))), '\\s+'), x -> x <> '')[1:8],
           ' ')) AS pfp
  FROM t
), g AS (
  SELECT role, pfp, count(*) AS c FROM p GROUP BY 1, 2
)
SELECT role,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_prefixes,
       round(1.0 - count(*) * 1.0 / sum(c), 6) AS prefix_dup_share,
       CAST(max(c) AS BIGINT) AS max_prefix_count
FROM g GROUP BY 1
"""),
    "trending_terms": (q_trending_terms, trending_terms_sql),
    "tool_latency": (q_tool_latency, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
l AS (
  SELECT tool, ts,
         lead(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM t
), lat AS (
  SELECT tool,
         epoch(nxt) - epoch(ts) AS lat_s
  FROM l WHERE tool IS NOT NULL AND nxt IS NOT NULL
)
SELECT tool, count(*) AS n_calls,
       round(quantile_cont(lat_s, 0.5), 4) AS p50_s,
       round(quantile_cont(lat_s, 0.95), 4) AS p95_s,
       round(quantile_cont(lat_s, 0.99), 4) AS p99_s,
       CAST(sum(CASE WHEN lat_s > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach,
       round(sum(CASE WHEN lat_s > 2.0 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS breach_share
FROM lat GROUP BY 1
"""),
    "cost_report": (q_cost_report, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
r AS (
  SELECT role,
    CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
    END AS ntok
  FROM t
), c AS (
  SELECT role, ntok,
         CAST(ntok AS DOUBLE) / 1000.0 *
         CASE role WHEN 'assistant' THEN 3.0 WHEN 'system' THEN 1.0
                   WHEN 'tool' THEN 0.5 WHEN 'user' THEN 1.0
                   ELSE 1.0 END AS cost
  FROM r
), a AS (
  SELECT role, count(*) AS n_turns,
         CAST(sum(ntok) AS BIGINT) AS n_tokens,
         sum(cost) AS cost_raw
  FROM c GROUP BY 1
), tt AS (SELECT sum(cost_raw) AS total FROM a)
SELECT role, n_turns, n_tokens,
       round(cost_raw, 4) AS cost,
       round(cost_raw / total, 6) AS cost_share
FROM a CROSS JOIN tt
"""),
    "string_profile": (q_string_profile, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}'))
SELECT 'conv_id' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(conv_id AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(conv_id AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(conv_id AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(conv_id AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(conv_id AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'role' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN role IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(role AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(role AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(role AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(role AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(role AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'text' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(text AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(text AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(text AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(text AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(text AS VARCHAR))), 4) AS avg_length
FROM t
UNION ALL
SELECT 'tool' AS column, count(*) AS n_rows,
       CAST(sum(CASE WHEN tool IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(sum(CASE WHEN length(trim(CAST(tool AS VARCHAR))) = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
       count(DISTINCT md5(CAST(tool AS VARCHAR))) AS n_distinct,
       CAST(min(length(CAST(tool AS VARCHAR))) AS INT) AS min_length,
       CAST(max(length(CAST(tool AS VARCHAR))) AS INT) AS max_length,
       round(avg(length(CAST(tool AS VARCHAR))), 4) AS avg_length
FROM t
"""),
    "verbosity_drift": (q_verbosity_drift, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
a AS (
  SELECT CAST(least(turn_idx // 2, 3) AS INT) AS depth_bucket,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')),
                                          '\\s+'))
         END AS ntok
  FROM t WHERE role = 'assistant'
), g AS (
  SELECT depth_bucket, count(*) AS n_turns,
         CAST(sum(ntok) AS BIGINT) AS s
  FROM a GROUP BY 1
), tt AS (
  SELECT CAST(sum(s) AS BIGINT) AS st,
         CAST(sum(n_turns) AS BIGINT) AS nt
  FROM g
)
SELECT depth_bucket, n_turns,
       round(s * 1.0 / n_turns, 4) AS mean_tokens,
       round((s * 1.0 / n_turns) / (st * 1.0 / nt), 6) AS vs_corpus_mean
FROM g CROSS JOIN tt
"""),
    "tool_lift": (q_tool_lift, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
nc AS (SELECT count(DISTINCT conv_id) AS n_convs FROM t),
ct AS (
  SELECT DISTINCT conv_id, tool FROM t WHERE tool IS NOT NULL
), pair AS (
  SELECT a.tool AS tool_a, b.tool AS tool_b, count(*) AS n_both
  FROM ct a JOIN ct b
    ON a.conv_id = b.conv_id AND a.tool < b.tool
  GROUP BY 1, 2
), single AS (
  SELECT tool, count(*) AS n FROM ct GROUP BY 1
)
SELECT tool_a, tool_b, n_both,
       round(n_both * 1.0 / n_convs, 6) AS support,
       round((CAST(n_both AS DOUBLE) * CAST(n_convs AS DOUBLE))
             / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)), 6) AS lift
FROM pair
JOIN single sa ON tool_a = sa.tool
JOIN single sb ON tool_b = sb.tool
CROSS JOIN nc
WHERE n_both >= 50
"""),
    "dup_source_matrix": (q_dup_source_matrix, lambda pre: f"""
WITH grain AS (
  SELECT DISTINCT
    md5(lower(regexp_replace(trim(coalesce(text, '')), '\\s+', ' ', 'g')))
      AS fp,
    role AS src
  FROM read_parquet('{_transcripts_path()}')
)
SELECT a.src AS source_a, b.src AS source_b,
       count(*) AS n_shared
FROM grain a JOIN grain b ON a.fp = b.fp AND a.src < b.src
GROUP BY 1, 2
"""),
    "response_markers": (q_response_markers, response_markers_sql),
    "preference_pairs": (q_preference_pairs, lambda pre: pre + """
, cand AS (
  SELECT conv_id, turn_idx, role, text,
    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prev_role,
    lag(template) OVER (PARTITION BY conv_id ORDER BY turn_idx)
      AS prompt_template
  FROM rtruth
), sc AS (
  SELECT prompt_template, conv_id, turn_idx,
    len(list_distinct(list_filter(
      string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'),
      x -> x <> ''))) AS score
  FROM cand WHERE role = 'assistant' AND prev_role IS NOT NULL
), k AS (
  SELECT *,
    lpad(CAST(score AS VARCHAR), 8, '0') || '|' || conv_id || '|'
      || lpad(CAST(turn_idx AS VARCHAR), 8, '0') AS ordkey
  FROM sc
), a AS (
  SELECT prompt_template, count(*) AS n_candidates,
    arg_max(conv_id, ordkey) AS chosen_conv,
    arg_max(turn_idx, ordkey) AS chosen_turn,
    arg_max(score, ordkey) AS chosen_score,
    arg_min(conv_id, ordkey) AS rejected_conv,
    arg_min(turn_idx, ordkey) AS rejected_turn,
    arg_min(score, ordkey) AS rejected_score
  FROM k GROUP BY 1
)
SELECT md5(prompt_template) AS prompt_fp, prompt_template,
       CAST(n_candidates AS BIGINT) AS n_candidates,
       chosen_conv, chosen_turn,
       CAST(chosen_score AS BIGINT) AS chosen_score,
       rejected_conv, rejected_turn,
       CAST(rejected_score AS BIGINT) AS rejected_score,
       CAST(chosen_score - rejected_score AS BIGINT) AS score_gap
FROM a WHERE n_candidates >= 2
"""),
    "echo_rate": (q_echo_rate, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
w AS (
  SELECT conv_id, turn_idx, role, coalesce(text, '') AS resp,
    coalesce(string_agg(coalesce(text, ''), ' ') OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING), '') AS ctx
  FROM t
), tok AS (
  SELECT conv_id, turn_idx,
    list_distinct(list_filter(
      string_split_regex(lower(trim(resp)), '\\s+'), x -> x <> ''))
      AS rt,
    list_distinct(list_filter(
      string_split_regex(lower(trim(ctx)), '\\s+'), x -> x <> ''))
      AS ct
  FROM w WHERE role = 'assistant'
)
SELECT conv_id, turn_idx,
       CAST(len(rt) AS BIGINT) AS n_resp_tokens,
       CAST(len(list_intersect(rt, ct)) AS BIGINT) AS n_echoed,
       CASE WHEN len(rt) = 0 THEN 0.0
            ELSE round(len(list_intersect(rt, ct)) * 1.0 / len(rt), 6)
       END AS echo_rate
FROM tok
"""),
    "role_transitions": (q_role_transitions, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
seq AS (
  SELECT role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM t
),
c AS (
  SELECT prev_role, role, count(*) AS cnt
  FROM seq WHERE prev_role IS NOT NULL GROUP BY 1, 2
)
SELECT prev_role, role, CAST(cnt AS BIGINT) AS count,
       round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY prev_role), 6)
         AS row_share
FROM c
"""),
    "conv_depth_stats": (q_conv_depth_stats, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
d AS (SELECT conv_id, count(*) AS depth FROM t GROUP BY 1),
h AS (SELECT depth, count(*) AS n_convs FROM d GROUP BY 1)
SELECT CAST(depth AS BIGINT) AS depth, CAST(n_convs AS BIGINT) AS n_convs,
       round(n_convs * 1.0 / sum(n_convs) OVER (), 6) AS conv_share,
       CAST(depth * n_convs AS BIGINT) AS n_turns
FROM h
"""),
    "turn_gaps": (q_turn_gaps, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
g AS (
  SELECT role,
         (epoch_us(ts) - lag(epoch_us(ts))
            OVER (PARTITION BY conv_id ORDER BY turn_idx)) / 1000000.0
           AS gap_s
  FROM t
)
SELECT role, CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 6) AS p50,
       round(quantile_cont(gap_s, 0.9), 6) AS p90,
       round(quantile_cont(gap_s, 0.99), 6) AS p99
FROM g WHERE gap_s IS NOT NULL GROUP BY role
"""),
    "constraint_audit": (q_constraint_audit, lambda pre: f"""
WITH t AS (SELECT * FROM read_parquet('{_transcripts_path()}')),
m AS (
  SELECT
    round(count(conv_id)*1.0/count(*), 6) AS conv_complete,
    round(count(text)*1.0/count(*), 6) AS text_complete,
    round(count(DISTINCT (conv_id, turn_idx))*1.0/count(*), 6) AS pk_unique,
    round(sum(CASE WHEN role IN ('user','assistant','system','tool')
              THEN 1 ELSE 0 END)*1.0/count(role), 6) AS role_domain,
    round(sum(CASE WHEN regexp_matches(tool, '^tool_\\d$')
              THEN 1 ELSE 0 END)*1.0/count(tool), 6) AS tool_short,
    round(min(turn_idx)*1.0, 6) AS turn_nonneg,
    round(min(epoch_us(ts)/1000000.0), 6) AS ts_after_2025,
    round(count(*)*1.0, 6) AS nonempty,
    round(sum(CASE WHEN tool IN (
                SELECT tool FROM read_parquet('{_tool_dim_path()}'))
              THEN 1 ELSE 0 END)*1.0/count(tool), 6) AS tool_ri
  FROM t
)
SELECT * FROM (
  SELECT 'conv_complete' AS constraint, 'completeness' AS kind,
         'conv_id' AS "column", conv_complete AS metric, 1.0 AS threshold,
         '>=' AS op, CASE WHEN conv_complete >= 1.0 THEN 1 ELSE 0 END AS passed
  FROM m
  UNION ALL SELECT 'text_complete', 'completeness', 'text', text_complete,
         1.0, '>=', CASE WHEN text_complete >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'pk_unique', 'uniqueness', 'conv_id,turn_idx', pk_unique,
         1.0, '>=', CASE WHEN pk_unique >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'role_domain', 'domain', 'role', role_domain,
         1.0, '>=', CASE WHEN role_domain >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'tool_short', 'pattern', 'tool', tool_short,
         1.0, '>=', CASE WHEN tool_short >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'turn_nonneg', 'min_value', 'turn_idx', turn_nonneg,
         0.0, '>=', CASE WHEN turn_nonneg >= 0.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'ts_after_2025', 'min_value', 'ts', ts_after_2025,
         1735689600.0, '>=',
         CASE WHEN ts_after_2025 >= 1735689600.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'nonempty', 'row_count', '', nonempty,
         1.0, '>=', CASE WHEN nonempty >= 1.0 THEN 1 ELSE 0 END FROM m
  UNION ALL SELECT 'tool_ri', 'ref_integrity', 'tool', tool_ri,
         1.0, '>=', CASE WHEN tool_ri >= 1.0 THEN 1 ELSE 0 END FROM m
)
"""),
}
