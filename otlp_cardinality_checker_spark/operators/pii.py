"""PII / sensitive-token detection and redaction over transcript text.

Training pipelines scrub identifiers before text reaches a model. This
module provides the scan (per-turn counts per pattern class), the redaction
(placeholder substitution), and the per-sink audit aggregate, all as pure
Catalyst expressions — a scan + project + hash-agg that holds up at 100 TB
(no UDFs, no shuffle beyond the final aggregate).

Patterns are RE2-safe (no lookarounds, explicit ASCII classes) so the
DuckDB oracle evaluates the exact same automaton; Java's `regexp_extract_all`
and DuckDB's produce identical non-overlapping leftmost match sets for
these expressions (the ASCII-class parity rules from functions/masking.py).

Redaction order matters and is part of the contract: UUIDs are replaced
before long digit runs so a UUID's 12-hex tail is never double-counted as
an account number; IPv4 octets (<=3 digits) can never reach the >=6-digit
run pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, regex, placeholder) — ordered: redaction applies top to bottom.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    (
        # case-insensitive hex classes: uppercase/mixed-case UUIDs must hit
        # this rule (not escape to the digit-only longnum fallback), matching
        # the masking-table UUID rule's [0-9a-fA-F] acceptance.
        "uuid",
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "<UUID>",
    ),
    (
        "email",
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        "<EMAIL>",
    ),
    (
        "ipv4",
        "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
        "<IP>",
    ),
    ("longnum", "[0-9]{6,}", "<NUM>"),
)


def _redact_chain(text: Column, upto: int) -> Column:
    """Text with the first `upto` pattern classes already replaced."""
    out = text
    for name, pat, placeholder in PII_PATTERNS[:upto]:
        out = F.regexp_replace(out, pat, placeholder)
    return out


def pii_scan(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-turn PII hit counts + the fully redacted text.

    Counts for pattern class i are taken on text already redacted by
    classes 0..i-1, so classes never double-count each other's bytes.
    """
    base = F.coalesce(F.col(text_col), F.lit(""))
    cols = list(turns.columns)
    out = turns.withColumn(text_col, base)
    for i, (name, pat, _ph) in enumerate(PII_PATTERNS):
        staged = _redact_chain(F.col(text_col), i)
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(staged, F.lit(pat), F.lit(0))),
        )
    return out.withColumn(
        "redacted", _redact_chain(F.col(text_col), len(PII_PATTERNS))
    ).select(
        *cols,
        *[f"n_{name}" for name, _p, _ph in PII_PATTERNS],
        "redacted",
    )


def pii_stats(routed: DataFrame) -> DataFrame:
    """Per-sink PII audit: turn volume, turns containing any PII, hit
    totals per class, and the distinct-redacted-text count (how much
    cardinality redaction removes — the tie-in to the cardinality
    pipeline's reason for existing)."""
    scanned = pii_scan(routed)
    any_pii = sum(
        (F.col(f"n_{name}") for name, _p, _ph in PII_PATTERNS),
        start=F.lit(0),
    ) > 0
    return scanned.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(any_pii.cast("long")).alias("n_pii_turns"),
        *[
            F.sum(f"n_{name}").alias(f"total_{name}")
            for name, _p, _ph in PII_PATTERNS
        ],
        F.count_distinct(F.col("redacted")).alias("n_distinct_redacted"),
        F.count_distinct(F.col("text")).alias("n_distinct_raw"),
    )


def pii_propagation(turns: DataFrame, text_col: str = "text") -> DataFrame:
    """PII propagation audit: once a concrete identifier value (a UUID,
    email, IP, long number) enters a conversation, does it REAPPEAR in
    later turns? Redaction-at-ingest only has to catch the first
    occurrence; assistant echoes, tool results, and quoted context then
    re-leak the same value — the propagation rate is the number that
    says whether per-turn scanning suffices or conversation-level
    scrubbing is needed.

    Pattern class i is extracted from text already redacted by classes
    0..i-1 — the SAME staging contract as `pii_scan` (a UUID's 12-hex
    tail never double-counts as a long number).

    Output grain: one row per pattern class with >=1 match —
    ``(kind, n_values, n_propagated, propagation_rate,
    max_spread_turns, avg_spread_turns)`` where a "value" is a distinct
    (conversation, matched string) pair, "propagated" means it appears
    in more than one distinct turn, and spread is last_turn -
    first_turn (avg over propagated values only).

    Scale shape: ONE scan (the four staged extracts fold into one
    projection; per-kind match arrays flatten into a single explode);
    then one hash agg to the (kind, conv, value) grain — bounded by
    actual match volume, not turns — and a tiny per-kind fold. Matched
    strings are short (<= a few dozen bytes) so the value-grain shuffle
    stays narrow; swap in md5(v) as the group key if a corpus ever
    carries pathological match lengths.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))

    # a 1-arg closure per kind: a 2-parameter lambda would be read by
    # F.transform as (element, index) and the index would shadow the kind
    def _tag(kind: str):
        return lambda v: F.struct(F.lit(kind).alias("kind"), v.alias("v"))

    arrs = [
        F.transform(
            F.regexp_extract_all(
                _redact_chain(txt, i), F.lit(pat), F.lit(0)
            ),
            _tag(name),
        )
        for i, (name, pat, _ph) in enumerate(PII_PATTERNS)
    ]
    hits = (
        turns.select(
            "conv_id",
            "turn_idx",
            F.explode_outer(F.flatten(F.array(*arrs))).alias("h"),
        )
        .where(F.col("h").isNotNull())
        .select("conv_id", "turn_idx", F.col("h.kind").alias("kind"),
                F.col("h.v").alias("v"))
    )
    per_val = hits.groupBy("kind", "conv_id", "v").agg(
        F.countDistinct("turn_idx").alias("n_turns"),
        F.min("turn_idx").alias("ft"),
        F.max("turn_idx").alias("lt"),
    )
    return per_val.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum((F.col("n_turns") > 1).cast("long")).alias("n_propagated"),
        F.round(
            F.sum((F.col("n_turns") > 1).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("propagation_rate"),
        F.max((F.col("lt") - F.col("ft")).cast("long")).alias(
            "max_spread_turns"
        ),
        F.round(
            F.avg(
                F.when(
                    F.col("n_turns") > 1, F.col("lt") - F.col("ft")
                )
            ),
            4,
        ).alias("avg_spread_turns"),
    )


def dp_counts(
    df: DataFrame,
    by: str = "source",
    epsilon: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Differentially-private count release AUDIT: per-group row counts
    with Laplace(1/epsilon) noise, shown NEXT TO the true counts so a
    privacy review can calibrate epsilon before anything ships (the
    released artifact would carry only the noised column; this operator
    is the pre-release audit of the noise magnitude, like
    `winsorize_audit` is for clipping).

    The noise is DETERMINISTIC: the Laplace sample is inverse-CDF over a
    uniform derived from ``md5(salt || group)`` (the package's standard
    cross-engine md5-prefix integer idiom) — so the audit reproduces
    bit-for-bit on any engine and a different ``salt`` is an independent
    re-release. Swapping the hash-uniform for a secure RNG is the ONLY
    change production release needs; every other line (sensitivity-1
    count query, scale 1/epsilon, inverse-CDF transform) is the real DP
    mechanism.

    Output grain: one row per group — ``(by, true_count, epsilon,
    noise, released_count)`` (noise/released rounded 4dp; the ln's
    argument is clamped at 1e-12 so a pathological hash landing exactly
    on the distribution edge cannot produce infinity).

    Scale shape: ONE map-side-combined count agg; the noise expression
    runs on the tiny group grain.
    """
    n = F.count(F.lit(1)).alias("true_count")
    agg = df.groupBy(F.col(by).alias("grp")).agg(n)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt), F.col("grp"))), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    v = u - F.lit(0.5)
    mag = F.greatest(F.lit(1.0) - F.lit(2.0) * F.abs(v), F.lit(1e-12))
    noise = (
        F.lit(-1.0 / epsilon) * F.signum(v) * F.log(mag)
    )
    return agg.select(
        F.col("grp").alias(by),
        "true_count",
        F.lit(epsilon).alias("epsilon"),
        F.round(noise, 4).alias("noise"),
        F.round(F.col("true_count") + noise, 4).alias("released_count"),
    )
