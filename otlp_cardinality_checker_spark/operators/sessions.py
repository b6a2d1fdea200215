"""Session snapshot / additive merge / diff (SURVEY.md §2.1 S3-S4, §2.7, §3.3).

Reference semantics:

* Snapshot = serialize all aggregate state incl. HLL registers
  (`/root/reference/internal/storage/sessions/serializer.go:590-697`).
  Here a session is simply the aggregate DataFrames persisted as a
  versioned table; sketches are binary columns (``hll_sketch_agg`` output),
  so snapshots stay mergeable.
* Merge = additive union (`internal/api/sessions.go:459-466`): counts sum,
  sketches union (`hll_union_agg`) — HLL-correct, verified by the reference's
  own `TestMerge_CardinalityAccuracy` (`sessions_test.go:767-807`).
* Diff = name-aligned full-outer comparison producing added / removed /
  changed with severity grading (`computeDiff` `sessions.go:608-685`;
  thresholds `pkg/models/diff.go:135-152`: ratio >=10x critical, >=2x
  warning; new key with cardinality >=1000 warning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CRITICAL_RATIO = 10.0
WARNING_RATIO = 2.0
NEW_KEY_WARNING_CARDINALITY = 1000

# the columns of a snapshot, as snapshot_key_stats and merge_snapshots make
# them; readers of written state declare it instead of inferring it
STATE_SCHEMA = (
    "sink string, key string, count bigint, hll binary, "
    "samples array<string>, has_invalid_utf8 boolean"
)


def snapshot_key_stats(routed: DataFrame) -> DataFrame:
    """Mergeable session snapshot of per-(sink,key) state.

    Carries the *sketch itself* (binary), not the estimate, so later merges
    stay exact-in-distribution — the Spark analogue of serializing HLL
    registers. Folded from the same bounded (sink, key, salt) partials as
    ``aggregate.key_stats``. Over a one-partition ``routed`` the folds
    need no exchange, so the snapshot is one stage (one job to write).
    """
    from .aggregate import _merged_samples, attr_partials

    return attr_partials(routed).groupBy("sink", "key").agg(
        F.sum("_cnt").alias("count"),
        F.hll_union_agg("_hll").alias("hll"),
        _merged_samples().alias("samples"),
        F.max("_taint").alias("has_invalid_utf8"),
    )


def merge_snapshots(*snapshots: DataFrame) -> DataFrame:
    """Additive union of session snapshots (U2).

    Snapshots hold O(#keys) rows, so the union is folded on one partition:
    a one-partition input satisfies the grouping's distribution, the fold
    needs no shuffle, and the merged frame is one partition (one file
    when written). A union's HLL estimate can depend on the order its
    sketches are merged in; this fold merges them in the input's row
    order on any number of cores, where a shuffled merge's order followed
    how the scan packed files into tasks."""
    from .aggregate import _merged_samples

    unioned = snapshots[0]
    for s in snapshots[1:]:
        unioned = unioned.unionByName(s)
    return unioned.coalesce(1).groupBy("sink", "key").agg(
        F.sum("count").alias("count"),
        F.hll_union_agg("hll").alias("hll"),
        _merged_samples("samples").alias("samples"),
        F.max("has_invalid_utf8").alias("has_invalid_utf8"),
    )


def estimate(snapshot: DataFrame) -> DataFrame:
    return snapshot.select(
        "sink",
        "key",
        "count",
        F.hll_sketch_estimate("hll").alias("est_cardinality"),
        F.array_join("samples", "|").alias("value_samples"),
        "has_invalid_utf8",
    )


def save_session(snapshot: DataFrame, path: str) -> None:
    """Persist a session snapshot (S3). Sketches are raw binary columns, so
    the saved session stays mergeable — the Spark analogue of serializing
    HLL registers (`sessions/serializer.go:590-697`, base64 in the
    reference's gzip JSON; a parquet BINARY column here)."""
    snapshot.write.mode("overwrite").parquet(path)


def load_session(spark, path: str) -> DataFrame:
    """Load a saved session snapshot (S4); composable with
    :func:`merge_snapshots` for the reference's load/merge semantics
    (`internal/api/sessions.go:239-466`)."""
    return spark.read.parquet(path)


def _graded_key_diff(joined: DataFrame) -> DataFrame:
    """change_type and severity of (sink, key) diff rows carrying
    count_from/count_to/card_from/card_to (a null ``from`` side: added;
    null ``to``: removed)."""
    change = (
        F.when(F.col("count_from").isNull(), F.lit("added"))
        .when(F.col("count_to").isNull(), F.lit("removed"))
        .when(
            (F.col("count_from") != F.col("count_to"))
            | (F.col("card_from") != F.col("card_to")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    ratio = F.col("card_to") / F.nullif(F.col("card_from"), F.lit(0))
    severity = (
        F.when(
            (change == "added")
            & (F.col("card_to") >= NEW_KEY_WARNING_CARDINALITY),
            F.lit("warning"),
        )
        .when((change == "changed") & (ratio >= CRITICAL_RATIO), F.lit("critical"))
        .when((change == "changed") & (ratio >= WARNING_RATIO), F.lit("warning"))
        .otherwise(F.lit("info"))
    )
    return joined.select(
        "sink",
        "key",
        change.alias("change_type"),
        severity.alias("severity"),
        "count_from",
        "count_to",
        "card_from",
        "card_to",
    )


def diff_key_stats(from_stats: DataFrame, to_stats: DataFrame) -> DataFrame:
    """Full-outer diff of two (sink, key, count, est_cardinality) states.

    Output: one row per (sink, key) present in either side with
    change_type in (added, removed, changed, unchanged) and
    severity in (critical, warning, info).
    """
    a = from_stats.select(
        "sink",
        "key",
        F.col("count").alias("count_from"),
        F.col("est_cardinality").alias("card_from"),
    )
    b = to_stats.select(
        "sink",
        "key",
        F.col("count").alias("count_to"),
        F.col("est_cardinality").alias("card_to"),
    )
    return _graded_key_diff(a.join(b, ["sink", "key"], "full_outer"))


def diff_from_predicate(routed: DataFrame, from_pred: F.Column) -> DataFrame:
    """Single-scan session diff for the prefix-vs-now pattern.

    When the "from" session is a predicate-subset of the "to" session (the
    reference's commonest diff: an earlier checkpoint of the SAME stream vs
    now, `internal/api/sessions.go:608-685`), running
    ``diff_key_stats(key_stats(subset), key_stats(full))`` parses and
    explodes the corpus twice — the regex parse is the dominant cost, so
    the diff pays ~1.6x the work it needs. This fuses both sides into ONE
    exploded-attrs pass with conditional aggregation:

    * value grain: per (sink, key, salt, value) count rows overall
      (``to``) and rows satisfying ``from_pred`` (``from``);
    * salt grain: exact distinct = count of values / values with a
      ``from`` occurrence (rows are distinct values, salts are disjoint);
    * final: sums across salts, then the same change/severity grading as
      :func:`diff_key_stats`, with the ``from`` side nulled where the key
      never occurred under the predicate. Keys only in "from" cannot
      exist (from ⊆ to), so "removed" never occurs here.

    Output is row-identical to the two-pass form (asserted in
    tests/test_sessions.py) — same columns, same grading — at one parse,
    one shuffle chain.
    """
    from .aggregate import _salt, exploded_attrs

    attrs = exploded_attrs(routed).withColumn(
        "_in_from", from_pred.cast("int")
    )
    vals = attrs.groupBy(
        "sink", "key", _salt("value").alias("_salt"), "value"
    ).agg(
        F.count(F.lit(1)).alias("_vc_to"),
        F.sum("_in_from").alias("_vc_from"),
    )
    partial = vals.groupBy("sink", "key", "_salt").agg(
        F.sum("_vc_to").alias("_cnt_to"),
        F.sum("_vc_from").alias("_cnt_from"),
        F.count(F.lit(1)).alias("_dcard_to"),
        F.sum((F.col("_vc_from") > 0).cast("long")).alias("_dcard_from"),
    )
    agg = partial.groupBy("sink", "key").agg(
        F.sum("_cnt_to").alias("count_to"),
        F.sum("_cnt_from").alias("_count_from_raw"),
        F.sum("_dcard_to").alias("card_to"),
        F.sum("_dcard_from").alias("_card_from_raw"),
    )
    present_from = F.col("_count_from_raw") > 0
    return _graded_key_diff(
        agg.select(
            "sink",
            "key",
            F.when(present_from, F.col("_count_from_raw")).alias("count_from"),
            F.when(present_from, F.col("_card_from_raw")).alias("card_from"),
            "count_to",
            "card_to",
        )
    )


def _graded_service_diff(joined: DataFrame) -> DataFrame:
    """change_type and sample-count delta of (sink, service, severity)
    diff rows carrying count_from/count_to."""
    change = (
        F.when(F.col("count_from").isNull(), F.lit("added"))
        .when(F.col("count_to").isNull(), F.lit("removed"))
        .when(F.col("count_from") != F.col("count_to"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        "sink",
        "service",
        "severity",
        change.alias("change_type"),
        "count_from",
        "count_to",
        (F.coalesce("count_to", F.lit(0)) - F.coalesce("count_from", F.lit(0)))
        .cast("long")
        .alias("delta"),
    )


def service_diff_from_predicate(
    routed: DataFrame, from_pred: F.Column
) -> DataFrame:
    """Single-scan service-grain diff (prefix-vs-now pattern): one
    aggregation with a conditional "from" count instead of two parse
    branches; output row-identical to
    ``diff_service_stats(service_grain_stats(subset),
    service_grain_stats(full))`` when the subset is ``from_pred``."""
    agg = routed.groupBy("sink", "service", "severity").agg(
        F.count(F.lit(1)).alias("count_to"),
        F.sum(from_pred.cast("long")).alias("_from_raw"),
    )
    return _graded_service_diff(
        agg.select(
            "sink",
            "service",
            "severity",
            F.when(F.col("_from_raw") > 0, F.col("_from_raw")).alias(
                "count_from"
            ),
            "count_to",
        )
    )


def service_grain_stats(routed: DataFrame) -> DataFrame:
    """(sink, service, severity) sample counts — the grain the reference's
    per-service diff entries compare."""
    return routed.groupBy("sink", "service", "severity").agg(
        F.count(F.lit(1)).alias("sample_count")
    )


def diff_service_stats(
    from_stats: DataFrame, to_stats: DataFrame
) -> DataFrame:
    """Service-grain diff (the reference's per-service diff entries,
    `sessions.go:608-685` over the service|severity grain): full-outer on
    (sink, service, severity) with sample-count deltas and the same
    added/removed/changed classification as the key-grain diff."""
    a = from_stats.select(
        "sink",
        "service",
        "severity",
        F.col("sample_count").alias("count_from"),
    )
    b = to_stats.select(
        "sink",
        "service",
        "severity",
        F.col("sample_count").alias("count_to"),
    )
    return _graded_service_diff(
        a.join(b, ["sink", "service", "severity"], "full_outer")
    )


_SEVERITIES = ("info", "warning", "critical")  # ascending


def filter_diff(
    diff: DataFrame,
    signal_type: str | None = None,
    key_contains: str | None = None,
    min_severity: str | None = None,
) -> DataFrame:
    """Diff output filters (reference `internal/api/sessions.go:571-603`):
    by signal (sink), by a key substring (the reference's service filter,
    re-targeted: this grain's entity name is the attribute key), and by
    minimum severity (info < warning < critical). All three push down to
    the diff scan as plain Catalyst predicates.
    """
    out = diff
    if signal_type:
        out = out.where(F.col("sink") == signal_type)
    if key_contains:
        out = out.where(F.col("key").contains(key_contains))
    if min_severity:
        at_least = _SEVERITIES[_SEVERITIES.index(min_severity):]
        out = out.where(F.col("severity").isin(*at_least))
    return out
