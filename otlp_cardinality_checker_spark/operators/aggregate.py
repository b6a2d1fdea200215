"""Aggregate stage: mergeable per-key statistics (SURVEY.md §2.4).

Every aggregate here is the Spark-native form of the reference's
partial+final merge design (`MergeKeyMetadata`,
`/root/reference/pkg/models/metadata.go:510-556`): hash aggregation with
map-side combine, so the semantics distribute exactly.

Cardinality estimation has two modes:

* ``exact=True`` — ``count_distinct``: used by the DuckDB-oracle parity
  queries (estimates can never hash-match across engines) and mirrors the
  reference's exact region for <=10 uniques (`metadata.go:442-450`).
* ``exact=False`` — **salted two-stage HLL**: stage 1 groups by
  ``(group, salt = pmod(hash(value), N_SALT), value)`` and computes
  ``hll_sketch_agg`` partials per (group, salt), stage 2 unions them with
  ``hll_union_agg`` (mergeable sketches, reference `hll.go:156-168`).
  The salt hashes the attribute value, so the salts split a group's
  distinct values into disjoint sets: that is why per-salt exact distinct
  counts sum to the exact count and per-salt sketches union exactly. It
  also fans one hot group (few roles/tools at 10^12 turns) across N_SALT
  reducers.

First-N value samples: the reference keeps the first 10 unique values and
*sorts them at output* (`metadata.go:428-436`), so the deterministic
distributable equivalent is the 10 lexicographically-smallest distinct
values: min-10 of per-partition min-10s == global min-10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_CAP = 10
WATCHED_VALUE_CAP = 10_000
HIGH_CARDINALITY_DEFAULT_THRESHOLD = 100
HLL_LG_K = 12  # ~1.6% rel. err (reference uses precision 10 ≈ same class)
N_SALT = 16  # salts per group in every two-stage aggregate (see _salt)
_TS_FORMAT = "yyyy-MM-dd HH:mm:ss"
_KEY_STATS_COLUMNS = (
    "sink", "key", "count", "est_cardinality", "value_samples",
    "has_invalid_utf8", "pct",
)
_CATALOG_COLUMNS = (
    "key", "count", "est_cardinality", "signal_types", "value_samples",
    "first_seen", "last_seen", "has_invalid_utf8",
)


def _salt(col: str) -> F.Column:
    """The salt of every two-stage aggregate here, ``pmod(hash(col),
    N_SALT)``. N_SALT is read at call time, so a test can change it."""
    return F.pmod(F.hash(col), F.lit(N_SALT))


def exploded_attrs(
    routed: DataFrame,
    cols: tuple[str, ...] = ("sink", "conv_id", "turn_idx", "ts"),
) -> DataFrame:
    """Long-form attribute rows: `cols` + (key, value) per map entry.

    The single explode helper for every long-form consumer (aggregates,
    catalog, overview queries) — carry different context columns via
    ``cols`` rather than re-implementing the explode, so the attribute
    long-form shape can only ever change in one place.
    """
    # explode_outer + key guard: inner explode gets an inferred
    # `size(attrs) > 0` pre-filter that re-evaluates the 26-expression
    # attrs map a second time per row (see dedup._capped_inverted_index;
    # measured ~30% off this exploded scan at sf0.1). Map keys are never
    # null, so the guard exactly restores inner-explode semantics.
    return routed.select(
        *cols,
        F.explode_outer("attrs").alias("key", "value"),
    ).where(F.col("key").isNotNull())


def sink_totals(routed: DataFrame) -> DataFrame:
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("sink_rows"))


def salted_top_k(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: tuple,
    k: int = 1,
    salt_col: str = "value",
    keep_rank: bool = False,
) -> DataFrame:
    """Two-stage top-k per group with bounded reducers (the shared shape
    behind watched_values, key_skew and sampling — use it for top-k with
    k > 1 or when rank is needed; a pure per-group argmax is cheaper as
    one max_by hash agg, see graph.survivor_by_score): rank within
    (group, salt) first — any global top-k row is in its salt's top-k.

    Memory bound: stage 1 keeps at most k rows per (group, salt), so the
    final window sorts at most ``N_SALT * k`` rows per group, however
    large the group; the stage-1 windows are sorts, which spill (pinned
    by test_salted_top_k_equals_global_window). Helper columns are
    dropped (``keep_rank=True`` keeps the final rank as ``rank``); ties
    must be fully broken by order_cols for determinism."""
    w1 = Window.partitionBy(*partition_cols, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    out = (
        df.withColumn("_salt", _salt(salt_col))
        .withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .withColumn("_rank", F.row_number().over(w2))
        .where(F.col("_rank") <= k)
        .drop("_salt", "_r")
    )
    if keep_rank:
        return out.withColumnRenamed("_rank", "rank")
    return out.drop("_rank")


def global_top_k(
    df: DataFrame,
    order_cols: tuple,
    k: int,
    salt_col: str,
    rank_name: str = "rank",
) -> DataFrame:
    """GLOBAL top-k with exact ranks 1..k, bounded at any scale.

    ``row_number`` over a partition spec that is a NON-FOLDABLE constant
    (``pmod(hash(salt_col), 1)`` == 0 for every row). Why this exact
    shape (soaked at 20M rows, scripts/soak_global_topk.py):

    * With a non-empty partition spec and a ``rank <= k`` filter, the
      optimizer inserts **WindowGroupLimit** (SPARK-37099): each map
      partition keeps only its local top-k BEFORE the exchange, so the
      single reducer sees <= k x #partitions survivors, never the
      data-sized frame — the engine performs the two-stage top-k this
      helper used to hand-build with salts (the hand-built form measured
      4.3 s vs 0.2 s warm at 20M rows: its stage-1 shuffled ALL rows
      into N_SALT partitions, which WindowGroupLimit never does).
    * A bare ``Window.orderBy(...)`` is also optimized (limit pushdown,
      SPARK-37867) but keeps the empty partition spec, so WindowExec
      logs its "moving all data to a single partition" warning on every
      run; the constant spec retires the warning so sweep logs only
      ever flag genuinely unbounded windows.
    * The constant must be non-foldable — a plain ``lit(0)`` is
      constant-folded away and the empty spec (and the warning) return.

    ``order_cols`` must be a total order (ties fully broken) so ranks
    are deterministic; equality with the naive single-window form is
    pinned by test_global_rank_windows_are_two_stage and the 20M-row
    soak.
    """
    w = Window.partitionBy(F.pmod(F.hash(salt_col), F.lit(1))).orderBy(
        *order_cols
    )
    return (
        df.withColumn(rank_name, F.row_number().over(w))
        .where(F.col(rank_name) <= k)
    )


def value_grain(
    attrs: DataFrame,
    cols: list[str],
    with_sinks: bool = False,
) -> DataFrame:
    """Stage 1 of every bounded attribute aggregate: hash-agg DEDUP to the
    (cols, salt, value) grain, then rank values within each salt.

    Order of operations is the whole trick:

    * the dedup is a spillable hash aggregation with MAP-SIDE COMBINE —
      duplicate values collapse before the shuffle (a window-first design
      shuffles and sorts every raw row; measured 30% slower end-to-end);
    * the row_number window then runs over DISTINCT values only —
      streaming over a much smaller sort, still nothing buffers;
    * the salt is :func:`_salt` of the value (see the module docstring).
    """
    aggs = [
        F.count(F.lit(1)).alias("_vc"),
        F.min("ts").alias("_tmin"),
        F.max("ts").alias("_tmax"),
    ]
    if with_sinks:
        aggs.append(F.collect_set("sink").alias("_vsinks"))
    vals = attrs.groupBy(*cols, _salt("value").alias("_salt"), "value").agg(
        *aggs
    )
    w = Window.partitionBy(*cols, "_salt").orderBy("value")
    return vals.withColumn("_dr", F.row_number().over(w))


def _partial_aggs() -> list[F.Column]:
    """(group, _salt)-grain aggregates over a value_grain frame. The
    collect_set is guarded by the rank, so its buffer holds at most
    SAMPLE_CAP values per salt group; _dcard is exact per salt (rows are
    distinct values) and sums exactly across disjoint salts."""
    return [
        F.sum("_vc").alias("_cnt"),
        F.count(F.lit(1)).alias("_dcard"),
        F.hll_sketch_agg("value", F.lit(HLL_LG_K)).alias("_hll"),
        F.slice(
            F.sort_array(
                F.collect_set(
                    F.when(F.col("_dr") <= SAMPLE_CAP, F.col("value"))
                )
            ),
            1,
            SAMPLE_CAP,
        ).alias("_samples"),
        F.max(F.contains("value", F.lit("�"))).alias("_taint"),
        F.min("_tmin").alias("_first"),
        F.max("_tmax").alias("_last"),
    ]


def attr_partials(routed: DataFrame) -> DataFrame:
    """Shared (sink, key, _salt) partial-aggregate frame.

    ONE exploded-attrs scan produces the partials BOTH :func:`key_stats`
    (grain sink,key) and the catalog grain (key) fold from, and a session
    snapshot (``sessions.snapshot_key_stats``) keeps. Two finals built
    from the returned frame do NOT share it by themselves: each branch
    prunes its own aggregate list, the plans differ and ReuseExchange
    never fires, so a consumer that needs both grains must materialize
    once (see :func:`key_stats_and_catalog`).
    """
    attrs = exploded_attrs(routed)
    marked = value_grain(attrs, ["sink", "key"])
    return marked.groupBy("sink", "key", "_salt").agg(*_partial_aggs())


def _merged_samples(col: str = "_samples") -> F.Column:
    """Min-SAMPLE_CAP of the sample arrays in ``col``: the min-10 of
    per-part min-10s is the global min-10, so partials, snapshots and
    streamed states all merge their samples with this one expression."""
    # built lazily: constructing a Column requires an active SparkContext,
    # which must not be an import-time prerequisite of this module
    return F.slice(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list(col)))),
        1,
        SAMPLE_CAP,
    )


def _cardinality(exact: bool) -> F.Column:
    # exact: salts partition values disjointly, so per-salt distinct
    # counts sum to the distinct count (no count_distinct Expand)
    if exact:
        return F.sum("_dcard")
    return F.hll_sketch_estimate(F.hll_union_agg("_hll"))


def _fold_aggs(cardinality: F.Column, sinks: F.Column) -> list[F.Column]:
    """The final fold of (group, _salt) partials, at any grain: every
    column a catalog row carries, in _CATALOG_COLUMNS order. ``sinks`` is
    the sorted array of the group's sinks. key_stats selects its columns
    from the same list; the optimizer prunes the aggregates it drops."""
    return [
        F.sum("_cnt").alias("count"),
        cardinality.alias("est_cardinality"),
        F.array_join(sinks, "|").alias("signal_types"),
        F.array_join(_merged_samples(), "|").alias("value_samples"),
        F.date_format(F.min("_first"), _TS_FORMAT).alias("first_seen"),
        F.date_format(F.max("_last"), _TS_FORMAT).alias("last_seen"),
        F.max("_taint").alias("has_invalid_utf8"),
    ]


def _with_pct(stats: DataFrame, routed: DataFrame) -> DataFrame:
    """key_stats rows from a (sink, key) fold: pct of the sink's rows
    (reference `internal/analyzer/logs.go:262-277`)."""
    return (
        stats.join(F.broadcast(sink_totals(routed)), "sink")
        .withColumn(
            "pct", F.round(F.col("count") * 100.0 / F.col("sink_rows"), 4)
        )
        .select(*_KEY_STATS_COLUMNS)
    )


def key_stats_and_catalog(routed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """key_stats (sink, key) AND attribute_catalog (key) off ONE scan.

    The two grains overlap, so the fold from the shared
    :func:`attr_partials` frame is a single GROUPING SETS aggregation —
    one Expand, one shuffle carrying both grains — instead of two
    independent aggregations that would each rescan and reshuffle the
    exploded attrs. The grouping-sets frame is materialized once
    (``localCheckpoint``) and both returned frames read that RDD: column
    pruning would otherwise give the two branches of a report's union
    different aggregate lists, so ReuseExchange never fires and the
    explode, both shuffles and the value-rank window run twice. The
    checkpoint is eager: the aggregation runs when this function builds
    the frame, not at the caller's action, so the two branches of a
    report's union read cached blocks instead of both computing the same
    checkpoint partition at once. The final fold is tiny (one row per
    (sink, key) and per key).

    HLL mode only: per-sink exact distinct counts cannot merge across
    sinks (shared values double-count) — sketches union exactly under any
    partitioning.
    """
    gs = (
        attr_partials(routed)
        .groupingSets([["sink", "key"], ["key"]], "sink", "key")
        .agg(
            F.grouping_id().alias("_gid"),
            *_fold_aggs(
                _cardinality(exact=False), F.sort_array(F.collect_set("sink"))
            ),
        )
        .localCheckpoint(eager=True)
    )
    key_stats_df = _with_pct(gs.where(F.col("_gid") == 0), routed)
    # grouping_id: bit per grouping col, MSB first -> (key)-only set = 0b10
    catalog_df = gs.where(F.col("_gid") == 2).select(*_CATALOG_COLUMNS)
    return key_stats_df, catalog_df


def key_stats(routed: DataFrame, exact: bool = False) -> DataFrame:
    """Per-(sink, key) stats: count, pct, est_cardinality, samples, taint.

    Reference: KeyMetadata (`pkg/models/metadata.go:250-280`, AddValue
    `:382-424`) + percentage recompute (`internal/analyzer/logs.go:262-277`).
    ONE scan, bounded memory, everything two-stage: see value_grain and
    attr_partials.
    """
    stats = attr_partials(routed).groupBy("sink", "key").agg(
        *_fold_aggs(_cardinality(exact), F.sort_array(F.collect_set("sink")))
    )
    return _with_pct(stats, routed)


def service_stats(routed: DataFrame) -> DataFrame:
    """(sink, role, severity) sample counts — the reference's
    `service|severity` log grain (`internal/analyzer/logs.go:151-152`)."""
    return routed.groupBy("sink", "role", "severity").agg(
        F.count(F.lit(1)).alias("sample_count"),
        F.count_distinct("conv_id").alias("n_conversations"),
    )


def template_stats(routed: DataFrame) -> DataFrame:
    """(role, severity, template) counts + deterministic first example.

    Reference: template extraction aggregation
    (`internal/analyzer/logtemplate.go:52-97`); "first example" redefined as
    the example at min (conv_id, turn_idx) — order-independent.
    """
    agg = routed.groupBy("role", "severity", "template").agg(
        F.count(F.lit(1)).alias("count"),
        F.min_by("text", F.struct("conv_id", "turn_idx")).alias("example"),
    )
    total = Window.partitionBy("role", "severity")
    return agg.withColumn(
        "pct", F.round(F.col("count") * 100.0 / F.sum("count").over(total), 4)
    )


def attribute_catalog(routed: DataFrame, exact: bool = False) -> DataFrame:
    """Global cross-sink attribute catalog (A12).

    Reference: `StoreAttributeValue` + `AttributeMetadata.AddValue`
    (`internal/storage/memory/store.go:944-980`,
    `pkg/models/attribute.go:71-124`). Batch-level dedup (A13,
    `common.go:59-90`) is map-side partial aggregation here — free.
    """
    attrs = exploded_attrs(routed)
    # same dedup-first bounded shape as key_stats (see value_grain), at
    # the key grain; per-value sink sets union up through the two folds
    marked = value_grain(attrs, ["key"], with_sinks=True)
    partial = marked.groupBy("key", "_salt").agg(
        *_partial_aggs(),
        F.array_distinct(F.flatten(F.collect_list("_vsinks"))).alias("_sinks"),
    )
    sinks = F.array_sort(F.array_distinct(F.flatten(F.collect_list("_sinks"))))
    return partial.groupBy("key").agg(
        *_fold_aggs(_cardinality(exact), sinks)
    )


def watched_values(
    routed: DataFrame,
    watched_keys: tuple[str, ...] = ("user_id", "tool_name"),
    cap: int = WATCHED_VALUE_CAP,
) -> DataFrame:
    """Exact per-value frequencies for watched keys (A14).

    Reference: `WatchedAttribute.AddValue` (`pkg/models/attribute.go:310-334`)
    — exact map capped at 10k uniques with an overflow flag. The cap keeps
    the reference's *semantics* (rank by count desc, value asc; values past
    the cap dropped, overflow flagged), applied via window rank so the
    result is deterministic.
    """
    # empty watch set (all keys unwatched) => empty result, not an isin()
    # analysis error
    key_filter = (
        F.col("key").isin(*watched_keys) if watched_keys else F.lit(False)
    )
    # materialized once: `totals` needs no `count`, so pruning gives its
    # branch a different aggregate than the top-k branch and the explode
    # plus (key, value) shuffle would otherwise run twice (no reuse).
    # Eagerly, so both branches of the caller's action read cached blocks
    # instead of both computing the same checkpoint partition at once.
    freq = (
        exploded_attrs(routed)
        .where(key_filter)
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("count"))
        .localCheckpoint(eager=True)
    )
    # Two-stage top-k (salted_top_k): a single window over `key` would sort
    # EVERY distinct value of a watched key on one reducer (one hot
    # partition for a user-id-like key at 10^12 turns).
    totals = freq.groupBy("key").agg(F.count(F.lit(1)).alias("_n_values"))
    return (
        salted_top_k(
            freq, ["key"], (F.desc("count"), F.asc("value")), k=cap
        )
        .join(F.broadcast(totals), "key")
        .withColumn("overflow", F.col("_n_values") > cap)
        .select("key", "value", "count", "overflow")
    )


def active_series(routed: DataFrame, exact: bool = False) -> DataFrame:
    """Per-sink distinct series fingerprints (A7).

    Reference: canonical sorted `R:`/`D:`-prefixed k=v join fed to a HLL
    (`pkg/models/series_fingerprint.go:39-71`). Resource scope here is the
    enriched identity (role/service); datapoint scope is the extracted attrs.
    """
    fp = F.concat_ws(
        ",",
        F.concat(F.lit("R:role="), F.col("role")),
        F.concat(F.lit("R:service="), F.col("service")),
        F.array_join(
            F.sort_array(
                F.transform(
                    F.map_entries("attrs"),
                    lambda e: F.concat(F.lit("D:"), e.key, F.lit("="), e.value),
                )
            ),
            ",",
        ),
    )
    with_fp = routed.select("sink", fp.alias("fingerprint"))
    est = (
        F.count_distinct("fingerprint")
        if exact
        else F.hll_sketch_estimate(
            F.hll_sketch_agg("fingerprint", F.lit(HLL_LG_K))
        )
    )
    return with_fp.groupBy("sink").agg(
        est.alias("active_series"), F.count(F.lit(1)).alias("sample_count")
    )


def prometheus_series_estimate(
    active_series_df: DataFrame,
    metric_dim: DataFrame,
    max_exp_hist_buckets: int = 160,
) -> DataFrame:
    """A8: Prometheus-equivalent series count per sink.

    Reference `EstimatePrometheusActiveSeries`
    (`pkg/models/metric_types.go:140-190`):

    * histogram: series x (len(explicit_bounds) + 1 + 2)  (+_sum/_count)
    * exponential histogram: series x (buckets + 2) with
      buckets = 1 when no scales or max(scale) <= 0,
      else min(2^(maxScale+1), 160)
    * anything else: series unchanged.

    ``metric_dim`` is a tiny per-sink shape dimension
    (sink, metric_type, explicit_bounds array<double>, scales array<int>) —
    broadcast; the fact side is the already-aggregated active-series frame.
    """
    exp_buckets = (
        F.when(
            F.col("scales").isNull()
            | (F.size("scales") == 0)
            | (F.array_max("scales") <= 0),
            F.lit(1),
        )
        .otherwise(
            F.least(
                F.pow(F.lit(2.0), F.array_max("scales") + 1).cast("long"),
                F.lit(max_exp_hist_buckets).cast("long"),
            )
        )
        .cast("long")
    )
    est = (
        F.when(
            F.col("metric_type") == "histogram",
            F.col("active_series")
            * (F.coalesce(F.size("explicit_bounds"), F.lit(0)) + 1 + 2),
        )
        .when(
            F.col("metric_type") == "exp_histogram",
            F.col("active_series") * (exp_buckets + 2),
        )
        .otherwise(F.col("active_series"))
    )
    return (
        active_series_df.join(F.broadcast(metric_dim), "sink", "left")
        .select(
            "sink",
            "active_series",
            F.coalesce("metric_type", F.lit("gauge")).alias("metric_type"),
            est.cast("long").alias("prometheus_series"),
        )
    )


_ATTR_SORT_FIELDS = {
    "cardinality": "est_cardinality",
    "count": "count",
    "key": "key",
    "first_seen": "first_seen",
    "last_seen": "last_seen",
}


def list_attributes(
    catalog_df: DataFrame,
    *,
    limit: int,
    signal_type: str | None = None,
    min_cardinality: int = 0,
    max_cardinality: int = 0,
    sort_by: str = "cardinality",
    sort_order: str = "desc",
    offset: int = 0,
) -> DataFrame:
    """P4: AttributeFilter over the catalog — band, 5-field sort (asc or
    desc), limit/offset pagination.

    Reference `ListAttributes` (`internal/storage/memory/store.go:
    995-1090`): filter by signal type + cardinality band, sort by one of
    cardinality|count|key|first_seen|last_seen in either order (key sorts
    case-insensitively), then offset/limit. A deterministic `key`
    tie-break is added so pagination is stable across runs (the
    reference's sort.Slice is unstable — a non-goal to reproduce).

    ``limit`` must be positive: every page is a bounded rank
    (``global_top_k``), never a full global sort on one reducer.
    """
    if limit <= 0:
        raise ValueError(f"list_attributes: limit must be > 0, got {limit}")
    df = catalog_df
    if signal_type:
        df = df.where(
            F.array_contains(F.split("signal_types", r"\|"), signal_type)
        )
    if min_cardinality > 0:
        df = df.where(F.col("est_cardinality") >= min_cardinality)
    if max_cardinality > 0:
        df = df.where(F.col("est_cardinality") <= max_cardinality)
    field = _ATTR_SORT_FIELDS.get(sort_by, "est_cardinality")
    col = F.lower(F.col(field)) if field == "key" else F.col(field)
    lead = col.desc() if sort_order == "desc" else col.asc()
    # bounded page: WindowGroupLimit keeps offset + limit rows per map
    # partition, so the one final rank never sees every key
    df = global_top_k(
        df, (lead, F.asc("key")), k=offset + limit, salt_col="key",
        rank_name="rn",
    )
    if offset > 0:
        df = df.where(F.col("rn") > offset)
    return df


def high_cardinality_keys(
    key_stats_df: DataFrame,
    threshold: int = HIGH_CARDINALITY_DEFAULT_THRESHOLD,
    limit: int = 1000,
) -> DataFrame:
    """Cross-sink keys above a cardinality threshold (P5).

    Reference: `GetHighCardinalityKeys`
    (`internal/storage/memory/store.go:622-741`), limit <=1000.
    """
    return (
        key_stats_df.where(F.col("est_cardinality") >= threshold)
        .orderBy(F.desc("est_cardinality"), F.asc("sink"), F.asc("key"))
        .limit(limit)
    )


def metadata_complexity(
    key_stats_df: DataFrame,
    high_card_threshold: int = HIGH_CARDINALITY_DEFAULT_THRESHOLD,
) -> DataFrame:
    """Per-sink complexity score (A15).

    Reference: `GetMetadataComplexity`
    (`internal/storage/memory/store.go:744-916`): totalKeys, maxCardinality,
    highCardCount, score = keys x maxCard.
    """
    return (
        key_stats_df.groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("total_keys"),
            F.max("est_cardinality").alias("max_cardinality"),
            F.sum(
                F.when(
                    F.col("est_cardinality") >= high_card_threshold, 1
                ).otherwise(0)
            ).alias("high_card_count"),
        )
        .withColumn(
            "complexity_score", F.col("total_keys") * F.col("max_cardinality")
        )
        .orderBy(F.desc("complexity_score"))
    )


def key_skew(routed: DataFrame) -> DataFrame:
    """Per-key value-skew audit: which attribute keys have a hot value.

    For every attribute key: row volume, distinct-value count, the single
    hottest value (two-stage argmax — salted local top-1, then a final
    top-1 over at most N_SALT rows per key, so no reducer ever sorts a full
    key partition), its share of the key's rows, and the skew ratio
    ``top_count / mean_count = top_count * n_values / n_rows`` (1.0 =
    perfectly uniform). This is the report that tells an operator which
    join/groupBy keys need salting BEFORE the 10^12-turn run falls over —
    the same diagnosis this pipeline's own salted aggregates are built on.
    """
    freq = (
        exploded_attrs(routed)
        .groupBy("key", "value")
        .agg(F.count(F.lit(1)).alias("vcount"))
    )
    top = salted_top_k(
        freq, ["key"], (F.desc("vcount"), F.asc("value")), k=1
    ).select(
        "key",
        F.col("value").alias("top_value"),
        F.col("vcount").alias("top_count"),
    )
    # both consumers read `vcount`, so pruning leaves `freq` one plan and
    # AQE reuses its explode + (key, value) shuffle; a consumer that drops
    # `vcount` would split it (see watched_values)
    totals = freq.groupBy("key").agg(
        F.sum("vcount").alias("n_rows"),
        F.count(F.lit(1)).alias("n_values"),
    )
    return totals.join(top, "key").select(
        "key",
        "n_rows",
        "n_values",
        "top_value",
        "top_count",
        F.round(F.col("top_count") / F.col("n_rows"), 4).alias("top_share"),
        F.round(
            F.col("top_count") * F.col("n_values") / F.col("n_rows"), 4
        ).alias("skew_ratio"),
    )
