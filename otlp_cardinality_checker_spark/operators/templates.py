"""Template mining operators.

Primary mode (deterministic masked templates) lives in the parse stage /
``aggregate.template_stats``. This module adds the **Drain fidelity mode**
(SURVEY.md §2.9 option 2): one Drain miner per group inside a grouped-map
pandas UDF, mirroring the reference's per-group miner instancing
(`internal/analyzer/logs.go:28-40`). Input is sorted by
``(conv_id, turn_idx)`` inside each group because Drain's output depends on
arrival order — sorting makes the distributed result deterministic.

Skew note: groups are (role, severity) — few and potentially huge. The
``n_shards`` option is the reference's ShardedMiner
(`pkg/autotemplate/miner.go:99-134`): messages route to independent miner
shards by (first token, token count), so one hot group fans across
``n_shards`` tasks; the result is the union of shard cluster sets, exactly
as the reference's sharded GetClusters. Masking runs ONCE, JVM-side
(`masked_frame`), shared by the shard router and the miner input.

``drain_infer`` is the reference's inference mode (`miner.go:125-134`):
a trained model — just its (group, template) rows — is broadcast and each
turn is matched read-only; unmatched turns get NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.masking import _S, masked_frame

DRAIN_SCHEMA = (
    "role string, severity string, template string, count long, "
    "example string, group_turns long"
)

INFER_SCHEMA = (
    "role string, severity string, conv_id string, turn_idx int, "
    "template string, matched boolean"
)


def _masked_base(routed: DataFrame, n_shards: int) -> DataFrame:
    base = masked_frame(
        routed.select("role", "severity", "conv_id", "turn_idx", "text"),
        out="masked",
    ).drop("text")
    if n_shards <= 1:
        return base.withColumn("_shard", F.lit(0))
    toks = F.filter(
        F.split(F.trim(F.col("masked")), _S + "+"),
        lambda t: t != F.lit(""),
    )
    # reference selectShard: hash of (first token, token count);
    # try_element_at -> NULL for empty token arrays (blank lines)
    shard = F.pmod(
        F.hash(F.try_element_at(toks, F.lit(1)), F.size(toks)),
        F.lit(n_shards),
    )
    return base.withColumn("_shard", shard)


def drain_templates(
    routed: DataFrame,
    sim_threshold: float = 0.5,
    max_clusters: int = 1000,
    n_shards: int = 1,
) -> DataFrame:
    """Per-(role, severity) Drain clusters: template, count, first example.

    With ``n_shards > 1`` each (role, severity) group is mined by
    independent shards (union of their clusters), trading some merge
    opportunities for parallelism — the reference's ShardedMiner contract.

    Every row carries ``group_turns`` — the number of non-blank masked
    turns fed to that (role, severity, shard) miner.  Invariant (driver-
    checkable without a cross-engine oracle): when no LRU eviction occurs,
    ``sum(count) over the group's rows == group_turns``; under eviction
    ``sum(count) <= group_turns`` (evicted clusters take their counts with
    them, reference `miner.go:137-255`).
    """

    def mine(pdf):
        import pandas as pd

        from ..functions.drain import DrainConfig, DrainMiner

        pdf = pdf.sort_values(["conv_id", "turn_idx"])
        role = pdf["role"].iloc[0]
        severity = pdf["severity"].iloc[0]
        miner = DrainMiner(
            DrainConfig(sim_threshold=sim_threshold, max_clusters=max_clusters)
        )
        fed = 0
        for masked in pdf["masked"].astype(str):
            if masked.strip():
                miner.add(masked)
                fed += 1
        rows = [
            (role, severity, template, count, example, fed)
            for template, count, example in miner.clusters()
        ]
        return pd.DataFrame(
            rows,
            columns=[
                "role", "severity", "template", "count", "example",
                "group_turns",
            ],
        )

    return (
        _masked_base(routed, n_shards)
        .groupBy("role", "severity", "_shard")
        .applyInPandas(mine, schema=DRAIN_SCHEMA)
    )


def drain_infer(
    routed: DataFrame,
    model: DataFrame,
    sim_threshold: float = 0.5,
) -> DataFrame:
    """Match turns against a TRAINED template model without mutating it.

    ``model`` is (role, severity, template, ...) — the output of
    :func:`drain_templates`. The model stays DISTRIBUTED: a cogroup on
    (role, severity) delivers each group's template rows alongside its
    data rows inside the grouped-map UDF, so the model is never collected
    to the driver — at many groups × max_clusters templates the driver
    holds nothing, and each task sees only its own group's slice.
    """
    cols = ["role", "severity", "conv_id", "turn_idx", "template", "matched"]
    grouped = (
        _masked_base(routed, n_shards=1)
        .drop("_shard")
        .groupBy("role", "severity")
    )
    model_grouped = model.select("role", "severity", "template").groupBy(
        "role", "severity"
    )

    def match(key, data_pdf, model_pdf):
        import pandas as pd

        from ..functions.drain import DrainConfig, DrainMiner

        if data_pdf.empty:  # model-only group: nothing to classify
            return pd.DataFrame(columns=cols)
        role, severity = key
        miner = DrainMiner(DrainConfig(sim_threshold=sim_threshold))
        miner.preload(list(model_pdf["template"].astype(str)))
        out = [
            (role, severity, c, t, *miner.match(str(m)))
            for c, t, m in zip(
                data_pdf["conv_id"], data_pdf["turn_idx"], data_pdf["masked"]
            )
        ]
        return pd.DataFrame(out, columns=cols)

    return grouped.cogroup(model_grouped).applyInPandas(
        match, schema=INFER_SCHEMA
    )
