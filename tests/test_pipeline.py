"""Pipeline-level parity tests on the tiny corpus (pandas oracle)."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pytest


def test_engines_agree(spark, tiny_frames):
    """Catalyst parse == the scalar references (template_of, severity_of,
    extract_attrs) applied per row, row for row."""
    from otlp_cardinality_checker_spark.functions.attributes import extract_attrs
    from otlp_cardinality_checker_spark.functions.masking import template_of
    from otlp_cardinality_checker_spark.functions.severity import severity_of
    from otlp_cardinality_checker_spark.operators.parse import parse_turns

    transcripts, _, _ = tiny_frames
    df = spark.createDataFrame(transcripts)
    cols = ["conv_id", "turn_idx", "severity_inferred", "template", "attrs"]
    key = ["conv_id", "turn_idx"]
    a = parse_turns(df).select(cols).toPandas()
    a = a.sort_values(key).reset_index(drop=True)
    b = transcripts.sort_values(key).reset_index(drop=True)
    texts = b["text"].fillna("").tolist()
    assert a["severity_inferred"].tolist() == [severity_of(t) for t in texts]
    assert a["template"].tolist() == [template_of(t) for t in texts]
    assert [sorted(d.items()) for d in a["attrs"]] == [
        sorted(extract_attrs(t).items()) for t in texts
    ]


def test_load_dims_reads_a_no_truth_dataset_as_is(spark, tmp_path, monkeypatch):
    """The dims need no truth: after a with_truth=False load, load_dims
    must neither write truth tables nor rewrite the transcripts."""
    from otlp_cardinality_checker_spark import datagen
    from otlp_cardinality_checker_spark.sources.transcripts import load_dims

    monkeypatch.setattr(datagen, "DATA_ROOT", tmp_path)
    out = datagen.ensure_dataset("sf0.0002", with_truth=False)
    parts = out / "transcripts.parquet"
    before = {p.name: p.stat().st_mtime_ns for p in parts.iterdir()}
    role_dim, _ = load_dims(spark, "sf0.0002")
    assert role_dim.count() > 0
    assert not (out / "truth.parquet").exists()
    assert {p.name: p.stat().st_mtime_ns for p in parts.iterdir()} == before
    assert [p.name for p in tmp_path.iterdir()] == [out.name]


def test_loads_run_no_job(spark, count_jobs, tmp_path, monkeypatch):
    """Building the transcripts and dims frames runs no Spark job: each
    parquet read declares its schema instead of reading the footers for
    one."""
    from otlp_cardinality_checker_spark import datagen
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_dims,
        load_transcripts,
    )

    monkeypatch.setattr(datagen, "DATA_ROOT", tmp_path)
    datagen.ensure_dataset("sf0.0002")
    _, jobs = count_jobs(lambda: load_transcripts(spark, "sf0.0002"))
    assert jobs == 0
    _, jobs = count_jobs(lambda: load_dims(spark, "sf0.0002"))
    assert jobs == 0


def test_declared_schemas_match_their_writers(
    spark, tiny_routed, tmp_path, monkeypatch
):
    """Each declared schema is, names and types in order, what its writer
    produces: the inferred schema of a generated dataset's files, and a
    state snapshot's schema. A column the writer renamed or retyped would
    otherwise read as null under the declared schema."""
    from pyspark.sql.types import StructType

    from otlp_cardinality_checker_spark import datagen
    from otlp_cardinality_checker_spark.operators.sessions import (
        STATE_SCHEMA,
        snapshot_key_stats,
    )
    from otlp_cardinality_checker_spark.sources import transcripts as src

    def fields(schema):  # names and types; nullability is no type
        return [(f.name, f.dataType.simpleString()) for f in schema]

    monkeypatch.setattr(datagen, "DATA_ROOT", tmp_path)
    out = datagen.ensure_dataset("sf0.0002", with_truth=False)
    for name, ddl in (
        ("transcripts.parquet", src.TRANSCRIPT_SCHEMA),
        ("role_dim.parquet", src.ROLE_DIM_SCHEMA),
        ("tool_dim.parquet", src.TOOL_DIM_SCHEMA),
    ):
        inferred = spark.read.parquet(str(out / name)).schema
        assert fields(inferred) == fields(StructType.fromDDL(ddl)), name
    assert fields(snapshot_key_stats(tiny_routed).schema) == fields(
        StructType.fromDDL(STATE_SCHEMA)
    )


def test_parse_matches_generation_truth(spark, tiny_frames):
    from otlp_cardinality_checker_spark.operators.parse import parse_turns

    transcripts, truth, _ = tiny_frames
    df = spark.createDataFrame(transcripts)
    got = (
        parse_turns(df)
        .select("conv_id", "turn_idx", "severity_inferred", "template")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = truth.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["severity_inferred"].tolist() == exp["severity_inferred"].tolist()
    assert got["template"].tolist() == exp["template"].tolist()


def test_routing_is_exhaustive_and_disjoint(tiny_routed, tiny_frames):
    transcripts, _, _ = tiny_frames
    counts = {
        r["sink"]: r["n"]
        for r in tiny_routed.groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == len(transcripts)
    # every tool turn routed to tool_call
    n_tool = int(transcripts["tool"].notna().sum())
    assert counts["tool_call"] == n_tool


def test_routing_predicates(tiny_routed):
    bad = tiny_routed.where(
        ((F.col("sink") == "tool_call") & F.col("tool").isNull())
        | ((F.col("sink") == "error") & (F.col("severity") != "ERROR"))
        | (
            (F.col("sink") == "chat")
            & ((F.col("severity") == "ERROR") | F.col("tool").isNotNull())
        )
    ).count()
    assert bad == 0


def test_missing_dim_row_null_semantics(tiny_routed):
    """`system` is absent from the tiny role_dim: left join must keep rows."""
    sys_rows = tiny_routed.where(F.col("role") == "system")
    assert sys_rows.count() > 0
    assert sys_rows.where(F.col("role_class").isNotNull()).count() == 0
    assert (
        sys_rows.where(F.col("service") != "unknown_service").count() == 0
    )
    # severity default missing -> UNSET rows stay UNSET
    assert (
        sys_rows.where(
            (F.col("severity_inferred") == "UNSET")
            & (F.col("severity") != "UNSET")
        ).count()
        == 0
    )


def _join_enrich(parsed, role_dim, tool_dim):
    """The reference enrich: broadcast left joins on ``role`` then
    ``tool``, then severity/service resolution."""
    return (
        parsed.join(F.broadcast(role_dim), on="role", how="left")
        .join(F.broadcast(tool_dim), on="tool", how="left")
        .withColumn(
            "severity",
            F.when(
                F.col("severity_inferred") == "UNSET",
                F.coalesce(F.col("severity_default"), F.lit("UNSET")),
            ).otherwise(F.col("severity_inferred")),
        )
        .withColumn(
            "service", F.coalesce(F.col("role_class"), F.lit("unknown_service"))
        )
        .drop("severity_default")
    )


@pytest.fixture(scope="module")
def enrich_inputs(spark, tiny_frames):
    """Parsed tiny turns with one unknown tool (the others are null or
    known), and dims without ``system`` plus a null-key row each."""
    from otlp_cardinality_checker_spark.datagen import role_dim, tool_dim
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.sources.transcripts import (
        ROLE_DIM_SCHEMA,
        TOOL_DIM_SCHEMA,
    )

    transcripts = tiny_frames[0].copy()
    first_tool = transcripts.index[transcripts["tool"].notna()][0]
    transcripts.loc[first_tool, "tool"] = "tool_unknown"
    parsed = parse_turns(spark.createDataFrame(transcripts))
    rd = spark.createDataFrame(role_dim(include_system=False), ROLE_DIM_SCHEMA)
    td = spark.createDataFrame(tool_dim(), TOOL_DIM_SCHEMA)
    rd = rd.union(spark.createDataFrame([(None, "ghost", "ERROR")], ROLE_DIM_SCHEMA))
    td = td.union(spark.createDataFrame([(None, "family_x", True)], TOOL_DIM_SCHEMA))
    return parsed, rd, td


def _assert_same_frame(got, want):
    assert got.schema == want.schema  # names, order, types, nullability

    def rows(df):
        return sorted(df.collect(), key=lambda r: (r["conv_id"], r["turn_idx"]))

    assert rows(got) == rows(want)


def test_enrich_lookups_equal_left_joins(enrich_inputs):
    """The lookup-map enrich gives the left joins' frame: a missing role,
    a null tool, an unknown tool and null-key dim rows all resolve as
    the joins resolve them."""
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns

    parsed, rd, td = enrich_inputs
    got = enrich_turns(parsed, rd, td)
    _assert_same_frame(got, _join_enrich(parsed, rd, td))
    unknown = got.where(F.col("tool") == "tool_unknown").collect()
    assert len(unknown) == 1
    assert unknown[0]["tool_family"] is None
    assert unknown[0]["is_privileged"] is None


def test_enrich_empty_dims_give_typed_nulls(enrich_inputs):
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns

    parsed, rd, td = enrich_inputs
    rd, td = rd.limit(0), td.limit(0)
    _assert_same_frame(enrich_turns(parsed, rd, td), _join_enrich(parsed, rd, td))


def test_enrich_duplicate_dim_key_raises(enrich_inputs):
    """A join would fan the matching turns out; the lookup refuses."""
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns

    parsed, rd, td = enrich_inputs
    with pytest.raises(ValueError, match="tool"):
        enrich_turns(parsed, rd, td.union(td.where(F.col("tool") == "tool_3")))


def test_enrich_reads_each_dim_once(spark, count_jobs, enrich_inputs, tmp_path):
    """Building the enrich frame runs exactly 2 Spark jobs, the two dim
    reads, and the frame's plan reads neither dim again."""
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.sources.transcripts import (
        ROLE_DIM_SCHEMA,
        TOOL_DIM_SCHEMA,
    )

    parsed, rd, td = enrich_inputs
    rd.write.parquet(str(tmp_path / "role_dim"))
    td.write.parquet(str(tmp_path / "tool_dim"))
    rd = spark.read.schema(ROLE_DIM_SCHEMA).parquet(str(tmp_path / "role_dim"))
    td = spark.read.schema(TOOL_DIM_SCHEMA).parquet(str(tmp_path / "tool_dim"))
    enriched, jobs = count_jobs(lambda: enrich_turns(parsed, rd, td))
    assert jobs == 2
    plan = enriched._jdf.queryExecution().optimizedPlan().toString()
    assert "role_dim" not in plan and "tool_dim" not in plan


def test_per_turn_text_equality_roundtrip(spark, tiny_routed, tmp_path):
    """FIXTURES.md §4: sinks read back ordered == original text bytes."""
    from otlp_cardinality_checker_spark.operators.route import write_sinks

    paths = write_sinks(tiny_routed, str(tmp_path), n_buckets=4)
    frames = []
    for p in paths.values():
        frames.append(
            spark.read.parquet(p).select("conv_id", "turn_idx", "text").toPandas()
        )
    got = (
        pd.concat(frames)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    orig = (
        tiny_routed.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got["text"].tolist() == orig["text"].tolist()


def test_key_stats_vs_pandas_oracle(tiny_routed, tiny_frames):
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    transcripts, truth, truth_attrs = tiny_frames
    got = key_stats(tiny_routed, exact=True).toPandas()

    routed_pd = tiny_routed.select("conv_id", "turn_idx", "sink").toPandas()
    attrs = truth_attrs.merge(routed_pd, on=["conv_id", "turn_idx"])
    exp = (
        attrs.groupby(["sink", "key"])
        .agg(count=("value", "size"), est_cardinality=("value", "nunique"))
        .reset_index()
    )
    merged = got.merge(exp, on=["sink", "key"], suffixes=("", "_exp"))
    assert len(merged) == len(exp) == len(got)
    assert (merged["count"] == merged["count_exp"]).all()
    assert (merged["est_cardinality"] == merged["est_cardinality_exp"]).all()


def test_hll_within_tolerance(tiny_routed):
    """HLL mode within 10% of exact (reference hll_test.go:240-267 band)."""
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    exact = {
        (r["sink"], r["key"]): r["est_cardinality"]
        for r in key_stats(tiny_routed, exact=True).collect()
    }
    approx = key_stats(tiny_routed, exact=False).collect()
    assert len(approx) == len(exact)
    for r in approx:
        e = exact[(r["sink"], r["key"])]
        assert abs(r["est_cardinality"] - e) <= max(1, 0.1 * e)


def test_sample_cap_and_sorting(tiny_routed):
    from otlp_cardinality_checker_spark.operators.aggregate import key_stats

    for r in key_stats(tiny_routed, exact=True).collect():
        samples = r["value_samples"].split("|") if r["value_samples"] else []
        assert len(samples) <= 10
        assert samples == sorted(samples)


def test_salted_hll_equals_unsalted(tiny_routed, monkeypatch):
    """Every salted two-stage attribute aggregate must equal its one-salt
    form: key_stats in both modes, both frames of key_stats_and_catalog
    and a session snapshot's estimate. The exact mode is the strict one:
    a salt that does not split values disjointly counts a value once per
    salt it lands in."""
    from otlp_cardinality_checker_spark.operators import aggregate
    from otlp_cardinality_checker_spark.operators.sessions import (
        estimate,
        snapshot_key_stats,
    )

    def results():
        ks, catalog = aggregate.key_stats_and_catalog(tiny_routed)
        frames = {
            "key_stats_exact": aggregate.key_stats(tiny_routed, exact=True),
            "key_stats_hll": aggregate.key_stats(tiny_routed),
            "key_stats_and_catalog.key_stats": ks,
            "key_stats_and_catalog.catalog": catalog,
            "snapshot": estimate(snapshot_key_stats(tiny_routed)),
        }
        return {n: sorted(map(tuple, df.collect())) for n, df in frames.items()}

    monkeypatch.setattr(aggregate, "N_SALT", 16)
    salted = results()
    monkeypatch.setattr(aggregate, "N_SALT", 1)
    unsalted = results()
    for name, rows in salted.items():
        assert rows == unsalted[name], name


def test_jsonl_source_parity_and_quarantine(spark, tmp_path):
    """JSONL ingest: well-formed lines parse byte-identically to the
    parquet source (fingerprint-verified), malformed lines are captured
    in _corrupt_record instead of failing the read."""
    import pyspark.sql.functions as F

    from otlp_cardinality_checker_spark.operators.checksum import (
        dataset_fingerprint,
    )
    from otlp_cardinality_checker_spark.sources.transcripts import (
        load_transcripts,
        load_transcripts_jsonl,
    )

    # deterministic sample: an unordered limit() would re-select different
    # rows on each of the two actions below (write, then fingerprint)
    pq = (
        load_transcripts(spark, "/root/testdata/sf0.001")
        .orderBy("conv_id", "turn_idx")
        .limit(200)
    )
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    jdir = tmp_path / "jsonl"
    (
        pq.select(*cols)
        .withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .coalesce(1)
        .write.json(str(jdir))
    )
    # drop one malformed line in as its own file (appending to a part file
    # would invalidate its Hadoop .crc sidecar and fail the read outright)
    (jdir / "extra.json").write_text(
        '{"conv_id": "broken", "turn_idx": NOT_JSON}\n'
    )

    from otlp_cardinality_checker_spark.sources.transcripts import (
        split_jsonl_quarantine,
    )

    good, bad = split_jsonl_quarantine(
        load_transcripts_jsonl(spark, str(jdir))
    )
    good = good.select(*cols)
    assert bad.count() == 1

    # multiset equality via the portable fingerprint (ts second-truncated
    # on both sides: the JSON roundtrip format carries second precision)
    canon = lambda df: df.withColumn(  # noqa: E731
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    fp = lambda df: dataset_fingerprint(canon(df)).collect()[0]  # noqa: E731
    a, b = fp(pq.select(*cols)), fp(good)
    assert (a["n_rows"], a["xor_digest"], a["sum_digest"]) == (
        b["n_rows"], b["xor_digest"], b["sum_digest"],
    )


def test_dataset_fingerprint_properties(spark):
    """Order/partitioning invariance; duplicate-pair sensitivity (the case
    xor alone cannot see); any value change flips the digest."""
    from otlp_cardinality_checker_spark.operators.checksum import (
        dataset_fingerprint,
    )

    rows = [(1, "a"), (2, "b"), (3, None)]
    df1 = spark.createDataFrame(rows, "id long, v string")
    df2 = spark.createDataFrame(list(reversed(rows)), "id long, v string").repartition(7)
    f1 = dataset_fingerprint(df1).collect()[0]
    f2 = dataset_fingerprint(df2).collect()[0]
    assert tuple(f1) == tuple(f2)

    dup = spark.createDataFrame(rows + rows, "id long, v string")
    fd = dataset_fingerprint(dup).collect()[0]
    assert fd["xor_digest"] == 0 or fd["xor_digest"] != f1["xor_digest"]
    assert fd["sum_digest"] != f1["sum_digest"]  # sum catches xor-blind dups

    changed = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "x")], "id long, v string"
    )
    fc = dataset_fingerprint(changed).collect()[0]
    assert fc["xor_digest"] != f1["xor_digest"]


def test_export_sorted_ranges_are_disjoint(spark, tiny_routed, tmp_path):
    """export_sorted must produce files with disjoint conv_id ranges and
    sorted rows inside each file — the zone-map layout a 100 TB scan
    prunes on."""
    from pathlib import Path

    from otlp_cardinality_checker_spark.operators.route import export_sorted

    out = str(tmp_path / "sorted")
    export_sorted(
        tiny_routed.select("conv_id", "turn_idx", "text"), out, n_files=4
    )
    spans = []
    for f in sorted(Path(out).glob("part-*.parquet")):
        pdf = spark.read.parquet(str(f)).toPandas()
        if pdf.empty:
            continue
        keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
        assert keys == sorted(keys)  # sorted within the file
        spans.append((min(keys), max(keys)))
    assert len(spans) >= 2  # actually split into multiple ranges
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint (boundary keys may touch)
