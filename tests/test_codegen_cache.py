"""Generated code is compiled once per JVM, not once per pass.

A repeated report pass or micro-batch runs the same plans, so every
whole-stage-codegen class it needs should come from the codegen cache.
Two ways this regresses: the cache (``spark.sql.codegen.cache.maxEntries``)
is smaller than a pass's working set, so each pass evicts and recompiles
most of its classes; or a plan inlines a per-run literal (``lit(batch_id)``),
so each run generates new source that can never hit the cache.
"""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _compiles(spark) -> int:
    """Classes the JVM's codegen has compiled so far (cache misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_report_pass_compiles_nothing_new(spark, tiny_frames, tmp_path):
    """Routed write, then the report's aggregate families: the second
    pass reuses the first pass's classes."""
    from otlp_cardinality_checker_spark.datagen import role_dim, tool_dim
    from otlp_cardinality_checker_spark.operators import aggregate as agg
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.operators.route import route_turns

    transcripts, _, _ = tiny_frames
    src = str(tmp_path / "turns")
    spark.createDataFrame(transcripts).write.parquet(src)
    dims = (spark.createDataFrame(role_dim()), spark.createDataFrame(tool_dim()))
    routed_dir = str(tmp_path / "routed")

    def one_pass() -> int:
        before = _compiles(spark)
        routed = route_turns(enrich_turns(parse_turns(spark.read.parquet(src)), *dims))
        routed.write.mode("overwrite").partitionBy("sink").parquet(routed_dir)
        mat = spark.read.parquet(routed_dir)
        ks, cat = agg.key_stats_and_catalog(mat)
        for df in (ks, cat, agg.service_stats(mat), agg.template_stats(mat),
                   agg.active_series(mat, exact=False)):
            assert df.collect()
        return _compiles(spark) - before

    cold = one_pass()
    warm = one_pass()
    assert cold > 50  # the counter sees the pass's compiles at all
    assert warm <= 8, f"warm pass compiled {warm} classes (cold pass {cold})"


def test_stream_micro_batches_reuse_generated_code(spark, tmp_path, monkeypatch):
    """``run_stream`` over several small files: after the second
    micro-batch (which still compiles a few scans of the cached dim
    tables that the first does not), a micro-batch compiles no classes."""
    from otlp_cardinality_checker_spark.streaming import stream

    per_batch: list[int] = []
    process = stream._process_batch

    def counted(df, batch_id, *args):
        before = _compiles(spark)
        process(df, batch_id, *args)
        per_batch.append(_compiles(spark) - before)

    monkeypatch.setattr(stream, "_process_batch", counted)
    n = stream.run_stream(spark, SF, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert n == len(per_batch) >= 4
    assert per_batch[1] <= 8, per_batch
    assert per_batch[2:] == [0] * (n - 2), per_batch
