"""Generated code is compiled once per JVM, not once per pass.

A repeated report pass or micro-batch runs the same plans, so every
whole-stage-codegen class it needs should come from the codegen cache.
Three ways this regresses: the cache (``spark.sql.codegen.cache.maxEntries``)
is smaller than a pass's working set, so each pass evicts and recompiles
most of its classes; a plan inlines a per-run literal (``lit(batch_id)``),
so each run generates new source that can never hit the cache; or the
codegen stage id is in the class name, and AQE does not give one plan's
stages the same ids in every run, so its classes differ from run to run.

The stream's micro-batches are also pinned on the number of Spark jobs
each runs, counted around ``_process_batch`` by the ``count_jobs``
fixture.
"""

from __future__ import annotations

import pytest

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


@pytest.fixture(scope="module")
def stream_batches(spark, count_jobs, tmp_path_factory):
    """``run_stream`` over the 4 sf0.001 files; per ``_process_batch``
    call, the classes compiled and the Spark jobs run."""
    from otlp_cardinality_checker_spark.streaming import stream

    compiles: list[int] = []
    n_jobs: list[int] = []
    process = stream._process_batch

    def counted(df, batch_id, *args):
        c0 = _compiles(spark)
        _, jobs = count_jobs(lambda: process(df, batch_id, *args))
        compiles.append(_compiles(spark) - c0)
        n_jobs.append(jobs)

    tmp = tmp_path_factory.mktemp("stream")
    stream._process_batch = counted
    try:
        n = stream.run_stream(spark, SF, str(tmp / "out"), str(tmp / "ckpt"))
    finally:
        stream._process_batch = process
    assert n == len(compiles) == len(n_jobs) >= 4
    return compiles, n_jobs


def test_stream_micro_batches_reuse_generated_code(stream_batches):
    """After the first micro-batch, a micro-batch compiles no classes:
    the sink write over the persisted routed frame (parse, the dim lookup
    maps and the route in one stage) and the snapshot reuse the first
    batch's classes."""
    compiles, _ = stream_batches
    assert compiles[1:] == [0] * (len(compiles) - 1), compiles


def test_stream_micro_batch_job_count(stream_batches):
    """A warm micro-batch is two writes over the persisted routed frame,
    one job each: the sink-partitioned write, which fills the cache as it
    goes (the dims are lookup maps built once per stream, and the write
    keeps the batch's own partitioning), and the state snapshot (it folds
    the one-partition ``routed.coalesce(1)`` with no exchange). More jobs
    means a dim read per batch, a separate cache fill, a count, a
    filtered per-sink write or a shuffle came back."""
    _, n_jobs = stream_batches
    assert max(n_jobs[1:]) <= 2, n_jobs
