"""The workloads and the traced layer profile.

Each workload drives the pipeline only through the public functions of
``session``, ``sources.transcripts``, ``operators.{parse,enrich,route,
aggregate,sessions}`` and ``streaming.stream``. An *operation* is one pass,
one micro-batch or one state read; it fails if it raises or if its
correctness check fails.
"""

from __future__ import annotations

import json
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from . import checks
from .inputs import SINKS, Dataset
from .spans import CpuClock, Tracer, gc_seconds, job_counts, plan_metrics

LAYERS = ("scan", "parse", "enrich", "route", "aggregate", "sessions", "stream")
PLAN_COUNTERS = ("Generate.numOutputRows", "Exchange.shuffleBytesWritten",
                 "Sort.spillSize", "HashAggregate.spillSize",
                 "ObjectHashAggregate.spillSize", "SortAggregate.spillSize")
SCAN_COUNTERS = ("Scan parquet.numOutputRows", "Scan parquet.filesSize")
# state reads: the first ones only warm the read path
READ_WARMUP = 4
STATE_READS = 20
# warm passes in the fixed job of batch_report
JOB_WARM_PASSES = 2
# micro-batches (the cold one included) that only warm the JVM: per-batch
# cost still falls steeply over them, so they are left out of the medians
WARMUP_BATCHES = 4


@dataclass
class Outcome:
    """What a workload measured, before it becomes metrics: wall and CPU
    seconds of the set-up, the cold operation, the warm operations and
    the reads; CPU seconds of the workload's fixed job from cold; and
    input turns per wall second over all operations."""
    setup_s: float = float("nan")
    setup_cpu_s: float = float("nan")
    job_cpu_s: float = float("nan")
    cold_op_s: float = float("nan")
    cold_op_cpu_s: float = float("nan")
    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    read_cpu_s: list[float] = field(default_factory=list)
    turns_per_s: float = float("nan")
    extra: dict = field(default_factory=dict)


def _tagged_union(frames: dict):
    """One action over several result frames (``agg`` tag + JSON row)."""
    from pyspark.sql import functions as F

    out = None
    for name, df in frames.items():
        tagged = df.select(F.lit(name).alias("agg"),
                           F.to_json(F.struct(*df.columns)).alias("row"))
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _ks_and_catalog(mat):
    from otlp_cardinality_checker_spark.operators import aggregate as agg

    ks, cat = agg.key_stats_and_catalog(mat)
    return _tagged_union({"key_stats": ks, "attribute_catalog": cat})


def _check_ks_and_catalog(rows, truth):
    fam = checks.untag(rows)
    return (checks.key_stats(fam["key_stats"], truth, exact=False)
            + checks.catalog(fam["attribute_catalog"], truth, exact=False))


def report_frame(mat):
    """The five aggregate families of a cardinality report, as one action."""
    from otlp_cardinality_checker_spark.operators import aggregate as agg

    ks, cat = agg.key_stats_and_catalog(mat)
    return _tagged_union({
        "key_stats": ks,
        "service_stats": agg.service_stats(mat),
        "template_stats": agg.template_stats(mat),
        "attribute_catalog": cat,
        "active_series": agg.active_series(mat, exact=False),
    })


def aggregate_families():
    """The aggregate calls a report or an API read makes over routed
    turns: name -> (build(routed) -> DataFrame, check(rows, truth))."""
    from otlp_cardinality_checker_spark.operators import aggregate as agg

    return {
        "key_stats_exact": (lambda m: agg.key_stats(m, exact=True),
                            lambda r, t: checks.key_stats(r, t, exact=True)),
        "key_stats_hll": (agg.key_stats,
                          lambda r, t: checks.key_stats(r, t, exact=False)),
        "attribute_catalog_exact": (lambda m: agg.attribute_catalog(m, exact=True),
                                    lambda r, t: checks.catalog(r, t, exact=True)),
        "key_stats_and_catalog": (_ks_and_catalog, _check_ks_and_catalog),
        "service_stats": (agg.service_stats, checks.service_stats),
        "template_stats": (agg.template_stats, checks.template_stats),
        "watched_values": (agg.watched_values, checks.watched_values),
        "active_series_exact": (lambda m: agg.active_series(m, exact=True),
                                lambda r, t: checks.active_series(r, t, exact=True)),
        "active_series_hll": (agg.active_series,
                              lambda r, t: checks.active_series(r, t, exact=False)),
    }


class Harness:
    """One SparkSession over one generated dataset, plus failure counts."""

    def __init__(self, ds: Dataset, cores: int, work: Path, java_tmp: Path):
        self.ds = ds
        self.cores = cores
        self.work = work
        self.java_opts = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp}"}
        self.spark = None
        self.dims = None
        self.jvm_pid = None
        self.clock = CpuClock()
        self.attempted = 0
        self.failed = 0
        self.hashes: dict[str, str] = {}

    def cpu(self) -> float:
        """CPU seconds so far of the Spark JVM and this process."""
        return self.clock.total()

    def set_up(self, cores: int | None = None) -> tuple[float, float]:
        """SparkSession + dims; returns wall and CPU seconds. The first call
        launches the JVM; later calls stop the session and build a fresh
        one in the same JVM."""
        from pyspark import SparkContext

        from otlp_cardinality_checker_spark.session import get_spark
        from otlp_cardinality_checker_spark.sources.transcripts import load_dims

        t0 = time.perf_counter()
        c0 = self.cpu()
        if self.spark is not None:
            self.spark.stop()
        cores = cores or self.cores
        # bench.py's production-pass shape: max(cores, 16) shuffle partitions
        self.spark = get_spark(app_name="perfbench", cores=cores,
                               shuffle_partitions=max(cores, 16),
                               extra_conf=self.java_opts)
        self.dims = load_dims(self.spark, self.ds.sf_dir)
        dt = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid
        if self.clock.jvm_pid != self.jvm_pid:
            self.clock = CpuClock(self.jvm_pid)
        return dt, self.cpu() - c0

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def turns(self):
        from otlp_cardinality_checker_spark.sources.transcripts import load_transcripts

        return load_transcripts(self.spark, self.ds.sf_dir, with_truth=False,
                                n_turns=self.ds.n_turns)

    def routed(self):
        from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
        from otlp_cardinality_checker_spark.operators.parse import parse_turns
        from otlp_cardinality_checker_spark.operators.route import route_turns

        return route_turns(enrich_turns(parse_turns(self.turns()), *self.dims))

    def write_routed_table(self, routed, name: str):
        """The production materialization: snappy parquet split by sink."""
        path = str(self.work / name)
        (routed.write.mode("overwrite").option("compression", "snappy")
         .partitionBy("sink").parquet(path))
        return self.spark.read.parquet(path)

    def production_pass(self, tracer: Tracer | None = None):
        """scan -> parse -> enrich -> route -> routed write -> one action
        over the five aggregate families (bench.py's pipeline_pass shape,
        plan build included). Returns wall and CPU seconds of the pass,
        wall and CPU seconds of its aggregate action, and that action's rows."""
        span = tracer.span if tracer else (lambda *a: nullcontext())
        t0, c0 = time.perf_counter(), self.cpu()
        with span("pass.route_write", "pass"):
            mat = self.write_routed_table(self.routed(), "pass")
        t1, c1 = time.perf_counter(), self.cpu()
        with span("pass.aggregate", "pass"):
            rows = report_frame(mat).collect()
        t2, c2 = time.perf_counter(), self.cpu()
        return t2 - t0, c2 - c0, t2 - t1, c2 - c1, rows

    def count(self, problems: list[str], label: str) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] {label} failed: {problems[:3]}", file=sys.stderr)

    def attempt(self, label: str, fn, check, hash_key: str):
        """Run one operation whose value ends in its result rows; the rows
        must pass ``check`` and hash like every earlier run of ``hash_key``.
        Returns the value, or None if the operation raised. An operation
        whose check failed still returns its value: its cost was paid."""
        try:
            value = fn()
            problems = check(value[-1])
            if not problems:
                h = checks.result_hash(value[-1])
                if self.hashes.setdefault(hash_key, h) != h:
                    problems = [f"{hash_key} result changed between runs"]
        except Exception:
            problems = [traceback.format_exc(limit=3)]
            value = None
        self.count(problems, label)
        return value


def batch_report(h: Harness, seconds: float) -> Outcome:
    """A cold pass, then warm passes for ``seconds`` (at least two). The
    fixed job is the cold pass and the first two warm passes."""
    out = Outcome()
    out.setup_s, out.setup_cpu_s = h.set_up()
    truth = h.ds.truth

    def check(rows):
        return checks.production_pass(rows, truth)

    cold = h.attempt("cold pass", h.production_pass, check, "pass")
    if cold is not None:
        out.cold_op_s, out.cold_op_cpu_s = cold[:2]
    deadline = time.perf_counter() + seconds
    while len(out.op_s) < JOB_WARM_PASSES or time.perf_counter() < deadline:
        v = h.attempt("warm pass", h.production_pass, check, "pass")
        if v is not None:
            for samples, x in zip((out.op_s, out.op_cpu_s, out.read_s, out.read_cpu_s), v):
                samples.append(x)
        elif h.failed > h.attempted // 2:
            break
    if len(out.op_cpu_s) >= JOB_WARM_PASSES:
        out.job_cpu_s = out.cold_op_cpu_s + sum(out.op_cpu_s[:JOB_WARM_PASSES])
    passes = [out.cold_op_s, *out.op_s]
    out.turns_per_s = h.ds.n_turns * len(passes) / sum(passes)
    out.extra = {"first_pass_s": out.cold_op_s}
    return out


def stream_ingest(h: Harness, seconds: float) -> Outcome:
    """``run_stream`` over pre-staged small files (one per micro-batch)
    until the source is drained, then state reads. The fixed job is the
    whole ``run_stream`` call; per-batch figures are taken from the
    batches after the first ``WARMUP_BATCHES``. ``seconds`` does not
    apply: the staged input sets the run length."""
    from otlp_cardinality_checker_spark.operators import aggregate as agg
    from otlp_cardinality_checker_spark.streaming.stream import (
        compact_state,
        current_key_stats,
        read_lineage,
        run_stream,
    )

    out = Outcome()
    out.setup_s, out.setup_cpu_s = h.set_up()
    truth = h.ds.truth
    state = str(h.work / "stream_out")
    sampler = BatchCpu(h, Path(state) / "lineage")
    t0, c0 = time.perf_counter(), h.cpu()
    sampler.start()
    try:
        n_batches = run_stream(h.spark, h.ds.sf_dir, state, str(h.work / "ckpt"))
    finally:
        sampler.finish()
    drain = time.perf_counter() - t0
    out.job_cpu_s = h.cpu() - c0
    progress = json.loads((Path(state) / "stream_progress.json").read_text())
    durations = [p["duration_ms"]["triggerExecution"] / 1000.0
                 for p in sorted(progress, key=lambda p: p["batch_id"])
                 if p["num_input_rows"]]
    walls: dict[int, float] = {}
    counts = dict.fromkeys(SINKS, 0)
    for row in read_lineage(state):
        walls[row["batch_id"]] = max(walls.get(row["batch_id"], 0.0), row["wall_sec"])
        counts[row["sink"]] += row["n_rows"]
    problems = checks.sink_rows({k: v for k, v in counts.items() if v}, truth)
    if not n_batches == len(durations) == len(h.ds.stream_files):
        problems.append(f"{n_batches} batches, {len(durations)} progress entries, "
                        f"{len(h.ds.stream_files)} files")
    # a micro-batch is checked through what the whole stream wrote
    for _ in range(n_batches):
        h.count(problems, "stream")
    if durations:
        out.cold_op_s, out.op_s = durations[0], durations[WARMUP_BATCHES:]
    if len(sampler.batch_cpu) == n_batches > WARMUP_BATCHES:
        out.cold_op_cpu_s = sampler.batch_cpu[0]
        out.op_cpu_s = sampler.batch_cpu[WARMUP_BATCHES:]
    out.turns_per_s = h.ds.n_turns / drain

    def state_read():
        t, c = time.perf_counter(), h.cpu()
        compact_state(h.spark, state)
        rows = current_key_stats(h.spark, state).collect()
        return time.perf_counter() - t, h.cpu() - c, rows

    last = None
    for i in range(READ_WARMUP + STATE_READS):
        v = h.attempt("state read", state_read,
                      lambda rows: checks.key_stats(rows, truth, exact=False), "state")
        if v is not None:
            last = v[-1]
            if i >= READ_WARMUP:
                out.read_s.append(v[0])
                out.read_cpu_s.append(v[1])
    if last is not None:
        # the merged streaming state must equal batch key_stats on the input
        batch = agg.key_stats(h.routed()).collect()
        problems = checks.state_matches_batch(last, batch)
        if problems:  # counted against the last state read
            h.failed += 1
            print(f"[perfbench] state vs batch failed: {problems[:3]}", file=sys.stderr)
    out.extra = {
        "stream_turns_per_s": out.turns_per_s,
        "batch_p50_s": statistics.median(durations) if durations else None,
        "lineage_wall_p50_s": statistics.median(walls.values()) if walls else None,
        "state_read_s": statistics.median(out.read_s) if out.read_s else None,
        "micro_batches": n_batches,
    }
    return out


class BatchCpu(threading.Thread):
    """CPU seconds per micro-batch: samples the process CPU time each time
    ``run_stream`` writes a batch's lineage file, the last thing a batch
    does. The first sample spans stream start-up and the first batch."""

    def __init__(self, h: Harness, lineage: Path):
        super().__init__(daemon=True)
        self.h, self.lineage = h, lineage
        self.done = threading.Event()
        self.marks = [h.cpu()]
        self.seen: set[str] = set()
        self.batch_cpu: list[float] = []

    def _sweep(self) -> None:
        new = {p.name for p in self.lineage.glob("batch_*.json")} - self.seen
        if new:
            self.seen |= new
            self.marks += [self.h.cpu()] * len(new)

    def run(self) -> None:
        while not self.done.wait(0.05):
            self._sweep()

    def finish(self) -> None:
        self.done.set()
        self.join()
        self._sweep()
        self.batch_cpu = [b - a for a, b in zip(self.marks, self.marks[1:])]


WORKLOADS = {
    "batch_report": batch_report,
    "stream_ingest": stream_ingest,
}


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and which
    percentile that is; the maximum (p100) when there are ten or fewer."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[-11], 100.0 * (len(s) - 10) / len(s)


# -- traced layer profile ----------------------------------------------------

def profile(h: Harness, tracer: Tracer) -> dict:
    """Per-layer self times from noop materializations of cumulative
    prefixes of the pipeline over the whole dataset (each prefix runs once
    to warm, then timed), plus counts. Results of the aggregate families
    and of the passes are checked like in the untraced workloads.
    ``tracer`` must be bound to ``h.spark``."""
    from pyspark.sql import functions as F

    from otlp_cardinality_checker_spark.functions.attributes import attrs_map_expr
    from otlp_cardinality_checker_spark.functions.masking import masked_frame
    from otlp_cardinality_checker_spark.functions.severity import severity_expr
    from otlp_cardinality_checker_spark.operators import sessions
    from otlp_cardinality_checker_spark.operators.enrich import enrich_turns
    from otlp_cardinality_checker_spark.operators.parse import parse_turns
    from otlp_cardinality_checker_spark.streaming.stream import (
        compact_state,
        current_key_stats,
    )

    m: dict[str, float] = {}
    spark = h.spark
    truth = h.ds.truth

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def probe(name: str, layer: str, fn):
        fn()
        with tracer.span(name, layer):
            fn()
        return tracer.duration(name)

    with tracer.span("profile"):
        # every probe builds its plan afresh, as a pass does, so a layer's
        # self time includes the plan-building work its part of the plan adds
        text = F.col("text")
        sev = severity_expr(text).alias("sev")
        attrs = attrs_map_expr(text).alias("attrs")

        def parsed():
            return parse_turns(h.turns())

        def enriched():
            return enrich_turns(parsed(), *h.dims)

        def prefix(extra):
            unit = h.turns()
            return unit.select(*unit.columns, *extra)

        def masked():
            unit = h.turns()
            return masked_frame(unit, src="text", out="__masked").select(
                *unit.columns, sev, attrs, "__masked")

        probes = [
            ("scan", "scan", lambda: prefix([])),
            ("parse.severity", "parse", lambda: prefix([sev])),
            ("parse.attrs", "parse", lambda: prefix([sev, attrs])),
            ("parse.mask", "parse", masked),
            ("parse", "parse", parsed),
            ("enrich", "enrich", enriched),
            ("route", "route", h.routed),
        ]
        t = {}
        for name, layer, build in probes:
            t[name] = probe(name, layer, lambda build=build: noop(build()))
        t["route.write"] = probe("route.write", "route",
                                 lambda: h.write_routed_table(h.routed(), "profile_routed"))
        mat = spark.read.parquet(str(h.work / "profile_routed"))
        unit = h.turns()
        parse_turns(unit)
        with tracer.span("parse.build", "parse"):
            parse_turns(unit)
        m["parse.build_s"] = tracer.duration("parse.build")

        m["scan.s"] = t["scan"]
        m["parse.severity_s"] = t["parse.severity"] - t["scan"]
        m["parse.attrs_s"] = t["parse.attrs"] - t["parse.severity"]
        m["parse.mask_s"] = t["parse.mask"] - t["parse.attrs"]
        m["parse.template_s"] = t["parse"] - t["parse.mask"]
        m["parse.s"] = t["parse"] - t["scan"]
        m["enrich.s"] = t["enrich"] - t["parse"]
        m["route.s"] = t["route"] - t["enrich"]
        m["route.write_s"] = t["route.write"] - t["route"]
        # rows and file bytes the program's scan reports, from the SQL
        # metrics of an executed count over it
        counted = h.turns().groupBy().count()
        counted.collect()
        scan = plan_metrics(counted, SCAN_COUNTERS)
        m["scan.rows"] = scan["Scan parquet.numOutputRows"]
        m["scan.bytes"] = scan["Scan parquet.filesSize"]
        h.count([] if m["scan.rows"] == h.ds.n_turns
                else [f"scan read {m['scan.rows']} rows of {h.ds.n_turns}"], "scan")
        written = list((h.work / "profile_routed").rglob("*.parquet"))
        m["route.files_written"] = len(written)
        m["route.bytes_written"] = sum(p.stat().st_size for p in written)
        rows = {s: sum(_parquet_rows(p) for p in written if f"sink={s}" in str(p))
                for s in SINKS}
        h.count(checks.sink_rows({s: n for s, n in rows.items() if n}, truth), "routed")
        m.update({f"route.rows.{s}": n for s, n in rows.items()})

        counters = dict.fromkeys(PLAN_COUNTERS, 0)
        for name, (build, check) in aggregate_families().items():
            build(mat).collect()
            with tracer.span(f"aggregate.{name}", "aggregate"):
                df = build(mat)
                result = df.collect()
            h.count(check(result, truth), name)
            m[f"aggregate.{name}_s"] = tracer.duration(f"aggregate.{name}")
            for k, v in plan_metrics(df, PLAN_COUNTERS).items():
                counters[k] += v
        m["aggregate.report_s"] = probe("aggregate.report", "aggregate",
                                        lambda: report_frame(mat).collect())
        m["aggregate.exploded_rows"] = counters["Generate.numOutputRows"]
        m["aggregate.shuffle_bytes"] = counters["Exchange.shuffleBytesWritten"]
        m["aggregate.spill_bytes"] = sum(v for k, v in counters.items()
                                         if k.endswith("spillSize"))

        # mergeable state: two partial snapshots written as batches of the
        # streaming state table, then folded and read as the stream path does
        snap = sessions.snapshot_key_stats(mat)
        m["sessions.snapshot_s"] = probe("sessions.snapshot", "sessions",
                                         lambda: noop(snap))
        halves = [sessions.snapshot_key_stats(
            mat.where(F.pmod(F.hash("conv_id"), F.lit(2)) == i)) for i in (0, 1)]
        merged = sessions.estimate(sessions.merge_snapshots(*halves))
        m["sessions.merge_s"] = probe("sessions.merge", "sessions",
                                      lambda: merged.collect())
        state = h.work / "profile_state"
        for batch_id in (0, 1, 2):
            (halves[batch_id % 2].withColumn("_batch_id", F.lit(batch_id))
             .write.mode("overwrite").partitionBy("_batch_id")
             .option("partitionOverwriteMode", "dynamic")
             .parquet(str(state / "agg_state")))
            if batch_id == 1:
                compact_state(spark, str(state))  # warm: folds batches 0-1
        with tracer.span("stream.compact", "stream"):
            compact_state(spark, str(state))  # folds batch 2 into the snapshot
        m["stream.compact_s"] = tracer.duration("stream.compact")
        m["stream.read_s"] = probe("stream.read", "stream",
                                   lambda: current_key_stats(spark, str(state)).collect())
        state_files = list((state / "agg_state").rglob("*.parquet"))
        m["sessions.state_rows"] = sum(_parquet_rows(p) for p in state_files)
        m["sessions.state_bytes"] = sum(p.stat().st_size for p in state_files)

        for layer in LAYERS:
            for k, v in job_counts(spark, layer).items():
                m[f"{layer}.{k}"] = v

        # tracing overhead: the same production pass untraced, then traced
        # (the probes above already ran every part of it once)
        untraced, *_, result = h.production_pass()
        h.count(checks.production_pass(result, truth), "pass")
        with tracer.span("pass"):
            traced, *_, result = h.production_pass(tracer=tracer)
        h.count(checks.production_pass(result, truth), "traced pass")
        m["trace.overhead_s"] = traced - untraced
        m["trace.pass_s"] = traced
        # how much of a production pass the regex parse is
        m["trace.parse_share"] = m["parse.s"] / traced
        # the pass is the routed-write prefix plus one report action; the
        # layer self times along it should add up to the traced pass
        layer_sum = t["route.write"] + m["aggregate.report_s"]
        m["trace.layer_sum_ratio"] = layer_sum / traced
        m["jvm.gc_s"] = gc_seconds(spark)
        m["jvm.jit_cpu_s"] = h.clock.jit()

    # single-threaded baseline of the same pass (fresh session, local[1])
    h.set_up(cores=1)
    one_core, *_, result = h.production_pass()
    h.count(checks.production_pass(result, truth), "1-core pass")
    m["scale.turns_per_s_1core"] = h.ds.n_turns / one_core
    m["scale.efficiency_1_to_n"] = (one_core / untraced) / h.cores
    return m


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(str(path)).metadata.num_rows

