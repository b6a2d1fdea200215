#!/usr/bin/env python3
"""Run one workload of the layered pipeline benchmark.

    python3 perfbench/run.py --workload batch_report --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates seeded inputs, sizes Spark to the
host, runs the workload in this one process (``get_spark`` is
``getOrCreate``) and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it carries the host context and the workload's own figures.
Scratch data lives in ``.perfbench_work/`` and is removed at exit; spans of
traced runs are kept in ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

# turns, batch-scan files, stream files (one micro-batch each)
SIZES = {
    "batch_report": (30_000, 8, 0),
    "stream_ingest": (21_000, 8, 14),
}
E2E_UNITS = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "op_cpu_s": "s",
    "read_cpu_s": "s",
}


def layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_1core"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if "efficiency" in name or name.endswith(("ratio", "share")):
        return "ratio"
    return "count"


def _mem_available_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 4096


def size_host() -> tuple[int, int]:
    """Cores from the CPU affinity mask, JVM heap from MemAvailable
    (a quarter of it, 1-8 GiB), through the program's own env knobs."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(8, _mem_available_mb() // 4096))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    return cores, heap_gb


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="self-test: perturb the truth so the checks must fail")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    from perfbench.spans import cpu_times, host_context, peak_rss_mb, steal_share

    load_before = list(os.getloadavg())
    cpu_before = cpu_times()
    cores, heap_gb = size_host()
    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("data", "spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ["SPARK_GRAFT_DATA_ROOT"] = str(work / "data")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    try:
        import otlp_cardinality_checker_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the pipeline is not importable here: {exc}", file=sys.stderr)
        _clean(work)
        return 2

    from perfbench.inputs import make_dataset
    from perfbench.spans import Tracer, gc_seconds
    from perfbench.workloads import WORKLOADS, Harness, profile, tail_percentile

    n_turns, n_files, stream_files = SIZES[args.workload]
    t0 = time.perf_counter()
    ds = make_dataset(args.seed, n_turns, n_files, stream_files)
    gen_s = time.perf_counter() - t0
    if args.corrupt_expectation:
        ds.truth.corrupt()

    h = Harness(ds, cores, work, java_tmp=work / "tmp")
    context = {"workload": args.workload, "seed": args.seed, "cores": cores,
               "jvm_heap_gb": heap_gb, "turns": ds.n_turns, "files": ds.n_files,
               "input_bytes": ds.n_bytes, "conversations": ds.n_convs,
               "generate_s": gen_s, "loadavg_before": load_before}
    try:
        if args.trace:
            start_s, _ = h.set_up()
            tracer = Tracer(h.spark)
            layers = profile(h, tracer)
            layers["session.start_s"] = start_s
            layers["mem.peak_rss_mb"] = peak_rss_mb(h.jvm_pid)
            tracer.write(OUT / f"spans-{args.workload}-seed{args.seed}-{tracer.run_id}.json")
            metrics = {k: {"value": v, "unit": layer_unit(k)}
                       for k, v in sorted(layers.items())}
        else:
            o = WORKLOADS[args.workload](h, args.seconds)
            if not (o.op_s and o.op_cpu_s and o.read_s):
                raise RuntimeError("no operation succeeded")
            # CPU seconds of the Spark JVM and this process throughout: on
            # a shared virtual machine the wall time of the same operation
            # spreads wider across identical runs than any bound allows
            # (see perfbench/README.md); wall times are in the context line
            values = {
                "setup_s": o.setup_cpu_s,
                "job_cpu_s": o.job_cpu_s,
                "op_cpu_s": statistics.median(o.op_cpu_s),
                "read_cpu_s": statistics.median(o.read_cpu_s),
            }
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
            tail, pct = tail_percentile(o.op_s)
            context.update(
                o.extra,
                setup_wall_s=o.setup_s, cold_op_s=o.cold_op_s,
                cold_op_cpu_s=o.cold_op_cpu_s, op_p50_s=statistics.median(o.op_s),
                turns_per_s=o.turns_per_s,
                op_tail_s=tail, op_tail_percentile=pct, op_samples=len(o.op_s),
                read_s=statistics.median(o.read_s),
                peak_rss_mb=peak_rss_mb(h.jvm_pid), jvm_gc_s=gc_seconds(h.spark),
                jvm_jit_cpu_s=h.clock.jit(),
                op_runs_s=o.op_s, op_cpu_runs_s=o.op_cpu_s,
                read_runs_s=o.read_s, read_cpu_runs_s=o.read_cpu_s)
        context["spark_version"] = h.spark.version
        context["heap_max_mb"] = (
            h.spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20)
    finally:
        h.shutdown()
        _clean(work)
    if any(not math.isfinite(m["value"]) for m in metrics.values()):
        print("perfbench: a metric could not be measured", file=sys.stderr)
        return 1
    context.update(host_context(), loadavg_after=list(os.getloadavg()),
                   cpu_steal_share=steal_share(cpu_before, cpu_times()),
                   failed_frac=h.failed / max(1, h.attempted))
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({"correct": h.failed == 0, "attempted": h.attempted,
                      "failed": h.failed, "metrics": metrics}))
    return 0


def _clean(path: Path) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    try:
        path.parent.rmdir()  # only when no other run is using it
    except OSError:
        pass


if __name__ == "__main__":
    sys.exit(main())
