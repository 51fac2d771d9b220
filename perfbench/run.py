"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload shortlist --seed 1 --seconds 10 --trace 0

Workloads: shortlist, batch, analytics (see
BENCHMARK.json for why each exists). Inputs come from ``--seed`` via
perfbench/gen.py; scratch files go to ``.perfbench_work/`` in the
checkout. ``--trace 0`` prints the end-to-end metrics. ``--trace 1`` measures
half the window untraced and half traced, materialising each layer's
output before the next layer starts; it prints the per-layer metrics,
including the traced run's slowdown as trace.overhead_frac, and writes
the spans to ``.perfbench_work/spans-<workload>-<seed>.json``. The last
stdout line is the result; exits 1 when a correctness check fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from gen import FIXTURE_TABLES as TABLES  # noqa: E402

WORKLOADS = ("shortlist", "batch", "analytics")

END_TO_END = {
    "setup_s": "s",
    "p50_s": "s",
    "p90_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "scan_cache.fill_s": "s",
    "scan_cache.mb": "MB",
    **{f"scan_cache.partitions.{t}": "count" for t in TABLES},
    **{f"scan_cache.bytes.{t}": "bytes" for t in TABLES},
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "plan_s": "s",
    "embedding.query_s": "s",
    "embedding.docs_per_s": "1/s",
    "similarity_blas.probe_s": "s",
    "similarity_blas.exec_s": "s",
    "similarity_blas.tasks_per_request": "count",
    "dedup.exact_s": "s",
    "dedup.minhash_lsh_s": "s",
    "dedup.candidates": "count",
    "dedup.lsh_precision": "frac",
    "cluster.s": "s",
    "cluster.edges": "count",
    "cluster.jobs": "count",
    "io.write_s": "s",
    "io.bytes_written_per_input_byte": "frac",
    "sectioner.s": "s",
    "sectioner.sections_per_resume": "count",
    "scoring.llm_s": "s",
    "scoring.rows": "count",
    "parsing.prompt_s": "s",
    "parsing.parse_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_s": "s",
    "spark.core_busy_frac": "frac",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "driver.py_cpu_s": "s",
    "trace.overhead_frac": "frac",
    "mem.peak_rss_mb": "MB",
}


class Context:
    """What a workload sees: the session, its seed and size, the counters
    and the tracer."""

    def __init__(self, seed: int, size: float, ncpu: int, work: str):
        self.seed = seed
        self.size = size
        self.ncpu = ncpu
        self.work = work
        self.spark = None
        self.counters = None
        self.tracer = harness.Tracer(enabled=False)


T_START = time.perf_counter()


def phase(name: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {name}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool, size: float = 1.0) -> dict:
    env = harness.pin_env()
    if harness.ROOT not in sys.path:
        sys.path.insert(1, harness.ROOT)
    work = os.path.join(harness.WORK, workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(seed, size, env["nproc"], work)
    phase("generate inputs")
    wl = importlib.import_module(workload).Workload(ctx)
    phase("start session")

    from resume_jd_matcher_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        ctx.counters = harness.SparkCounters(ctx.spark)
        phase("set up")
        setup = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup_once()
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        wl.after_setup()
        phase("measure")

        if not trace:
            t0 = time.perf_counter()
            lat, units = wl.measure(seconds)
            wall = time.perf_counter() - t0
            metrics = {
                "setup_s": session_s + harness.median(setup) + warm_s,
                "p50_s": harness.quantile(lat, 0.5),
                "p90_s": harness.quantile(lat, 0.9),
                "throughput_per_s": units / wall,
            }
            units_of = END_TO_END
        else:
            t0 = time.perf_counter()
            _, plain_units = wl.measure(seconds / 2)
            plain_wall = time.perf_counter() - t0
            ctx.tracer.enabled = True
            before = ctx.counters.snapshot()
            _, traced_units = wl.measure(seconds / 2)
            after = ctx.counters.snapshot()
            ctx.tracer.enabled = False
            traced_wall = after["t"] - before["t"]
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics.update(ctx.counters.delta(before, after, ctx.ncpu))
            metrics["session.start_s"] = session_s
            metrics["mem.peak_rss_mb"] = ctx.counters.peak_rss_mb()
            metrics["trace.overhead_frac"] = (traced_wall / traced_units) / (
                plain_wall / plain_units
            ) - 1.0
            metrics.update(wl.layers(ctx.tracer.self_times(), metrics))
            ctx.tracer.write(os.path.join(harness.WORK, f"spans-{workload}-{seed}.json"))
            units_of = PER_LAYER
        phase("check")
        attempted, failed = wl.check()
        info = {**env, **ctx.counters.versions()}
    finally:
        phase("stop session")
        harness.stop_session(ctx.spark)
        phase("done")
    return {
        "correct": attempted >= 1 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units_of.items()},
        "env": info,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0, help="input size factor (tests use <1)")
    args = ap.parse_args(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    env = result.pop("env")
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
