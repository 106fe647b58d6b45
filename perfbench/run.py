"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.bench_build/perfbench/`` (removed at exit);
the last line of standard output is

    {"correct": ..., "attempted": N, "failed": F, "metrics": {...}}

with every end-to-end metric of ``BENCHMARK.json`` under ``--trace 0``
and every per-layer metric under ``--trace 1`` (a traced run measures an
untraced window first, then the same window with every engine module
wrapped, and reports the difference as the tracing overhead). Progress
and failures go to standard error. Exits 2 when the engine package is
not next to the benchmark.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run gives up (without a result) after this many seconds, leaving
#: time to stop Spark within the 180 s a run may take
HARD_LIMIT_S = 160


class RunTimeout(BaseException):
    """Raised by the alarm at ``HARD_LIMIT_S``. Not an ``Exception``, so
    no op's error handling can swallow it: the run ends without a result."""


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


#: operator modules the workloads call, reported one by one
OPERATOR_MODULES = ("dedup", "similarity", "parallel", "upsert", "compact")


def end_to_end(setups: list[float], passes: list[float],
               medians: dict[str, float]) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_s.geomean": (geomean(medians.values()), "s"),
    }


def per_layer(wl, tracer, untraced: list[float], traced: list[float],
              medians: dict[str, float], ingest: dict[str, float],
              jvm_peak_mb: float) -> dict:
    """The traced run's layer metrics, per pass where a sum; op
    latencies and ingest figures come from the untraced window."""
    n = len(traced)
    selfs = tracer.self_times()
    layers = tracer.layer_self_times()
    counts = tracer.counts

    def self_of(prefix: str) -> float:
        return sum(t for name, t in selfs.items() if name.startswith(prefix)) / n

    def per_call(count: str, span: str) -> float:
        """``count`` recorded for the jobs of ``span``, per such span."""
        return counts[f"{span}.{count}"] / max(1, tracer.calls(span))

    from perfbench.workloads import CORPUS_OPS, INGEST_METRICS

    out = {
        "session.posture_s": (layers.get("session", 0.0) / n, "s"),
        "session.conf_writes": (tracer.counts["session.conf_writes"] / n, "count"),
        "sources.tables.s": (self_of("sources.tables."), "s"),
        "sources.json_ingest.s": (self_of("sources.json_ingest."), "s"),
        "plans.build_s": (layers.get("plans", 0.0) / n, "s"),
        "plans.eager_jobs": (tracer.counts["plans.eager_jobs"] / n, "count"),
    }
    for op in CORPUS_OPS:
        out[f"plans.{op}.s"] = (medians.get(op, 0.0), "s")
    out.update({
        "spark.action_s": (self_of("spark.action"), "s"),
        "spark.jobs": (tracer.counts["spark.jobs"] / n, "count"),
        "spark.stages": (tracer.counts["spark.stages"] / n, "count"),
        "spark.tasks": (tracer.counts["spark.tasks"] / n, "count"),
        "spark.task_failures": (tracer.counts["spark.task_failures"] / n, "count"),
        "spark.jvm_peak_rss_mb": (jvm_peak_mb, "MB"),
        "spark.cache_peak_mb": (wl.cache_peak_bytes / 2**20, "MB"),
    })
    for mod in OPERATOR_MODULES:
        out[f"operators.{mod}.s"] = (self_of(f"operators.{mod}."), "s")
        out[f"operators.{mod}.calls"] = (tracer.calls(f"operators.{mod}.") / n, "count")
    out["operators.other.s"] = (
        layers.get("operators", 0.0) / n
        - sum(out[f"operators.{m}.s"][0] for m in OPERATOR_MODULES), "s")
    out["operators.dedup.release_s"] = (self_of("operators.dedup.release_reuse_caches"), "s")
    out["quality.run_scan.s"] = (self_of("quality.checks.run_scan"), "s")
    out["pipeline.self_s"] = (layers.get("pipeline", 0.0) / n, "s")
    for name, unit in INGEST_METRICS.items():
        out[name] = (ingest.get(name, 0.0), unit)
    upsert = "operators.upsert.upsert_append"
    out.update({
        "operators.upsert.keys_read_per_row": (
            counts[f"{upsert}.input_records"]
            / max(1, counts["operators.upsert.rows_written"]), "ratio"),
        "operators.compact.bytes_rewritten": (
            per_call("output_bytes", "operators.compact.compact"), "bytes"),
        "quality.rows_scanned": (
            per_call("input_records", "quality.checks.run_scan"), "count"),
    })
    pass_u, pass_t = statistics.median(untraced), statistics.median(traced)
    out.update({
        "trace.pass_s.untraced": (pass_u, "s"),
        "trace.pass_s.traced": (pass_t, "s"),
        "trace.overhead_s": (pass_t - pass_u, "s"),
        "trace.coverage": (1 - layers.get("bench", 0.0) / sum(traced), "ratio"),
        "checks.error_rate": (len(wl.failures) / max(1, wl.attempted), "ratio"),
    })
    return out


def run(args: argparse.Namespace, work: str) -> dict:
    from perfbench.jvm import jvm_peak_rss_mb
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, work, cpus, args.size)
    t = time.perf_counter()
    wl.generate()
    log(f"{args.workload} seed={args.seed}: inputs in {time.perf_counter() - t:.1f}s")
    setups = wl.setup()
    log(f"setup {[round(s, 2) for s in setups]} posture={wl.posture}")
    t = time.perf_counter()
    wl.check_outputs()
    wl.warm_up()
    log(f"checks and warm-up {time.perf_counter() - t:.1f}s")
    passes = wl.measure(args.seconds)
    log(f"passes {[round(p, 2) for p in passes]}")
    medians, ingest = wl.op_medians(), wl.extra_metrics()
    log(f"op medians {({k: round(v, 3) for k, v in medians.items()})}")
    metrics = end_to_end(setups, passes, medians)
    if args.trace:
        tracer = Tracer()
        wl.trace_with(tracer)
        tracer.instrument()
        tracer.count_conf_writes()
        try:
            traced = wl.measure(args.seconds)
        finally:
            tracer.uninstrument()
            wl.trace_with(None)
        log(f"traced passes {[round(p, 2) for p in traced]}")
        metrics = per_layer(wl, tracer, passes, traced, medians, ingest,
                            jvm_peak_rss_mb())
        out = f"{ROOT}/.bench_build/perfbench-trace-{args.workload}-{args.seed}.json"
        tracer.dump(out)
        log(f"spans written to {out}")
    wl.finish()
    for f in wl.failures:
        log(f"FAILED {f}")
    return {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crypto_etl_airflow_spark")):
        log(f"the engine package is not in {ROOT}; run from a checkout")
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # import the benchmark as a package and the engine from the checkout
    sys.path[0] = ROOT
    from perfbench.jvm import stop_spark
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    def too_long(*_):
        raise RunTimeout(f"run exceeded {HARD_LIMIT_S}s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(HARD_LIMIT_S)
    # everything the run writes stays in the checkout
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    # every JVM the run starts: temp files in the checkout, and no
    # per-process perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={work}/tmp").strip()
    try:
        result = run(args, work)
    finally:
        signal.alarm(0)
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
