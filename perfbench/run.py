"""Benchmark for the lakehouse engine: closed-loop workloads, one client
thread, ``local[<cpus>]``.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It generates its inputs from
``--seed`` under ``.perfbench/`` there, warms up, times whole passes
over the workload's operations until ``--seconds`` have passed (and at
least the workload's minimum pass count), checks the outputs, and prints
one JSON line last: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run adds one traced pass and reports the per-layer
split instead, and writes the spans to ``.perfbench/trace-*.json``.
The README next to this file defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("medallion_daily", "corpus_dedup")
#: passes timed even when ``--seconds`` has passed: one medallion pass
#: already holds two day batches, a gold query each and the replay
MIN_PASSES = {"medallion_daily": 1, "corpus_dedup": 2}
PACKAGE = "delta_lake_gcp_implementation_spark"


class NoTrace:
    """Stand-in tracer for untraced passes."""

    def span(self, name, op=False):
        return nullcontext()


def pin_resources(root: str, work: str) -> dict:
    """Size the session from this process's CPU affinity and physical
    RAM (the engine's defaults are 32 cores and 16 GB), and keep every
    temporary file inside the work directory."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(4096, phys_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Python workers import the engine too
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_mem_mb": mem_mb}


def start_session(work: str, trace: bool):
    from delta_lake_gcp_implementation_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it runs in and wait for it: the
    gateway JVM exits when its stdin closes, and its Python workers
    exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least ten samples beyond it: (value,
    percentile, samples beyond).  Fewer than 11 samples give the max."""
    xs = sorted(values)
    n = len(xs)
    if n > 10:
        return xs[n - 11], 100.0 * (n - 10) / n, 10
    return xs[-1], 100.0, 0


def make_workload(name: str, spark, work: str, seed: int):
    import workloads as W

    if name == "medallion_daily":
        return W.MedallionWorkload(spark, work, seed)
    return W.CatalogWorkload(spark, work, seed, W.CORPUS_KEYS, W.CORPUS_SF)


def timed_passes(wl, seconds: float, min_passes: int, tracer) -> list[list]:
    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        passes.append(wl.run_pass(tracer))
    return passes


def pass_seconds(samples) -> float:
    return sum(s.seconds for s in samples)


def end_to_end(wl, passes, setup_s: float, driver_mb: float) -> tuple[dict, dict]:
    """The bounded metrics, plus details printed next to them."""
    samples = [s for p in passes for s in p]
    primary = [s.seconds for s in samples if s.kind in ("key", "day")]
    value, pct, beyond = tail([s.seconds for s in samples])
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (statistics.median(pass_seconds(p) for p in passes), "s"),
        "op_p50_s": (statistics.median(primary), "s"),
        "op_tail_s": (value, "s"),
        "driver_rss_mb": (driver_mb, "MB"),
    }
    details = {
        "passes": len(passes),
        "ops": len(samples),
        "op_tail_percentile": round(pct, 1),
        "op_tail_samples_beyond": beyond,
    }
    days = [s for s in samples if s.kind == "day"]
    if days:
        from workloads import store_usage

        files, size = store_usage(wl.store_root)
        details.update({
            "rows_per_s": sum(s.rows for s in days)
            / sum(s.seconds for s in days),
            "replay_s": statistics.median(
                s.seconds for s in samples if s.kind == "replay"),
            "gold_query_p50_s": statistics.median(
                s.seconds for s in samples if s.kind == "query"),
            "bytes_per_input_byte": size / wl.input_bytes,
            "store_files": files,
            "store_bytes": size,
        })
    return metrics, details


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    # the engine, and tools/compare_oracle.py for the output checks
    sys.path[:0] = [root, os.path.join(root, "tools")]
    work = os.path.join(root, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, root: str, work: str) -> dict:
    t_setup = time.perf_counter()
    resources = pin_resources(root, work)
    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        wl = make_workload(args.workload, spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t_setup - wl.check_s
        passes = timed_passes(wl, args.seconds, MIN_PASSES[args.workload], NoTrace())
        metrics, details = end_to_end(wl, passes, setup_s, vm_hwm_mb(os.getpid()))
        # the JVM's resident size follows the collector's heap-resizing
        # decisions (15-25% apart between identical runs), so it is
        # reported but not bounded
        details["jvm_rss_mb"] = vm_hwm_mb(jvm_pid)
        details.update(resources)
        details["session_start_s"] = session_s
        if args.trace:
            import layers

            traced = layers.traced_pass(spark, wl)
    finally:
        stop_session(spark)
    if args.trace:
        metrics, records = layers.layer_metrics(
            traced, metrics, details, work, resources["cpus"])
        layers.write_trace(
            os.path.join(root, ".perfbench",
                         f"trace-{args.workload}-seed{args.seed}.json"),
            args.workload, args.seed, metrics, records,
            getattr(wl, "series", []))
    n_failed = len(wl.failures)
    for f in wl.failures:
        print(f"FAILED {f}", file=sys.stderr)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"{args.workload} details {json.dumps(details, sort_keys=True)}")
    return {
        "correct": n_failed == 0,
        "attempted": wl.attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
