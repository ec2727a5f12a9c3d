"""The traced pass and the per-layer metrics computed from its spans.

Layers are the engine's modules: ``session``, ``plans`` (driver-side
``QuerySpec.builder()``), ``exec`` (the noop-sink action), and
``pipeline.medallion`` / ``pipeline.storage`` (``TableStore``) /
``pipeline.corpus`` (``ingest_batch``).  Times are totals over one
traced pass; ``*_jobs`` count the Spark jobs launched inside a span or
any span below it; ``exec.*`` task metrics come from Spark's event log,
summed over the sink spans' job groups.
"""

from __future__ import annotations

import glob
import json
import os

from eventlog import GroupStats, aggregate_file
from spans import (GOLD_TIER, STORAGE_METHODS, Tracer, descendants,
                   patch_layers, self_times, unpatch)

#: the medallion stages reported one by one
STAGES = [
    "validate_bronze", "load_bronze", "run_silver", "scd2_dim_customer",
    "scd2_dim_merchant", "build_static_dims", "build_fact",
    "write_job_control", "read_watermark",
]


class TracedPass:
    def __init__(self, tracer: Tracer, samples: list, store_files: int,
                 store_bytes: int):
        self.tracer = tracer
        self.samples = samples
        self.store_files = store_files
        self.store_bytes = store_bytes


def traced_pass(spark, wl) -> TracedPass:
    """One more pass with every layer wrapped.  The medallion workload
    first gets a fresh store with its warm-up day (untraced), so the
    traced pass repeats the untraced pass's work exactly."""
    from workloads import store_usage

    if hasattr(wl, "new_store"):
        wl.new_store()
    tracer = Tracer(spark)
    patched = patch_layers(tracer)
    try:
        samples = wl.run_pass(tracer)
    finally:
        unpatch(patched)
    files, size = store_usage(getattr(wl, "store_root", None))
    return TracedPass(tracer, samples, files, size)


def layer_metrics(tp: TracedPass, e2e: dict, details: dict, work: str,
                  cpus: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics (name -> (value, unit)) and the span records."""
    spans = tp.tracer.spans
    below = descendants(spans)
    own = self_times(spans)
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    groups = aggregate_file(logs[0]) if logs else {}

    def named(name):
        return [s for s in spans if s.name == name]

    def seconds(name):
        return sum(s.duration for s in named(name))

    def jobs(name):
        return sum(len(d.jobs) for s in named(name) for d in below[s.sid])

    def tasks(name) -> GroupStats:
        total = GroupStats()
        for s in named(name):
            for d in below[s.sid]:
                if d.group in groups:
                    total.add(groups[d.group])
        return total

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (details["session_start_s"], "s")
    m["session.jvm_rss_mb"] = (details["jvm_rss_mb"], "MB")
    build_s, sink_s = seconds("plans.build"), seconds("exec.sink")
    m["plans.build_s"] = (build_s, "s")
    m["plans.build_jobs"] = (jobs("plans.build"), "count")
    m["plans.build_share"] = (
        build_s / (build_s + sink_s) if build_s + sink_s else 0.0, "ratio")
    ex = tasks("exec.sink")
    m["exec.sink_s"] = (sink_s, "s")
    m["exec.jobs"] = (jobs("exec.sink"), "count")
    m["exec.stages"] = (ex.stages, "count")
    m["exec.tasks"] = (ex.tasks, "count")
    m["exec.tasks_per_job"] = (ex.tasks / ex.jobs if ex.jobs else 0.0, "ratio")
    m["exec.task_s"] = (ex.task_s, "s")
    m["exec.core_busy"] = (ex.task_s / (sink_s * cpus) if sink_s else 0.0, "ratio")
    m["exec.shuffle_read_bytes"] = (ex.shuffle_read_bytes, "B")
    m["exec.shuffle_write_bytes"] = (ex.shuffle_write_bytes, "B")
    m["exec.spill_bytes"] = (ex.spill_bytes, "B")
    m["exec.gc_s"] = (ex.gc_s, "s")
    m["exec.task_skew"] = (ex.task_skew if ex.tasks else 0.0, "ratio")

    for stage in STAGES:
        m[f"medallion.{stage}_s"] = (seconds(f"medallion.{stage}"), "s")
        m[f"medallion.{stage}_jobs"] = (jobs(f"medallion.{stage}"), "count")
    tier = 0.0
    for run in named("medallion.run_incremental"):
        kids = [s for s in spans if s.parent == run.sid
                and s.name.split(".", 1)[1] in GOLD_TIER]
        if kids:
            tier += max(s.end for s in kids) - min(s.start for s in kids)
    m["medallion.gold_tier_s"] = (tier, "s")
    m["medallion.runner_self_s"] = (
        sum(own[s.sid] for s in named("medallion.run_incremental")), "s")
    for key, unit in (("rows_per_s", "1/s"), ("replay_s", "s"),
                      ("gold_query_p50_s", "s")):
        m[f"medallion.{key}"] = (details.get(key, 0.0), unit)

    for method in STORAGE_METHODS:
        m[f"storage.{method}_calls"] = (len(named(f"storage.{method}")), "count")
        m[f"storage.{method}_s"] = (seconds(f"storage.{method}"), "s")
    m["storage.files"] = (tp.store_files, "count")
    m["storage.bytes"] = (tp.store_bytes, "B")
    m["storage.bytes_per_input_byte"] = (details.get("bytes_per_input_byte", 0.0), "ratio")
    m["corpus.ingest_batch_s"] = (seconds("corpus.ingest_batch"), "s")
    m["corpus.ingest_batch_jobs"] = (jobs("corpus.ingest_batch"), "count")

    traced_s = sum(s.seconds for s in tp.samples)
    m["trace.overhead_s"] = (traced_s - e2e["run_s"][0], "s")

    t0 = min((s.start for s in spans), default=0.0)
    records = [
        {
            "sid": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
            "start": round(s.start - t0, 6), "end": round(s.end - t0, 6),
            "self_s": round(own[s.sid], 6), "jobs": len(s.jobs),
            **({"tasks": groups[s.group].as_dict()} if s.group in groups else {}),
        }
        for s in sorted(spans, key=lambda s: s.start)
    ]
    return m, records


def self_time_by_name(records: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for r in records:
        name = "op" if r["name"].startswith("op.") else r["name"]
        out[name] = out.get(name, 0.0) + r["self_s"]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def write_trace(path: str, workload: str, seed: int, metrics: dict,
                records: list[dict], series: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "workload": workload,
            "seed": seed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "self_s_by_span": self_time_by_name(records),
            "storage_series": series,
            "spans": records,
        }, f, indent=1)
