"""Benchmark runner (driver contract).

Runs the headline catalog queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.  ``SPARK_GRAFT_CPUS`` defaults to
the machine's CPU count.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect, no disk write) — the honest measure of plan cost.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from delta_lake_gcp_implementation_spark.plans import CATALOG
from delta_lake_gcp_implementation_spark.session import get_spark

HEADLINE = [
    "star_rollup",
    "fact_build",
    "customer_rollup",
    "topn_revenue",
    "validation_kept",
    "dedup_latest_version",
    "best_record",
    "tumbling_window",
    "sliding_window",
    "session_window",
    "point_in_time",
    "summary_stats",
    "rollup_hierarchy",
    "grouping_sets",
    "pivot_status",
    "unpivot_measures",
    "group_topk",
    "percentile_stats",
    "running_total",
    "trailing_window",
    "asof_join",
    "interval_join",
    "set_ops",
    "sketch_stats",
    "table_profile",
    "above_avg_spenders",
    "order_histogram",
    # training-data pipeline family (documents / embeddings)
    "token_counts",
    "doc_fingerprint",
    "doc_chunking",
    "vocab_topk",
    "tfidf_topk",
    "label_centroids",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard",
    "dup_clusters",
    "semantic_dedup",
    "simhash_near_dups",
    "cosine_topk",
    "ann_lsh_topk",
    # corpus curation family
    "contamination_check",
    "token_packing",
    "stratified_sample",
    "chunk_dedup",
    "shuffle_shard",
    # round-4 additions
    "bigram_pmi_topk",
    "train_val_test_split",
    "mix_weights_temperature",
    "fuzzy_name_match",
    "ann_recall_eval",
    # round-5 additions
    "corpus_ingest_verdict",
    "winnowing_fingerprints",
    "winnowing_containment",
    "dup_ngram_fraction",
    "unigram_surprisal",
    "ann_sq8_topk",
    "ann_pq_recall",
    "approx_quantile_verdict",
    "cluster_balanced_sample",
    "ols_trend",
    "dq_expectations",
    # round-5 second wave
    "weighted_sample",
    "hard_negatives",
    "cluster_best_doc",
    "bloom_membership",
    "bpe_merges",
    "count_min_verdict",
    "domain_kl",
    "sparse_cosine_pairs",
    "cdc_chunks",
    "mmr_select",
    "dominant_suppliers",
    "bpe_encode_tokens",
    "token_pagerank",
    "hybrid_rrf_topk",
    "equi_depth_bins",
    "pareto_parts",
    "record_linkage",
    "linear_interpolate",
    "session_ids",
    "ses_forecast",
    "outlier_days",
    "media_frames",
    "hll_verdict",
    "max_concurrency",
    "market_share",
    "custdist",
    "dormant_rich_customers",
    "big_orders",
    "cheapest_supplier",
    "rolling_wau",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warmup on the smallest SF so per-query numbers measure
    # the plan, not first-run JIT.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        CATALOG["star_rollup"].builder(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Full catalog coverage (r5 verdict item 5): headline keys first —
    # their order is the flagship narrative — then every remaining
    # catalog key, so BENCH_r*.json carries one wall-time per catalog
    # entry and a per-key regression is visible, not hidden in a family
    # aggregate.
    all_keys = HEADLINE + [k for k in CATALOG if k not in HEADLINE]
    timings: dict[str, float] = {}
    for name in all_keys:
        builder = CATALOG[name].builder
        best = float("inf")
        for _ in range(2):  # best-of-2: damp scheduler/GC stalls
            t0 = time.perf_counter()
            builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # medallion pipeline end-to-end at the reference's daily batch size
    # (90K rows: BASELINE.md Bronze-incremental scale) — validate ->
    # bronze MERGE -> silver CDC collapse -> SCD2 dims -> star fact
    import tempfile

    from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    # best-of-2 with fresh stores: single-shot pipeline timings showed
    # large JIT/GC variance (15-98 s for the same work)
    medallion.RESULT_JSON_ENABLED = False  # stdout is the bench contract
    pipe: dict[str, float] = {}
    for _ in range(2):
        with tempfile.TemporaryDirectory() as tmp:
            store = TableStore(spark, tmp)
            raw = fixtures.generate_day_spark(spark, 1, 90_000)
            t0 = time.perf_counter()
            medallion.run_incremental(store, raw)
            t_run = time.perf_counter() - t0

            # day-2 batch through bronze+silver (untimed prep), then the
            # SCD2 dims individually (BASELINE.md: 115 s / 100 s per dim)
            raw2 = fixtures.generate_day_spark(spark, 2, 90_000)
            b2 = medallion.new_batch_id()
            wm = medallion.read_watermark(store, "bronze")
            medallion.validate_bronze(store, raw2, b2, watermark=wm)
            medallion.load_bronze(store, b2)
            medallion.run_silver(store, b2)
            t0 = time.perf_counter()
            medallion.scd2_dim_customer(store, b2)
            t_scd_c = time.perf_counter() - t0
            t0 = time.perf_counter()
            medallion.scd2_dim_merchant(store, b2)
            t_scd_m = time.perf_counter() - t0

            # date-range backfill (watermark untouched)
            raw_bf = fixtures.generate_day_spark(spark, 3, 90_000)
            t0 = time.perf_counter()
            medallion.backfill_bronze(
                store, raw_bf, "2024-03-03", "2024-03-03", "BATCH_BENCH_BF"
            )
            t_bf = time.perf_counter() - t0

            # GDPR dual delete (BASELINE.md: 35 s on the reference)
            victim = (
                store.read("silver.transactions")
                .select("customer_id").first().customer_id
            )
            t0 = time.perf_counter()
            medallion.gdpr_delete(store, victim, "BATCH_BENCH_GDPR")
            t_gdpr = time.perf_counter() - t0

            # full refresh silver + fact (BASELINE.md: 69 s / 126 s)
            t0 = time.perf_counter()
            medallion.full_refresh_silver(store, "BATCH_BENCH_FRS", confirm="YES")
            t_frs = time.perf_counter() - t0
            t0 = time.perf_counter()
            medallion.full_refresh_fact(store, "BATCH_BENCH_FRF", confirm="YES")
            t_frf = time.perf_counter() - t0
        for k, v in [
            ("medallion_incremental_90k", t_run),
            ("scd2_dim_customer", t_scd_c),
            ("scd2_dim_merchant", t_scd_m),
            ("bronze_backfill", t_bf),
            ("gdpr_dual_delete", t_gdpr),
            ("silver_full_refresh", t_frs),
            ("fact_full_refresh", t_frf),
        ]:
            pipe[k] = min(pipe.get(k, float("inf")), v)
    timings.update({k: round(v, 3) for k, v in pipe.items()})

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(payload))
    _write_full_artifact(payload)
    spark.stop()


def _detect_round(here: str, by_rows: int) -> int:
    """Round number to stamp on the full artifact (see
    ``_write_full_artifact``): ``by_rows`` (= max LAST_GREEN + 1, the
    round being built per the round-start regen) — unless a newer
    CORRECTNESS file is already COMMITTED, in which case that round
    closed without a regen yet and the stamp advances past it.
    Commit state means commits: ``git ls-tree -r HEAD``, never
    ``ls-files`` (the index) — a staged-but-uncommitted artifact is
    the driver mid-close and must NOT advance the stamp (r8 ADVICE)."""
    import re
    import subprocess

    try:
        committed = [
            ln
            for ln in subprocess.run(
                ["git", "-C", here, "ls-tree", "-r", "HEAD",
                 "--name-only"],
                capture_output=True, text=True, check=True,
            ).stdout.splitlines()
            if re.fullmatch(r"CORRECTNESS_r\d+\.json", ln)
        ]
        newest_committed = max(
            (
                int(m.group(1))
                for ln in committed
                if (m := re.search(r"r(\d+)", ln))
            ),
            default=0,
        )
    except Exception:  # not a git checkout: fall back to LAST_GREEN
        newest_committed = 0
    return max(by_rows, newest_committed + 1)


def _write_full_artifact(payload: dict) -> None:
    """Persist the COMPLETE per-key timings as BENCH_FULL_r{N}.json in
    the repo (r6 verdict item 4: the driver's BENCH_r*.json keeps only
    the last ~2 KB of stdout, so full-catalog coverage was only
    partially auditable).  Round number = max(driver_rows.LAST_GREEN)
    + 1 — the round being built per the round-start regen — UNLESS
    that round's own CORRECTNESS file is already COMMITTED, in which
    case the round is closed and the stamp advances past it (newest
    committed CORRECTNESS + 1).  Either source alone fails in one
    direction: the glob alone mislabeled the r7-final artifact
    BENCH_FULL_r08 (the driver's CORRECTNESS file enters the WORKING
    TREE before its end-of-round bench run — r7 verdict nit), while
    LAST_GREEN alone would CLOBBER the previous round's committed
    artifact whenever a new round's bench runs before the manual
    driver_rows regen.  Commit state is the distinguisher: an
    uncommitted CORRECTNESS file means the round is still closing
    (keep its stamp); a committed one means a new round is underway.
    Overridable via $SPARK_GRAFT_ROUND; only the driver-shape sf0.1
    run writes, so a quick sf0.01 iteration never clobbers the
    committed artifact.

    Two r15-verdict integrity fixes: (a) the artifact records the
    core count it was measured at, and a non-32-core run (the
    driver's low-core scaling pass) writes a ``_c{cpus}``-suffixed
    file instead of clobbering the canonical 32-core artifact — in
    r15 the 8-core scaling run overwrote BENCH_FULL_r15.json, so any
    FULL-vs-FULL round comparison silently mixed core counts; (b) the
    two trailing human-readable lines live INSIDE the artifact (as
    ``notes``), not on a stream — in r14 the driver's capture
    interleaved them after the stdout JSON and its parser choked, so
    nothing may follow the JSON line on either stream."""
    if payload["sf"] != 0.1:
        return
    here = os.path.dirname(os.path.abspath(__file__))
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not rnd:
        from delta_lake_gcp_implementation_spark.plans import driver_rows

        by_rows = max(driver_rows.LAST_GREEN.values(), default=0) + 1
        rnd = str(_detect_round(here, by_rows))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    suffix = "" if cpus == 32 else f"_c{cpus}"
    name = f"BENCH_FULL_r{int(rnd):02d}{suffix}.json"
    out = os.path.join(here, name)
    full = dict(payload)
    full["cpus"] = cpus
    full["notes"] = (
        f"{len(payload['queries'])} keys, {payload['value']} s total "
        f"({name}, {cpus} cores)"
    )
    with open(out, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
