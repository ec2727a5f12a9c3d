"""Scale rehearsal for the r14 file-granular MERGE (Delta's
rewrite-only-matched-files behavior, `pipeline/storage.py`).

The claim to verify: on a large clustered table, a small key-matched
mutation costs O(touched files + batch), NOT O(table) — the pre-r14
fallback rewrote every file on every MERGE, which is the difference
between a 30 s and a multi-hour incremental batch at 100 TB.

Builds a ~9M-row table (100x the reference's daily batch) clustered
into range files (the layout `maintenance.cluster_by` produces), then
times, fast path vs forced full path, interleaved:

- MERGE of a 0.5% batch whose keys land in ONE file's range
  (the incremental daily upsert shape)
- MERGE of a brand-new key range (insert-only -> O(batch) append)
- DELETE of 100 scattered-but-clustered keys (the GDPR shape)
- UPDATE of 100 keys

Appends one JSON row per measurement to the out file:
``{"op", "path", "s", "files_removed", "files_added", "rows"}`` —
the file counts come from the commit's ``versions()`` row.
The full arm runs on the table the pruned arm just mutated (one
rebuild per round instead of two), so its ``rows`` can read 0 for the
delete (the keys are already gone) — harmless: a full rewrite's cost
does not depend on how many rows match, which is exactly the point.

Usage:
    python tools/rehearse_merge_prune.py [n_rows] [n_files] [out_jsonl] [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 9_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out_jsonl = sys.argv[3] if len(sys.argv) > 3 else None
    rounds = int(sys.argv[4]) if len(sys.argv) > 4 else 2

    from pyspark.sql import functions as F

    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore
    from delta_lake_gcp_implementation_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="rehearse_merge_prune",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = "/tmp/mp_rehearse"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    store = TableStore(spark, root)
    t = "bronze.big"

    base = spark.range(0, n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 1000).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    t0 = time.time()
    store.overwrite(t, base.repartitionByRange(n_files, "k"))
    print(f"build: {n_rows} rows / {n_files} files in {time.time()-t0:.1f} s")

    rows_out: list[dict] = []

    def run(op_label: str, fn, force_full: bool) -> None:
        orig = TableStore._file_key_stats
        if force_full:
            TableStore._file_key_stats = lambda self, *a, **k: None
        try:
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
        finally:
            TableStore._file_key_stats = orig
        m = store.versions(t)[-1]
        row = {
            "op": op_label,
            "path": "full" if force_full else "pruned",
            "s": round(dt, 2),
            "files_removed": m["files_removed"],
            "files_added": m["files_added"],
            "rows": n,
            "n_rows": n_rows,
        }
        rows_out.append(row)
        print(json.dumps(row))

    pct = max(1, n_rows // 200)  # 0.5% batch
    lo = n_rows // n_files // 2  # well inside file 0's range

    def upsert_batch():
        src = spark.range(lo, lo + pct).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("bigint").alias("v"),
            F.lit("updated").alias("payload"),
        )
        return store.upsert(t, src, ["k"])

    def insert_only():
        src = spark.range(n_rows * 2, n_rows * 2 + pct).select(
            F.col("id").alias("k"),
            F.lit(7).cast("bigint").alias("v"),
            F.lit("inserted").alias("payload"),
        )
        return store.upsert(t, src, ["k"])

    def gdpr_delete():
        ids = spark.range(lo, lo + 100).select(F.col("id").alias("k"))
        return store.delete_matched(t, ids, ["k"])

    def update_keys():
        ids = spark.range(lo + 200, lo + 300).select(F.col("id").alias("k"))
        return store.update_matched(
            t, ids, ["k"], {"v": F.lit(-9).cast("bigint")}
        )

    # interleaved A/B, TWO rounds per arm (r12 warm protocol: single
    # mutation timings swing 3-10x on GC/JIT; the artifact carries both
    # rows and the comparison reads the better of each arm).  Rebuild
    # between arms: the full path leaves the table rewritten but
    # NOT range-clustered, which would sandbag the pruned arm's input
    # layout.
    # pruned arm runs FIRST on the freshly-clustered table, then the
    # full arm (it does not depend on clustering), then one rebuild —
    # half the rebuild cost of rebuilding after every arm
    for label, fn in [
        ("merge_0.5pct", upsert_batch),
        ("merge_insert_only", insert_only),
        ("delete_100_keys", gdpr_delete),
        ("update_100_keys", update_keys),
    ]:
        for _ in range(rounds):
            run(label, fn, force_full=False)
            run(label, fn, force_full=True)
            store.overwrite(t, base.repartitionByRange(n_files, "k"))

    if out_jsonl:
        with open(out_jsonl, "a") as f:
            for r in rows_out:
                f.write(json.dumps(r) + "\n")
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
