"""Maintenance tests: compaction, clustered layout pruning effect,
partitioned writes with partition pruning in the plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.pipeline import maintenance as mt
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore
from delta_lake_gcp_implementation_spark.tables import load_table


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "wh"))


def test_compact_reduces_file_count(spark, store, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # an overwrite keeps its input's partitioning: this mimics a table
    # fragmented by accumulated external writes (an append's
    # optimizeWrite would refuse to create this state itself)
    store.overwrite("t.events", ev.repartition(37))
    assert mt.file_count(store, "t.events") == 37
    n = mt.compact(store, "t.events", target_files=4)
    assert n <= 4
    assert store.count("t.events") == ev.count()


def test_optimize_write_collapses_small_files(spark, store, sf_dir):
    """Appends are AQE-rebalanced (Delta optimizeWrite analog): a small
    appended batch lands as a few advisory-sized files no matter how
    over-partitioned the incoming frame is — appends are where small
    files otherwise accumulate unboundedly."""
    ev = load_table(spark, sf_dir, "events")
    store.append("t.opt", ev.repartition(37))
    assert mt.file_count(store, "t.opt") < 8
    store.append("t.opt", ev.repartition(37))
    assert mt.file_count(store, "t.opt") < 16
    assert store.count("t.opt") == 2 * ev.count()


def test_cluster_by_sorts_layout(spark, store, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    store.overwrite("t.events", ev.repartition(8))
    mt.cluster_by(store, "t.events", ["ts"], n_files=4)
    # data intact and globally range-partitioned: per-file min/max
    # ranges must not overlap (check via per-partition bounds)
    df = store.read("t.events")
    assert df.count() == ev.count()
    bounds = (
        df.select(F.spark_partition_id().alias("p"), "ts")
        .groupBy("p")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for prev, cur in zip(bounds, bounds[1:]):
        assert prev.hi <= cur.lo


def test_file_count_walks_partitioned_layout(spark, store, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    mt.write_partitioned(store, "t.ev_fc", ev, ["event_date"])
    assert mt.file_count(store, "t.ev_fc") > 0


def test_write_partitioned_commits_through_the_log(spark, store):
    """write_partitioned is an ordinary replace commit: the version
    bumps, history and count agree with a scan, and the replaced
    version stays readable (it used to delete v1's files behind the
    log's back, so versions() kept reporting 30 rows for a 20-row
    table and read_version(1) raised FileNotFoundError)."""
    import datetime

    rows = [
        (i, datetime.date(2024, 1, 1 + i % 3), f"r{i}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id bigint, d date, s string")
    store.overwrite("t.wp", df)
    v1 = store.current_version("t.wp")
    mt.write_partitioned(store, "t.wp", df.filter(F.col("id") < 20), ["d"])
    assert store.current_version("t.wp") == v1 + 1
    scan = store.read("t.wp").count()
    assert store.versions("t.wp")[-1]["row_count"] == 20
    assert store.count("t.wp") == 20 == scan
    assert store.read("t.wp").columns == ["id", "s", "d"]
    old = store.read_version("t.wp", v1).collect()
    assert sorted(tuple(r) for r in old) == sorted(rows)


def test_update_matched_equals_isin_update(spark, store, sf_dir):
    """update_matched (broadcast key-table semi-join) must produce the
    same end state as update_where with a literal isin list."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    store.overwrite("t.a", ev)
    store.overwrite("t.b", ev)
    ids = [r.event_id for r in ev.limit(50).collect()]
    store.update_where(
        "t.a", F.col("event_id").isin(ids) & (F.col("value") > 100),
        {"value": F.lit(-1.0)},
    )
    key_df = spark.createDataFrame([(i,) for i in ids], "event_id string")
    store.update_matched(
        "t.b", key_df, ["event_id"], {"value": F.lit(-1.0)},
        extra_cond=F.col("value") > 100,
    )
    a = {(r.event_id, r.value) for r in store.read("t.a").collect()}
    b = {(r.event_id, r.value) for r in store.read("t.b").collect()}
    assert a == b
    assert store.read("t.b").columns == ["event_id", "user_id", "value"]


def test_upsert_multimatch_raises_like_delta(spark, store, sf_dir):
    """Delta MERGE errors when two source rows hit one target key;
    require_unique_source=True reproduces that contract."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value").limit(100)
    store.overwrite("t.tgt", ev)
    dup_source = ev.limit(10).union(ev.limit(10))
    with pytest.raises(ValueError, match="multiple source rows"):
        store.upsert("t.tgt", dup_source, ["event_id"], require_unique_source=True)
    # unique source passes through the same gate
    store.upsert("t.tgt", ev.limit(10), ["event_id"], require_unique_source=True)


def test_partitioned_write_prunes(spark, store, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    mt.write_partitioned(store, "t.events_part", ev, ["event_date"])
    df = store.read("t.events_part")
    assert df.count() == ev.count()
    q = df.filter(F.col("event_date") == "2024-01-03")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "event_date" in plan.split("PartitionFilters")[1][:200]
    # pruned scan reads only matching rows
    expect = ev.filter(F.to_date("ts") == "2024-01-03").count()
    assert q.count() == expect


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Two tables co-bucketed on user_id must sort-merge join with no
    Exchange and no Sort — the write-time layout replaces the per-query
    shuffle (broadcast disabled to prove it's the buckets doing it)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    n_expected = clicks.join(purchases, "user_id").count()
    mt.write_bucketed(
        spark, clicks, "bck_clicks", "user_id", 8,
        path=str(tmp_path / "bck_clicks"),
    )
    mt.write_bucketed(
        spark, purchases, "bck_purchases", "user_id", 8,
        path=str(tmp_path / "bck_purchases"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bck_clicks").alias("c").join(
            spark.table("bck_purchases").alias("p"), "user_id"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == n_expected and n_expected > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bck_clicks")
        spark.sql("DROP TABLE IF EXISTS bck_purchases")


def test_refresh_agg_incremental_equals_full_recompute(spark, tmp_path):
    from pyspark.sql import functions as F

    from delta_lake_gcp_implementation_spark.pipeline import maintenance
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_mv"))
    batches = [
        [(1, 10), (2, 20), (1, 5)],
        [(2, 7), (3, 100)],
        [(1, 1), (3, 1), (4, 9)],
    ]
    all_rows = []
    for b in batches:
        df = spark.createDataFrame(b, ["customer_id", "amount_cents"])
        n = maintenance.refresh_agg_incremental(
            store, "gold.customer_totals", df, ["customer_id"], ["amount_cents"]
        )
        assert n > 0
        all_rows += b
        # equivalence with full recompute after every batch
        full = (
            spark.createDataFrame(all_rows, ["customer_id", "amount_cents"])
            .groupBy("customer_id")
            .agg(
                F.sum("amount_cents").alias("amount_cents"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
        got = {
            r.customer_id: (r.amount_cents, r.n_rows)
            for r in store.read("gold.customer_totals").collect()
        }
        want = {
            r.customer_id: (r.amount_cents, r.n_rows) for r in full.collect()
        }
        assert got == want


def test_refresh_agg_incremental_touches_only_delta_keys(spark, tmp_path):
    from delta_lake_gcp_implementation_spark.pipeline import maintenance
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_mv2"))
    maintenance.refresh_agg_incremental(
        store, "gold.t", spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"]),
        ["k"], ["v"],
    )
    # second batch touches only k=2; k=1 row must survive untouched
    maintenance.refresh_agg_incremental(
        store, "gold.t", spark.createDataFrame([(2, 5)], ["k", "v"]), ["k"], ["v"]
    )
    got = {r.k: (r.v, r.n_rows) for r in store.read("gold.t").collect()}
    assert got == {1: (10, 1), 2: (25, 2)}


def test_scan_pruned_skips_files_and_matches_full_filter(spark, tmp_path):
    from pyspark.sql import functions as F

    from delta_lake_gcp_implementation_spark.pipeline import maintenance
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path / "wh_skip"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    store.append("db.skiptest", df)
    maintenance.cluster_by(store, "db.skiptest", ["k"], n_files=8)
    stats = maintenance.file_stats(store, "db.skiptest", "k")
    assert len(stats) == 8 and all(s["min"] is not None for s in stats)
    # narrow range: must touch a strict subset of files
    got, n_read, n_total = maintenance.scan_pruned(
        store, "db.skiptest", "k", 2_000, 2_500
    )
    assert n_total == 8 and 1 <= n_read < n_total
    want = store.read("db.skiptest").filter(
        (F.col("k") >= 2_000) & (F.col("k") <= 2_500)
    )
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in want.collect()
    )
    # out-of-range scan reads zero files and returns zero rows
    empty, n_read0, _ = maintenance.scan_pruned(
        store, "db.skiptest", "k", 50_000, 60_000
    )
    assert n_read0 == 0 and empty.count() == 0


def test_read_changes_cdf_between_versions(spark, tmp_path):
    """Change data feed: snapshot diff tags inserts / deletes / update
    pre+post images, unchanged rows emit nothing."""
    store = TableStore(spark, str(tmp_path))
    v0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["id", "name", "val"]
    )
    store.overwrite("db.t", v0)
    upd = spark.createDataFrame([(2, "b", 99), (4, "d", 40)], ["id", "name", "val"])
    store.upsert("db.t", upd, keys=["id"])
    store.delete_matched(
        "db.t", spark.createDataFrame([(3,)], ["id"]), keys=["id"]
    )
    vs = [v["version"] for v in store.versions("db.t")]
    changes = store.read_changes("db.t", vs[0], vs[-1], keys=["id"]).collect()
    by_type = {}
    for r in changes:
        by_type.setdefault(r._change_type, []).append(r)
    assert [r.id for r in by_type["insert"]] == [4]
    assert [r.id for r in by_type["delete"]] == [3]
    assert [r.id for r in by_type["update_preimage"]] == [2]
    assert by_type["update_preimage"][0].val == 20
    assert by_type["update_postimage"][0].val == 99
    assert all(r._commit_version == vs[-1] for r in changes)
    # unchanged row 1 emits nothing
    assert all(r.id != 1 for r in changes)
    # adjacent-version feed: the delete commit alone
    last = store.read_changes("db.t", vs[-2], vs[-1], keys=["id"]).collect()
    assert {(r.id, r._change_type) for r in last} == {(3, "delete")}


def test_bloom_file_index_prunes_point_lookups(spark, tmp_path):
    """Per-file blooms skip files for equality probes with zero false
    negatives; result equals the full-scan filter."""
    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).select(
        F.col("id").cast("bigint").alias("id"),
        F.concat(F.lit("key"), F.col("id")).alias("k"),
    )
    # key-clustered layout: each file holds a disjoint key range
    store.overwrite("db.c", df)
    mt.cluster_by(store, "db.c", ["id"], n_files=8)
    idx = mt.build_file_bloom(store, "db.c", "k")
    assert len(idx) == 8
    hit_df, nread, ntot = mt.scan_bloom_pruned(store, "db.c", "k", "key12345", idx)
    assert ntot == 8 and nread <= 3  # typically 1 file (+ rare FPs)
    assert [r.id for r in hit_df.collect()] == [12345]
    # absent key: overwhelmingly zero files read, never a wrong row
    miss_df, nread2, _ = mt.scan_bloom_pruned(store, "db.c", "k", "nope", idx)
    assert nread2 <= 2 and miss_df.count() == 0


def test_bloom_pruned_scan_walks_partitioned_layouts(spark, tmp_path):
    """ADVICE r5: scan_bloom_pruned over a write_partitioned (hive
    subdir) table must find the part files — a top-level-only listing
    sees 0 files and silently returns an empty frame."""
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"key{i}", "even" if i % 2 == 0 else "odd") for i in range(200)],
        ["id", "k", "parity"],
    )
    store.overwrite("db.part", df)
    mt.write_partitioned(store, "db.part", df, ["parity"])
    idx = mt.build_file_bloom(store, "db.part", "k")
    assert len(idx) >= 2  # at least one file per partition dir
    hit_df, nread, ntot = mt.scan_bloom_pruned(
        store, "db.part", "k", "key123", idx
    )
    assert ntot == mt.file_count(store, "db.part") and ntot >= 2
    assert nread >= 1
    assert [r.id for r in hit_df.collect()] == [123]
    # partition column survives the basePath read
    assert hit_df.collect()[0].parity == "odd"


def test_read_changes_null_business_key_matches_null_safely(spark, tmp_path):
    """ADVICE r5: a genuine NULL business key must pair across versions
    (eqNullSafe) — not be misread as a delete+insert — and absence is
    derived from a presence sentinel, not key nullness."""
    store = TableStore(spark, str(tmp_path))
    v0 = spark.createDataFrame(
        [(1, "a", 10), (None, "nullkey", 20)],
        "id int, name string, val int",
    )
    store.overwrite("db.nk", v0)
    v1 = spark.createDataFrame(
        [(1, "a", 10), (None, "nullkey", 99)],
        "id int, name string, val int",
    )
    store.overwrite("db.nk", v1)
    vs = [v["version"] for v in store.versions("db.nk")]
    changes = store.read_changes("db.nk", vs[-2], vs[-1], keys=["id"]).collect()
    # exactly one update pair for the NULL-keyed row; no phantom
    # insert/delete, and the unchanged id=1 row emits nothing
    got = sorted((r._change_type, r.val) for r in changes)
    assert got == [("update_postimage", 99), ("update_preimage", 20)]


def test_bloom_index_keys_are_relative_paths_not_basenames(spark, tmp_path):
    """ADVICE r6: dynamic-partition writes reuse part-file basenames
    across hive partition dirs; a basename-keyed index silently bit_ors
    distinct files into one merged entry.  The index must key by path
    relative to the table root so every physical file gets its own
    filter and pruning attribution stays per-file."""
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"key{i}", "even" if i % 2 == 0 else "odd") for i in range(400)],
        ["id", "k", "parity"],
    )
    store.overwrite("db.relk", df)
    mt.write_partitioned(store, "db.relk", df, ["parity"])
    idx = mt.build_file_bloom(store, "db.relk", "k")
    # one entry per physical file, keyed under its partition dir
    assert len(idx) == mt.file_count(store, "db.relk")
    assert all("/" in key and "=" in key.split("/")[0] for key in idx)
    import os as _os

    basenames = [_os.path.basename(key) for key in idx]
    # the collision ADVICE describes: same basename in 2+ partition dirs
    # must stay 2+ distinct index entries
    assert len(basenames) > len(set(basenames)) or len(set(basenames)) == len(
        basenames
    )
    # pruning still exact: odd key found, partition col intact
    hit_df, nread, ntot = mt.scan_bloom_pruned(
        store, "db.relk", "k", "key123", idx
    )
    assert ntot == len(idx) and 1 <= nread < ntot
    rows = hit_df.collect()
    assert [r.id for r in rows] == [123] and rows[0].parity == "odd"


def test_bloom_pruned_scan_empty_table_returns_empty_frame(spark, tmp_path):
    """ADVICE r6: a table that exists but holds zero data files (an
    empty-DataFrame overwrite: its lone zero-row part file never enters
    the snapshot) returns an empty frame with the table's columns;
    FileNotFoundError is reserved for a table that does not exist."""
    store = TableStore(spark, str(tmp_path))
    df = spark.range(5).selectExpr("id", "concat('k', id) as k")
    store.overwrite("db.empt", df.filter("id < 0"))
    assert store.exists("db.empt") and mt.file_count(store, "db.empt") == 0
    out, nread, ntot = mt.scan_bloom_pruned(store, "db.empt", "k", "k1", {})
    assert (nread, ntot) == (0, 0) and out.count() == 0
    assert out.columns == ["id", "k"]
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        mt.scan_bloom_pruned(store, "db.never_created", "k", "k1", {})


def test_gram_hash_invalid_bits_raise_value_error(spark):
    """ADVICE r6: gram_hash validated md5 bits with a bare assert
    (stripped under -O) and xxhash64 not at all (bits >= 63 overflows
    1 << bits as signed BIGINT).  Both branches raise ValueError."""
    import pytest as _pytest
    from delta_lake_gcp_implementation_spark.operators import winnowing as wn

    col = F.lit("abc")
    for bad in (61, 10, 0, -4):  # >60, %4!=0, zero, negative
        with _pytest.raises(ValueError):
            wn.gram_hash(col, bad, "md5")
    for bad in (63, 64, 0, -1):
        with _pytest.raises(ValueError):
            wn.gram_hash(col, bad, "xxhash64")
    # valid settings still build a column
    wn.gram_hash(col, 60, "md5")
    wn.gram_hash(col, 62, "xxhash64")


def test_bloom_index_on_uri_escaped_warehouse_path(spark, tmp_path):
    """ADVICE r7: input_file_name() returns a percent-escaped URI, so
    a warehouse path containing a space used to break the root match —
    build_file_bloom produced garbage keys that could never equal
    scan_bloom_pruned's os.walk relpaths, and the index silently
    stopped pruning.  With the URI decoded, keys are table-relative
    paths and pruning works on such paths too."""
    store = TableStore(spark, str(tmp_path / "ware house" / "wh+x"))
    df = spark.range(0, 5_000).select(
        F.col("id").cast("bigint").alias("id"),
        F.concat(F.lit("key"), F.col("id")).alias("k"),
    )
    store.overwrite("db.esc", df)
    mt.cluster_by(store, "db.esc", ["id"], n_files=6)
    idx = mt.build_file_bloom(store, "db.esc", "k")
    # keys must be table-relative parquet paths, not URI fragments
    assert len(idx) == 6
    assert all(key.endswith(".parquet") and "%" not in key for key in idx)
    hit_df, nread, ntot = mt.scan_bloom_pruned(
        store, "db.esc", "k", "key1234", idx
    )
    assert ntot == 6 and nread <= 3
    assert [r.id for r in hit_df.collect()] == [1234]
    _, nread_miss, _ = mt.scan_bloom_pruned(store, "db.esc", "k", "nope", idx)
    assert nread_miss <= 2  # pruning actually skips files again
