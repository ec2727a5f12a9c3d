"""File-granular MERGE/DELETE/UPDATE (round 14).

Delta rewrites only the files a key-matched mutation actually touches
(per-file stats in the commit log decide which files can contain a
source key); the pre-r14 parquet fallback rewrote the whole table on
every MERGE — THE scale gap at 100 TB, where a 0.1% incremental batch
must not cost a full-table write.  These tests pin the fast path's
observable contract:

- only stat-overlapping files are rewritten; untouched files stay in
  place byte-for-byte (inode-stable),
- a merge whose keys land beyond every file's range degrades to an
  O(batch) append (zero files rewritten),
- results are IDENTICAL to the full-rewrite path on randomized merges,
- time travel, CDF, restore, and vacuum keep working across partial
  rewrites (replaced originals move to ``__v__``),
- a crash after the commit claim rolls forward to exactly the merge,
  never to a table holding both the originals and their
  replacements,
- unsupported shapes (partitioned layout, unprunable key types,
  source-wider-than-target schemas) fall back to the full path with
  unchanged semantics.

Reference parity: the reference's MERGE jobs (`load_silver.py`,
`scd2_dim_customer.py`) run on Delta, whose MERGE is file-granular by
design — this suite is the local proof of the same behavior.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture()
def store(spark, tmp_path):
    s = TableStore(spark, str(tmp_path / "wh_mp"))
    # production floor: tables under 256 MB skip the fast path (the
    # decision costs more than a tiny rewrite); zero it here so the
    # path under test engages on test-sized tables
    s.prune_min_table_bytes = 0
    return s


def _clustered_table(spark, store, name="db.mp", n=4000, files=4):
    """A table whose files carry disjoint key ranges — the layout
    compaction/clustering produces, and the one stats pruning wins on."""
    df = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") % 100).alias("v"),
        F.concat(F.lit("name_"), F.col("id")).alias("s"),
    )
    store.overwrite(name, df.repartitionByRange(files, "k"))
    return name


def _live_parts(store, name):
    return sorted(glob.glob(os.path.join(store.path(name), "part-*")))


def _last(store, name):
    """The newest commit's history row (op, files added/removed, txn)."""
    return store.versions(name)[-1]


def _fail_first(monkeypatch, fn_name, when=lambda *a: True):
    """Make the first ``os.<fn_name>`` call (``shutil.rmtree`` for
    "rmtree") whose arguments satisfy ``when`` raise: ``link`` is the
    commit claim, ``rename`` the apply's moves, ``rmtree`` its last
    step."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    mod = S.shutil if fn_name == "rmtree" else S.os
    real = getattr(mod, fn_name)
    fired = []

    def failing(*a, **k):
        if not fired and when(*a):
            fired.append(a)
            raise OSError(f"injected crash at {fn_name}")
        return real(*a, **k)

    monkeypatch.setattr(mod, fn_name, failing)


def _moving_out(src, dst):
    """The apply's removes: live file -> ``__v__``."""
    return ".__v__" in dst


def test_partial_merge_rewrites_only_overlapping_files(spark, store):
    t = _clustered_table(spark, store)
    before = {f: os.stat(f).st_ino for f in _live_parts(store, t)}
    assert len(before) == 4
    src = (
        spark.range(100, 150)
        .union(spark.range(5000, 5010))
        .select(
            F.col("id").alias("k"),
            F.lit(-1).cast("bigint").alias("v"),
            F.concat(F.lit("upd_"), F.col("id")).alias("s"),
        )
    )
    after = store.upsert(t, src, ["k"])
    m = _last(store, t)
    assert m["op"] == "merge"
    assert m["files_removed"] == 1
    # the three non-overlapping files were not rewritten, not even
    # re-written-identically: same inode, same bytes
    survivors = [
        f for f in before if os.path.exists(f) and os.stat(f).st_ino == before[f]
    ]
    assert len(survivors) == 3
    assert after == 4010 == store.count(t) == store.read(t).count()
    got = store.read(t)
    assert got.filter((F.col("v") == -1) & (F.col("k") < 5000)).count() == 50
    assert got.filter(F.col("k") >= 5000).count() == 10
    assert got.filter(F.col("k") == 2500).select("s").first()[0] == "name_2500"


def test_insert_only_merge_is_an_append(spark, store):
    """Keys beyond every file's range: MERGE must cost O(batch), not a
    table rewrite — zero files rewritten, every original untouched."""
    t = _clustered_table(spark, store)
    before = {f: os.stat(f).st_ino for f in _live_parts(store, t)}
    src = spark.range(50000, 50020).select(
        F.col("id").alias("k"),
        F.lit(7).cast("bigint").alias("v"),
        F.lit("ins").alias("s"),
    )
    after = store.upsert(t, src, ["k"])
    m = _last(store, t)
    assert m["op"] == "merge" and m["files_removed"] == 0
    assert after == 4020 == store.count(t)
    assert all(
        os.path.exists(f) and os.stat(f).st_ino == i for f, i in before.items()
    )


def test_literal_typed_source_still_takes_fast_path(spark, store):
    """F.lit(3) is an INT against a BIGINT table column — the safe
    up-cast alignment (Delta MERGE's implicit cast) must keep the fast
    path and must NOT narrow the table schema."""
    t = _clustered_table(spark, store)
    src = spark.range(10, 12).select(
        F.col("id").alias("k"), F.lit(3).alias("v"), F.lit("x").alias("s")
    )
    assert dict(src.dtypes)["v"] == "int"
    store.upsert(t, src, ["k"])
    assert _last(store, t)["op"] == "merge"
    assert dict(store.read(t).dtypes)["v"] == "bigint"


def test_source_wider_than_target_falls_back_to_full_rewrite(spark, store):
    """A LONG source column into an INT table widens the table — that
    is the full path's job (unionByName coercion), never the partial
    one (mixed-type files under one directory)."""
    store.overwrite(
        "db.narrow",
        spark.createDataFrame([(1, 1), (2, 2)], "k int, v int").repartitionByRange(
            2, "k"
        ),
    )
    src = spark.createDataFrame([(2, 2**40)], "k int, v bigint")
    store.upsert("db.narrow", src, ["k"])
    assert _last(store, "db.narrow")["op"] == "replace"
    assert dict(store.read("db.narrow").dtypes)["v"] == "bigint"
    assert _rows(store.read("db.narrow")) == {(1, 1), (2, 2**40)}


def test_small_table_floor_takes_plain_path(spark, tmp_path):
    """At the default ``prune_min_table_bytes`` a few-MB table must
    skip the prune decision entirely (the decision's jobs cost more
    than a tiny rewrite) and still mutate correctly; zeroing the floor
    re-engages the fast path on the identical layout."""
    s = TableStore(spark, str(tmp_path / "wh_floor"))
    assert s.prune_min_table_bytes == 256 << 20
    t = _clustered_table(spark, s, name="db.floor")
    src = spark.range(100, 150).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.concat(F.lit("upd_"), F.col("id")).alias("s"),
    )
    s.upsert(t, src, ["k"])
    assert _last(s, t)["op"] == "replace"  # under the floor: plain full rewrite
    got = s.read(t)
    assert got.filter(F.col("v") == -1).count() == 50
    assert s.count(t) == 4000
    s.prune_min_table_bytes = 0
    t2 = _clustered_table(spark, s, name="db.floor2")
    src2 = spark.range(200, 220).select(
        F.col("id").alias("k"),
        F.lit(-2).cast("bigint").alias("v"),
        F.concat(F.lit("up2_"), F.col("id")).alias("s"),
    )
    s.upsert(t2, src2, ["k"])
    m2 = _last(s, t2)
    assert m2["op"] == "merge" and m2["files_removed"] < 4
    assert s.read(t2).filter(F.col("v") == -2).count() == 20


def test_pruned_merge_equals_full_merge(spark, store, monkeypatch):
    """Equivalence property: the fast path and the forced full path
    must produce identical tables on a source that mixes updates
    across several files with inserts."""
    t = _clustered_table(spark, store, name="db.eq_fast")
    t_full = _clustered_table(spark, store, name="db.eq_full")
    src = spark.range(0, 1800, 7).union(spark.range(50000, 50010)).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("u_"), F.col("id")).alias("s"),
    )
    store.upsert(t, src, ["k"])
    m = _last(store, t)
    assert m["op"] == "merge" and 1 <= m["files_removed"] < 4
    monkeypatch.setattr(
        TableStore, "_file_key_stats", lambda self, *a, **k: None
    )
    store.upsert(t_full, src, ["k"])
    assert _last(store, t_full)["op"] == "replace"
    assert _rows(store.read(t)) == _rows(store.read(t_full))
    assert store.count(t) == store.count(t_full)


def test_string_and_date_keys_prune(spark, store):
    import datetime

    rows = [
        (f"c{i:05d}", datetime.date(2024, 1, 1 + i % 28), i) for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "ck string, d date, v bigint")
    store.overwrite("db.skeys", df.repartitionByRange(4, "ck"))
    src = spark.createDataFrame(
        [("c00100", datetime.date(2024, 1, 5), -5)], "ck string, d date, v bigint"
    )
    store.upsert("db.skeys", src, ["ck"])
    m = _last(store, "db.skeys")
    assert m["op"] == "merge" and m["files_removed"] == 1
    got = store.read("db.skeys")
    assert got.count() == 2000
    assert got.filter(F.col("v") == -5).count() == 1


def test_null_keys_survive_partial_merge(spark, store):
    """NULL target keys match nothing (SQL join semantics) and an
    all-null-key file must be pruned away, not crash the stats read."""
    df = spark.createDataFrame(
        [(None, "keepme1"), (None, "keepme2")], "k bigint, s string"
    ).union(spark.range(0, 100).select(F.col("id").alias("k"), F.lit("x").alias("s")))
    store.overwrite("db.nulls", df.repartition(2))
    src = spark.createDataFrame([(5, "upd")], "k bigint, s string")
    store.upsert("db.nulls", src, ["k"])
    got = store.read("db.nulls")
    assert got.filter(F.col("k").isNull()).count() == 2
    assert got.filter(F.col("s") == "upd").count() == 1
    assert got.count() == 102


def test_time_travel_and_cdf_across_partial_merge(spark, store):
    t = _clustered_table(spark, store)
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("s"),
    )
    store.upsert(t, src, ["k"])  # v2, partial
    assert _last(store, t)["files_removed"] == 1
    v1 = store.read_version(t, 1)
    assert v1.count() == 4000
    assert v1.filter(F.col("k") == 101).select("s").first()[0] == "name_101"
    ch = store.read_changes(t, 1, 2, ["k"])
    by_type = {r["_change_type"]: r["n"] for r in
               ch.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert by_type == {"update_preimage": 3, "update_postimage": 3}
    # restore is a new commit that undoes the merge
    store.restore(t, 1)
    assert store.read(t).filter(F.col("v") == -1).count() == 0
    assert store.count(t) == 4000


def test_pruned_delete_and_update(spark, store):
    t = _clustered_table(spark, store)
    deleted = store.delete_matched(
        t, spark.createDataFrame([(200,), (201,), (999999,)], "k bigint"), ["k"]
    )
    m = _last(store, t)
    assert deleted == 2 and m["op"] == "delete" and m["files_removed"] == 1
    assert store.count(t) == 3998 == store.read(t).count()
    matched = store.update_matched(
        t,
        spark.createDataFrame([(300,), (888888,)], "k bigint"),
        ["k"],
        {"v": F.lit(-9).cast("bigint")},
    )
    m = _last(store, t)
    assert matched == 1 and m["op"] == "update" and m["files_removed"] == 1
    assert _rows(store.read(t).filter(F.col("v") == -9).select("k")) == {(300,)}
    assert store.count(t) == 3998


def test_no_match_delete_commits_without_touching_files(spark, store):
    t = _clustered_table(spark, store)
    before = {f: os.stat(f).st_ino for f in _live_parts(store, t)}
    v0 = store.current_version(t)
    deleted = store.delete_matched(
        t, spark.createDataFrame([(999999,)], "k bigint"), ["k"]
    )
    assert deleted == 0
    assert store.current_version(t) == v0 + 1  # history fidelity
    assert _last(store, t)["files_removed"] == 0
    assert all(
        os.path.exists(f) and os.stat(f).st_ino == i for f, i in before.items()
    )
    # no-match update observes zero without blocking on the never-run
    # observation
    assert (
        store.update_matched(
            t,
            spark.createDataFrame([(999999,)], "k bigint"),
            ["k"],
            {"v": F.lit(0).cast("bigint")},
        )
        == 0
    )


def test_crashed_partial_merge_repairs_both_residue_classes(
    spark, store, monkeypatch
):
    """Crash injection at the worst points of a partial merge.  At the
    claim: the table is exactly its pre-merge self.  After the claim,
    with the replacements moved in but the replaced original still in
    the live dir: the next read rolls the apply forward to exactly the
    merge (never both copies), and replaying the merge changes
    nothing."""
    t = _clustered_table(spark, store)
    pre_rows = _rows(store.read(t))
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("s"),
    )
    _fail_first(monkeypatch, "link")
    with pytest.raises(OSError, match="injected"):
        store.upsert(t, src, ["k"])
    monkeypatch.undo()
    assert _rows(store.read(t)) == pre_rows
    assert store.count(t) == 4000
    assert _last(store, t)["op"] == "replace"
    _fail_first(monkeypatch, "rename", _moving_out)
    with pytest.raises(OSError, match="injected"):
        store.upsert(t, src, ["k"])
    monkeypatch.undo()
    got = store.read(t)
    assert got.count() == 4000 == store.count(t)
    assert got.select("k").distinct().count() == 4000
    assert got.filter(F.col("v") == -1).count() == 3
    assert _last(store, t)["op"] == "merge"
    live = {os.path.basename(p) for p in _live_parts(store, t)}
    assert live == set(store.snapshot(t)["files"])
    # replay lands the same table
    after = store.upsert(t, src, ["k"])
    assert after == 4000
    assert store.read(t).filter(F.col("v") == -1).count() == 3


def test_vacuum_expires_per_file_archives_exactly(spark, store):
    t = _clustered_table(spark, store)  # v1
    src1 = spark.range(100, 102).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v"),
        F.lit("u1").alias("s"))
    src2 = spark.range(1100, 1102).select(
        F.col("id").alias("k"), F.lit(-2).cast("bigint").alias("v"),
        F.lit("u2").alias("s"))
    store.upsert(t, src1, ["k"])  # v2: moves file A to __v__
    store.upsert(t, src2, ["k"])  # v3: moves file B to __v__
    vdir = store._versions_dir(t)
    assert len(os.listdir(vdir)) == 2
    # retain v2+v3: v1's replaced original (file A) is listed by NO
    # retained commit... but file B IS listed by v2
    store.vacuum(retain_versions=2)
    remaining = os.listdir(vdir)
    assert len(remaining) == 1, "exactly the unreferenced original expires"
    # v2 (retained) still time-travels through the surviving file
    assert store.read_version(t, 2).filter(F.col("v") == -1).count() == 2
    with pytest.raises(FileNotFoundError):
        store.read_version(t, 1)
    # retaining only the head expires the rest and drops the empty dir
    store.vacuum(retain_versions=1)
    assert not os.path.isdir(vdir)
    assert store.read_version(t, 3).count() == 4000


def test_partitioned_layout_falls_back_to_full_path(spark, store):
    from delta_lake_gcp_implementation_spark.pipeline import maintenance

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        F.lit("a").alias("s"),
    )
    maintenance.write_partitioned(store, "db.parted", df, ["p"])
    src = spark.createDataFrame([(5, 2, "upd")], "k bigint, p bigint, s string")
    store.upsert("db.parted", src, ["k"])
    assert _last(store, "db.parted")["op"] == "replace"
    got = store.read("db.parted")
    assert got.count() == 100
    assert got.filter(F.col("s") == "upd").count() == 1


def test_composite_key_prunes_on_prunable_subset(spark, store):
    """The bronze merge key is (transaction_id, updated_at) — the
    timestamp column carries no parquet stats (INT96), but pruning on
    ANY key subset is conservative-correct, so the string id alone
    must keep the fast path."""
    import datetime

    ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [(f"TXN_{i:06d}", ts, i) for i in range(2000)]
    df = spark.createDataFrame(rows, "tid string, updated_at timestamp, v bigint")
    store.overwrite("db.composite", df.repartitionByRange(4, "tid"))
    src = spark.createDataFrame(
        [("TXN_000100", ts, -1), ("TXN_000100", datetime.datetime(2025, 1, 1), -2)],
        "tid string, updated_at timestamp, v bigint",
    )
    store.upsert("db.composite", src, ["tid", "updated_at"])
    m = _last(store, "db.composite")
    assert m["op"] == "merge" and m["files_removed"] == 1
    got = store.read("db.composite")
    # composite semantics: (TXN_000100, ts) updated, (TXN_000100, 2025) inserted
    assert got.count() == 2001
    assert _rows(got.filter(F.col("tid") == "TXN_000100").select("v")) == {
        (-1,), (-2,),
    }


def test_full_replace_after_partial_merges_keeps_history_readable(spark, store):
    """A full _replace moves every live file to ``__v__`` where the
    merges' replaced originals already are — versions before, between,
    and after the merges must resolve their files across both places."""
    t = _clustered_table(spark, store)  # v1
    src1 = spark.range(100, 102).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v"),
        F.lit("u1").alias("s"))
    store.upsert(t, src1, ["k"])  # v2: partial, one file to __v__
    src2 = spark.range(1100, 1102).select(
        F.col("id").alias("k"), F.lit(-2).cast("bigint").alias("v"),
        F.lit("u2").alias("s"))
    store.upsert(t, src2, ["k"])  # v3: partial, another
    store.overwrite(
        t, spark.createDataFrame([(1, 1, "tiny")], "k bigint, v bigint, s string")
    )  # v4: full replace, every live file to __v__
    assert store.read(t).count() == 1
    assert store.read_version(t, 1).count() == 4000
    assert store.read_version(t, 1).filter(F.col("v") < 0).count() == 0
    v2 = store.read_version(t, 2)
    assert v2.filter(F.col("v") == -1).count() == 2
    assert v2.filter(F.col("v") == -2).count() == 0
    v3 = store.read_version(t, 3)
    assert v3.filter(F.col("v") == -1).count() == 2
    assert v3.filter(F.col("v") == -2).count() == 2
    # restore to the mid-merge version through both places
    store.restore(t, 3)
    assert store.read(t).count() == 4000
    assert store.count(t) == 4000


def test_txn_marker_travels_with_partial_merge(spark, store):
    """The idempotent-writer contract holds on the fast path: the txn
    marker is recorded in the SAME commit that publishes the merge."""
    t = _clustered_table(spark, store)
    src = spark.range(100, 102).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v"),
        F.lit("u").alias("s"))
    store.upsert(t, src, ["k"], txn=("app_mp", 7))
    m = _last(store, t)
    assert m["op"] == "merge" and m["txn"] == {"app_id": "app_mp", "version": 7}
    assert store.last_txn_version(t, "app_mp") == 7


# ------------------------------------------------- r15 hardening (ADVICE r14)


def test_adopt_refuses_on_inflight_merge_marker(spark, store, monkeypatch):
    """A merge cut off after its first staged file moved in (so the
    live dir briefly holds an original AND its replacement) must never
    let a reader see both copies of a matched row: read() finishes the
    apply before listing the live dir."""
    t = _clustered_table(spark, store)
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("s"),
    )
    _fail_first(monkeypatch, "rename", _moving_out)
    with pytest.raises(OSError, match="injected"):
        store.upsert(t, src, ["k"])
    monkeypatch.undo()
    # the torn live dir really held both copies
    torn = {os.path.basename(p) for p in _live_parts(store, t)}
    assert len(torn) > len(store._head(t)["files"])
    got = store.read(t)
    assert got.count() == 4000 == store.count(t)
    assert got.filter(F.col("k") == 101).count() == 1
    live = {os.path.basename(p) for p in _live_parts(store, t)}
    assert live == set(store.snapshot(t)["files"])


def test_stale_merge_marker_is_cleared_lazily(spark, store, monkeypatch):
    """Crash after every move of a merge but before its stage dir is
    dropped: the table is already consistent, and the next access
    just clears the leftover stage."""
    t = _clustered_table(spark, store)
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("s"),
    )
    _fail_first(monkeypatch, "rmtree")
    with pytest.raises(OSError, match="injected"):
        store.upsert(t, src, ["k"])
    monkeypatch.undo()
    assert [d for d in os.listdir(store.root) if ".__stage__" in d]
    assert store.read(t).filter(F.col("v") == -1).count() == 3
    assert store.count(t) == 4000
    assert not [d for d in os.listdir(store.root) if ".__stage__" in d]


def test_read_version_old_lineage_ignores_live_dir(spark, store):
    """A stray file in the live dir must never shadow a removed file
    of the same name: read_version locates each file by the HEAD's
    file list, not by what happens to exist (ADVICE r14)."""
    import shutil

    t = _clustered_table(spark, store)
    v1 = store.current_version(t)
    v1_commit = store._load(t, v1)
    expected = _rows(store.read_version(t, v1))
    # partial merge spreads v1's files across live + __v__
    src = spark.range(100, 150).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.concat(F.lit("upd_"), F.col("id")).alias("s"),
    )
    store.upsert(t, src, ["k"])
    assert _last(store, t)["files_removed"] == 1
    # full overwrite: v1's untouched files move to __v__ as well
    store.overwrite(
        t,
        spark.range(0, 10).select(
            F.col("id").alias("k"),
            F.lit(9).cast("bigint").alias("v"),
            F.lit("new").alias("s"),
        ),
    )
    # plant a same-named file with WRONG content in the live dir
    archived_dir = store._versions_dir(t)
    shadow_name = next(
        f for f in v1_commit["files"]
        if os.path.exists(os.path.join(archived_dir, f))
    )
    live_files = _live_parts(store, t)
    shutil.copy(live_files[0], os.path.join(store.path(t), shadow_name))
    assert _rows(store.read_version(t, v1)) == expected


def test_history_reports_files_added_and_removed(spark, store):
    """Delta DESCRIBE HISTORY parity: a pruned upsert touching one of
    eight files records exactly that one file removed (and its
    rewrite's files added); a no-op merge records 0/0; every row carries op,
    rows, duration and txn."""
    t = _clustered_table(spark, store, name="db.hist", files=8)
    src = spark.range(100, 103).select(
        F.col("id").alias("k"),
        F.lit(-1).cast("bigint").alias("v"),
        F.lit("upd").alias("s"),
    )
    store.upsert(t, src, ["k"], txn=("hist", 1))
    store.upsert(t, src.filter(F.col("k") < 0), ["k"])
    first, merge, noop = store.versions(t)
    assert first["op"] == "replace" and first["files_added"] == 8
    assert (merge["op"], merge["files_removed"]) == ("merge", 1)
    assert merge["files_added"] >= 1
    assert merge["txn"] == {"app_id": "hist", "version": 1}
    assert (noop["files_removed"], noop["files_added"]) == (0, 0)
    assert noop["row_count"] == merge["row_count"] == 4000
    assert all(m["duration_s"] >= 0 for m in (first, merge, noop))
