"""Round-4 hardening tests: size-gated MERGE broadcasts, the
spark.sql ``db.table`` catalog surface (the reference's BI entry
point, ``Gold/Gold Layer README.md:390-447``), and the quadratic
guard on the all-pairs Jaccard default."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops
from delta_lake_gcp_implementation_spark.operators.sizing import (
    fits_broadcast,
    maybe_broadcast,
)
from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def _fail_nth_rename(monkeypatch, n):
    """Make the n-th ``os.rename`` from now on raise.  The apply's
    moves are the store's only renames, so this crashes a write after
    its claim."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    real = S.os.rename
    calls = {"n": 0}

    def rename(src, dst):
        calls["n"] += 1
        if calls["n"] == n:
            raise OSError("injected crash in the apply")
        return real(src, dst)

    monkeypatch.setattr(S.os, "rename", rename)


def _fail_claims(monkeypatch, name=None):
    """Make every commit claim (the ``os.link`` into a log dir) of
    table ``name`` (default: any table) raise — a crash before the
    claim."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    real = S.os.link
    log = None if name is None else name.replace(".", "__") + ".__log__"

    def link(src, dst):
        if log is None or log in dst:
            raise OSError("injected crash at the claim")
        return real(src, dst)

    monkeypatch.setattr(S.os, "link", link)


def _assert_layout(store, name, stages_ok=False):
    """The live dir holds exactly the head snapshot's files (what a
    reader of ``<dir>/*.parquet`` relies on), the count matches a scan,
    and no stage dir is left over."""
    import glob
    import os

    head = store.snapshot(name)
    live = store.path(name)
    on_disk = {
        os.path.relpath(p, live)
        for p in glob.glob(os.path.join(live, "**", "*.parquet"), recursive=True)
    }
    assert on_disk == set(head["files"])
    assert store.count(name) == store.read(name).count()
    if not stages_ok:
        assert not [d for d in os.listdir(store.root) if ".__stage__" in d]


# --------------------------------------------------------------- size gate


def test_fits_broadcast_reports_real_sizes(spark):
    small = spark.range(100).withColumnRenamed("id", "k")
    assert fits_broadcast(small)
    # a zero budget rejects everything: the gate actually reads sizes
    assert not fits_broadcast(small, budget_bytes=0)


def test_maybe_broadcast_gates_join_strategy(spark):
    """Oversized key sets must NOT produce a broadcast join.  With the
    auto-broadcast threshold disabled, only the explicit hint can
    create a BroadcastHashJoin — so plan strings prove the gate."""
    target = spark.range(1000).withColumnRenamed("id", "k")
    keys = spark.range(500).withColumnRenamed("id", "k")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = target.join(maybe_broadcast(keys, 0), ["k"], "left_anti")
        hinted = target.join(maybe_broadcast(keys), ["k"], "left_anti")
        plan_gated = gated._jdf.queryExecution().executedPlan().toString()
        plan_hinted = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_gated
        assert "BroadcastHashJoin" in plan_hinted
        # both strategies compute the same anti join
        assert gated.count() == hinted.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_upsert_correct_when_keyset_exceeds_budget(spark, store, monkeypatch):
    """MERGE primitives stay correct on the shuffle fallback path (the
    100x-batch case where the key set no longer fits a broadcast)."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as storage_mod

    monkeypatch.setattr(
        storage_mod, "maybe_broadcast", lambda df, budget_bytes=0: df
    )
    base = spark.createDataFrame(
        [(i, "old") for i in range(100)], ["k", "v"]
    )
    store.overwrite("bronze.gate_probe", base)
    src = spark.createDataFrame(
        [(i, "new") for i in range(50, 150)], ["k", "v"]
    )
    store.upsert("bronze.gate_probe", src, ["k"])
    out = store.read("bronze.gate_probe")
    assert out.count() == 150
    assert out.filter(F.col("v") == "new").count() == 100
    store.delete_matched(
        "bronze.gate_probe", spark.range(25).withColumnRenamed("id", "k"), ["k"]
    )
    assert store.count("bronze.gate_probe") == 125


# ------------------------------------------------------ spark.sql surface


def test_bi_queries_via_spark_sql(spark, store):
    """The reference's four documented BI validation queries
    (``Gold/Gold Layer README.md:390-447``) must run verbatim-shaped
    through ``spark.sql`` against catalog-registered Gold tables."""
    raw, _ = (lambda b: (b.df(spark), b.counts))(fixtures.generate_day(1))
    medallion.run_incremental(store, raw)

    # null-FK audit
    nulls = spark.sql(
        """
        SELECT
            SUM(CASE WHEN status_key IS NULL THEN 1 ELSE 0 END) AS null_status,
            SUM(CASE WHEN date_key IS NULL THEN 1 ELSE 0 END) AS null_date
        FROM gold.fact_transactions
        """
    ).collect()[0]
    assert nulls.null_status == 0 and nulls.null_date == 0

    # star-schema join
    star = spark.sql(
        """
        SELECT f.transaction_id, dc.customer_tier, dm.merchant_name,
               dpm.payment_method, ds.transaction_status, dd.full_date,
               f.amount, f.gateway_revenue
        FROM gold.fact_transactions f
        JOIN gold.dim_customer dc
            ON f.customer_key = dc.customer_key AND dc.is_current = true
        JOIN gold.dim_merchant dm
            ON f.merchant_key = dm.merchant_key AND dm.is_current = true
        JOIN gold.dim_payment_method dpm
            ON f.payment_method_key = dpm.payment_method_key
        JOIN gold.dim_status ds ON f.status_key = ds.status_key
        JOIN gold.dim_date dd ON f.date_key = dd.date_key
        LIMIT 10
        """
    )
    assert star.count() == 10

    # revenue by merchant
    rev = spark.sql(
        """
        SELECT dm.merchant_name, COUNT(*) AS transaction_count,
               SUM(f.amount) AS total_amount,
               SUM(f.gateway_revenue) AS total_revenue
        FROM gold.fact_transactions f
        JOIN gold.dim_merchant dm
            ON f.merchant_key = dm.merchant_key AND dm.is_current = true
        GROUP BY dm.merchant_name
        ORDER BY total_revenue DESC
        LIMIT 10
        """
    )
    assert rev.count() > 0

    # customer tier analysis
    tiers = spark.sql(
        """
        SELECT dc.customer_tier,
               COUNT(DISTINCT f.customer_key) AS customers,
               COUNT(*) AS transactions,
               SUM(f.amount) AS total_amount,
               AVG(f.amount) AS avg_amount
        FROM gold.fact_transactions f
        JOIN gold.dim_customer dc
            ON f.customer_key = dc.customer_key AND dc.is_current = true
        GROUP BY dc.customer_tier
        ORDER BY total_amount DESC
        """
    )
    rows = tiers.collect()
    assert len(rows) > 0
    assert sum(r.transactions for r in rows) == spark.sql(
        "SELECT COUNT(*) AS n FROM gold.fact_transactions "
        "WHERE customer_key != -1"
    ).collect()[0].n


def test_catalog_sees_post_merge_state(spark, store):
    """spark.sql must observe mutations (registration is refreshed per
    write, including schema changes on overwrite)."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    store.overwrite("silver.cat_probe", df)
    assert spark.sql("SELECT COUNT(*) AS n FROM silver.cat_probe").collect()[0].n == 2
    store.upsert(
        "silver.cat_probe",
        spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"]),
        ["k"],
    )
    got = {
        r.k: r.v
        for r in spark.sql("SELECT k, v FROM silver.cat_probe").collect()
    }
    assert got == {1: "a", 2: "B", 3: "c"}
    # schema change on overwrite is visible (drop-and-recreate)
    store.overwrite(
        "silver.cat_probe",
        spark.createDataFrame([(1, "a", 9.5)], ["k", "v", "w"]),
    )
    assert "w" in spark.sql("SELECT * FROM silver.cat_probe").columns


def test_store_reattaches_existing_tables(spark, tmp_path):
    """A fresh TableStore over an existing warehouse re-registers the
    tables — but NOT leftover crashed-replace staging dirs, whose '.'
    would mismap to a junk catalog entry."""
    import os

    root = str(tmp_path / "wh_reattach")
    first = TableStore(spark, root)
    first.overwrite(
        "gold.reattach_probe", spark.createDataFrame([(1,)], ["k"])
    )
    # simulate a replace() that crashed between write and rename
    os.makedirs(os.path.join(root, "gold__reattach_probe.__stage__ab12"))
    spark.sql("DROP TABLE gold.reattach_probe")
    TableStore(spark, root)  # init scans + re-registers
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM gold.reattach_probe").collect()[0].n
        == 1
    )
    # the stage dir must not have produced any catalog entry
    tables = {t.name for t in spark.catalog.listTables("gold")}
    assert not any("stage" in t for t in tables)


def test_failed_catalog_registration_is_logged_not_raised(
    spark, store, monkeypatch, caplog
):
    """Catalog registration is a convenience surface: when it fails the
    write still commits, and the failure leaves a warning naming the
    table and the error."""
    import logging

    def broken_sql(*args, **kwargs):
        raise RuntimeError("catalog unavailable")

    monkeypatch.setattr(spark, "sql", broken_sql)
    with caplog.at_level(
        logging.WARNING,
        logger="delta_lake_gcp_implementation_spark.pipeline.storage",
    ):
        n = store.append("db.unregistered", spark.range(5))
    monkeypatch.undo()
    assert n == 5
    assert store.count("db.unregistered") == 5
    assert any(
        "db.unregistered" in r.getMessage()
        and "catalog unavailable" in r.getMessage()
        for r in caplog.records
    )


# -------------------------------------------------- write-time row stats


def test_meta_counts_track_every_mutation(spark, store):
    """store.count() answers from the head commit (footer row counts
    recorded at write time); it must stay exactly consistent with a
    real scan across every mutation primitive, for this instance and
    for a cold one that reads the log afresh."""
    name = "silver.meta_probe"

    def check():
        assert store.count(name) == store.read(name).count()

    store.overwrite(name, spark.createDataFrame([(i, "x") for i in range(40)], ["k", "v"]))
    check()
    appended = store.append(
        name, spark.createDataFrame([(100 + i, "a") for i in range(7)], ["k", "v"])
    )
    assert appended == 7
    check()
    after = store.upsert(
        name,
        spark.createDataFrame([(i, "u") for i in range(35, 50)], ["k", "v"]),
        ["k"],
    )
    assert after == store.count(name)
    check()
    matched = store.update_where(
        name, F.col("k") < 10, {"v": F.lit("z")}
    )
    assert matched == 10
    check()
    deleted = store.delete_matched(
        name, spark.range(5).withColumnRenamed("id", "k"), ["k"]
    )
    assert deleted == 5
    check()
    cold = TableStore(spark, store.root)
    assert cold.count(name) == store.count(name) == cold.read(name).count()


def test_update_matched_returns_closed_count(spark, store):
    name = "gold.meta_upd_probe"
    store.overwrite(
        name,
        spark.createDataFrame(
            [(1, True), (2, True), (3, False), (4, True)], ["k", "cur"]
        ),
    )
    n = store.update_matched(
        name,
        spark.createDataFrame([(1,), (3,), (4,)], ["k"]),
        ["k"],
        {"cur": F.lit(False)},
        extra_cond=F.col("cur") == True,  # noqa: E712
    )
    # k=3 matched the key set but failed extra_cond; k=2 untouched
    assert n == 2
    assert store.read(name).filter(F.col("cur")).count() == 1


def test_vacuum_removes_only_orphans(spark, store):
    import os

    store.overwrite(
        "bronze.vac_probe", spark.createDataFrame([(1,)], ["k"])
    )
    # a write that died before claiming a version leaves its stage dir
    stale_stage = store.path("bronze.vac_probe") + ".__stage__deadbeef"
    os.makedirs(stale_stage)
    removed = store.vacuum()
    assert stale_stage in removed
    # live table and its data are untouched
    assert store.count("bronze.vac_probe") == 1
    assert store.read("bronze.vac_probe").count() == 1


def test_adopt_uncommitted_folds_orphan_files_into_committed_state(
    spark, store, monkeypatch
):
    """The crash window that used to need ``adopt_uncommitted`` (data
    landed, commit lost) no longer exists: an append that dies after
    its claim is already committed, and the next access rolls its
    files into the live dir, so ``read()`` and committed state
    (``count``/``current_version``) agree without any repair call."""
    name = "bronze.adopt_probe"
    store.overwrite(name, spark.createDataFrame([(1,), (2,)], ["k"]))
    v0 = store.current_version(name)
    _fail_nth_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected"):
        store.append(name, spark.createDataFrame([(3,)], ["k"]))
    monkeypatch.undo()
    assert store.current_version(name) == v0 + 1
    assert store.count(name) == 3 == store.read(name).count()
    _assert_layout(store, name)


# ------------------------------------------------------- quadratic guard


def test_ngram_jaccard_refuses_large_all_pairs(spark):
    df = spark.createDataFrame(
        [(i, f"document text number {i} with enough shingles") for i in range(12)],
        ["doc_id", "text"],
    )
    with pytest.raises(ValueError, match="all-pairs"):
        dedup_ops.ngram_jaccard_pairs(
            df, "text", "doc_id", quadratic_row_limit=5
        )
    # explicit opt-in still works
    out = dedup_ops.ngram_jaccard_pairs(
        df,
        "text",
        "doc_id",
        threshold=0.0,
        quadratic_row_limit=5,
        allow_quadratic=True,
    )
    assert out.count() == 12 * 11 // 2


# ------------------------------------------------- versioned manifests


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_time_travel_reads_pre_merge_state(spark, tmp_path):
    """Every mutation commits a manifest; read_version(n) returns the
    table exactly as of commit n, including across MERGE rewrites."""
    store = TableStore(spark, str(tmp_path / "wh_tt"))
    store.prune_min_table_bytes = 0  # engage the fast path on tiny tables
    t = "silver.tt_probe"
    store.overwrite(t, spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "v"]))                      # v1
    store.upsert(t, spark.createDataFrame(
        [(2, "B"), (3, "c")], ["k", "v"]), keys=["k"])          # v2
    store.append(t, spark.createDataFrame([(4, "d")], ["k", "v"]))  # v3
    hist = store.versions(t)
    assert [m["version"] for m in hist] == [1, 2, 3]
    # the MERGE takes the file-granular fast path and records itself
    # honestly as op "merge" (pre-r14 it was a whole-table "replace")
    assert [m["op"] for m in hist] == ["replace", "merge", "append"]
    assert [m["row_count"] for m in hist] == [2, 3, 4]
    assert _rows(store.read_version(t, 1)) == {(1, "a"), (2, "b")}
    assert _rows(store.read_version(t, 2)) == {(1, "a"), (2, "B"), (3, "c")}
    assert _rows(store.read_version(t, 3)) == _rows(store.read(t))
    assert store.count(t) == 4


def test_vacuum_retains_requested_versions(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_vac"))
    t = "silver.vac_probe"
    for i in range(4):
        store.overwrite(t, spark.createDataFrame([(i,)], ["k"]))  # v1..v4
    removed = store.vacuum(retain_versions=2)
    assert removed, "old manifests/lineages must be expired"
    assert [m["version"] for m in store.versions(t)] == [3, 4]
    # retained versions still readable, expired ones gone
    assert _rows(store.read_version(t, 3)) == {(2,)}
    assert _rows(store.read_version(t, 4)) == {(3,)}
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        store.read_version(t, 1)


def test_crashed_swap_recovers_and_stays_readable(spark, tmp_path, monkeypatch):
    """Crash between the claim and the first apply rename of a replace:
    the committed new version is what the next read serves (the apply
    rolls forward), the replaced version stays readable, and the store
    is fully functional afterwards."""
    import os as _os

    store = TableStore(spark, str(tmp_path / "wh_crash"))
    t = "silver.crash_probe"
    store.overwrite(t, spark.createDataFrame([(1, "a")], ["k", "v"]))  # v1
    _fail_nth_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected"):
        store.overwrite(t, spark.createDataFrame([(2, "b")], ["k", "v"]))  # v2
    monkeypatch.undo()
    assert _rows(store.read_version(t, 1)) == {(1, "a")}
    assert _rows(store.read(t)) == {(2, "b")}   # the apply rolled forward
    assert store.count(t) == 1
    _assert_layout(store, t)
    # and the store is fully functional afterwards
    store.overwrite(t, spark.createDataFrame([(3, "c")], ["k", "v"]))  # v3
    assert _rows(store.read(t)) == {(3, "c")}
    assert _rows(store.read_version(t, 1)) == {(1, "a")}
    assert _rows(store.read_version(t, 2)) == {(2, "b")}
    store.vacuum()
    assert not [
        d for d in _os.listdir(store.root) if ".__stage__" in d
    ]


# --------------------------------------------------------------- schema evolution (round 5)


def test_append_refuses_schema_drift_by_default(spark, store):
    store.append("db.t_evo", spark.createDataFrame([(1, "a")], ["id", "v"]))
    drifted = spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"])
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        store.append("db.t_evo", drifted)
    # table untouched by the refused write
    assert store.count("db.t_evo") == 1


def test_append_evolution_new_column_rewrites_widened(spark, store):
    store.append("db.t_evo2", spark.createDataFrame([(1, "a")], ["id", "v"]))
    n = store.append(
        "db.t_evo2",
        spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]),
        allow_schema_evolution=True,
    )
    assert n == 1
    rows = {r.id: r for r in store.read("db.t_evo2").collect()}
    assert set(store.read("db.t_evo2").columns) == {"id", "v", "score"}
    assert rows[1].score is None and rows[2].score == 9.5


def test_append_evolution_missing_column_stays_append(spark, store):
    store.append(
        "db.t_evo3", spark.createDataFrame([(1, "a", 1.0)], ["id", "v", "score"])
    )
    files_before = set(__import__("os").listdir(store.path("db.t_evo3")))
    n = store.append(
        "db.t_evo3",
        spark.createDataFrame([(2, "b")], ["id", "v"]),
        allow_schema_evolution=True,
    )
    assert n == 1
    # cheap path: prior files still present (appended, not rewritten)
    files_after = set(__import__("os").listdir(store.path("db.t_evo3")))
    assert files_before <= files_after
    rows = {r.id: r for r in store.read("db.t_evo3").collect()}
    assert rows[2].score is None and rows[1].score == 1.0


def test_upsert_schema_evolution_both_directions(spark, store):
    store.append("db.t_evo4", spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]))
    src = spark.createDataFrame([(2, 7.5), (3, 8.5)], ["id", "score"])
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        store.upsert("db.t_evo4", src, ["id"])
    after = store.upsert("db.t_evo4", src, ["id"], allow_schema_evolution=True)
    assert after == 3
    rows = {r.id: r for r in store.read("db.t_evo4").collect()}
    # surviving row keeps v, gains NULL score; upserted rows lose v
    assert rows[1].v == "a" and rows[1].score is None
    assert rows[2].v is None and rows[2].score == 7.5
    assert rows[3].score == 8.5


def test_upsert_evolution_requires_keys_in_source(spark, store):
    store.append("db.t_evo5", spark.createDataFrame([(1, "a")], ["id", "v"]))
    src = spark.createDataFrame([("x",)], ["other"])
    with pytest.raises(ValueError, match="key columns"):
        store.upsert("db.t_evo5", src, ["id"], allow_schema_evolution=True)


def test_read_version_preserves_pre_evolution_schema(spark, store):
    store.append("db.t_evo6", spark.createDataFrame([(1, "a")], ["id", "v"]))
    store.upsert(
        "db.t_evo6",
        spark.createDataFrame([(2, 9.5)], ["id", "score"]),
        ["id"],
        allow_schema_evolution=True,
    )
    # live table has the widened schema
    assert set(store.read("db.t_evo6").columns) == {"id", "v", "score"}
    # time travel to v1 reads the ORIGINAL schema and rows
    v1 = store.read_version("db.t_evo6", 1)
    assert set(v1.columns) == {"id", "v"}
    assert [(r.id, r.v) for r in v1.collect()] == [(1, "a")]


def test_concurrent_commit_exactly_one_winner(spark, tmp_path):
    """Two writers racing for the same version slot: os.link claims it
    atomically — one wins, the loser raises instead of clobbering."""
    import json
    from unittest import mock

    from delta_lake_gcp_implementation_spark.pipeline.storage import (
        ConcurrentWriteError,
        TableStore,
    )

    store = TableStore(spark, str(tmp_path))
    store.overwrite("db.occ", spark.range(10).selectExpr("id", "id * 2 AS v"))
    v = store.current_version("db.occ")

    # writer B (another instance) read the head at v; writer A then
    # lands v+1.  B's commit is built on the head it finds when it
    # claims, so it lands v+2 on top of A's commit instead of over it
    other = TableStore(spark, str(tmp_path))
    assert other.current_version("db.occ") == v
    store._commit("db.occ", "append", txn=("a", 1))
    other._commit("db.occ", "append", txn=("b", 1))
    hist = store.versions("db.occ")
    assert [m["version"] for m in hist] == [v, v + 1, v + 2]
    assert [m["txn"]["app_id"] for m in hist[1:]] == ["a", "b"]
    assert store.last_txn_version("db.occ", "a") == 1  # not clobbered

    # slot-claim race: B's view of the head is frozen BEFORE A lands
    # (patch), so both compute the same next version — the os.link
    # claim must fail B, not clobber A
    stale = store._head("db.occ")
    with mock.patch.object(TableStore, "_head", return_value=stale):
        rival = json.loads(json.dumps(stale))  # A lands stale.version+1
        rival["version"] = stale["version"] + 1
        rival["op"] = "rival"
        path = store._commit_path("db.occ", rival["version"])
        with open(path, "w") as f:
            json.dump(rival, f)
        with pytest.raises(ConcurrentWriteError):
            store._commit("db.occ", "append", txn=("b", 2))
    # A's commit survived untouched
    assert store._load("db.occ", rival["version"]) == rival
    assert store.current_version("db.occ") == rival["version"]
    assert store.last_txn_version("db.occ", "b") == 1


def test_overwrite_where_replaces_exactly_the_predicate_slice(spark, tmp_path):
    """replaceWhere parity: re-loading one day replaces that day only,
    is idempotent, and rows violating the predicate are refused before
    any mutation."""
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(i, "2024-01-01" if i < 5 else "2024-01-02", i * 10) for i in range(10)],
        ["id", "day", "v"],
    )
    store.overwrite("db.daily", base)

    reload_day1 = spark.createDataFrame(
        [(i, "2024-01-01", i * 100) for i in range(3)], ["id", "day", "v"]
    )
    n = store.overwrite_where(
        "db.daily", F.col("day") == "2024-01-01", reload_day1
    )
    assert n == 3
    rows = {r.id: r for r in store.read("db.daily").collect()}
    assert len(rows) == 8  # 3 reloaded + 5 untouched day-2 rows
    assert all(rows[i].v == i * 100 for i in range(3))
    assert all(rows[i].day == "2024-01-02" and rows[i].v == i * 10
               for i in range(5, 10))

    # idempotent: running the same reload again changes nothing
    store.overwrite_where("db.daily", F.col("day") == "2024-01-01", reload_day1)
    again = {r.id: (r.day, r.v) for r in store.read("db.daily").collect()}
    assert again == {k: (r.day, r.v) for k, r in rows.items()}

    # predicate violation refused BEFORE mutation
    bad = spark.createDataFrame(
        [(99, "2024-02-15", 1)], ["id", "day", "v"]
    )
    before = store.count("db.daily")
    try:
        store.overwrite_where("db.daily", F.col("day") == "2024-01-01", bad)
        assert False, "expected ValueError"
    except ValueError:
        pass
    assert store.count("db.daily") == before


def test_restore_to_version_is_a_new_undoable_commit(spark, tmp_path):
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path))
    store.overwrite("db.r", spark.createDataFrame([(1, "a")], ["k", "v"]))
    v1 = store.current_version("db.r")
    store.upsert("db.r", spark.createDataFrame([(1, "B"), (2, "c")], ["k", "v"]),
                 keys=["k"])
    v2 = store.current_version("db.r")

    v3 = store.restore("db.r", v1)
    assert v3 > v2
    assert {(r.k, r.v) for r in store.read("db.r").collect()} == {(1, "a")}
    # history is append-only: the restore is itself time-travelable...
    assert {(r.k, r.v) for r in store.read_version("db.r", v2).collect()} == {
        (1, "B"), (2, "c")
    }
    # ...and undoable by restoring the pre-restore version
    store.restore("db.r", v2)
    assert {(r.k, r.v) for r in store.read("db.r").collect()} == {
        (1, "B"), (2, "c")
    }


def test_overwrite_where_null_predicate_rows_are_retained_and_flagged(
    spark, tmp_path
):
    """ADVICE r5: three-valued logic — rows where the predicate
    evaluates to NULL are NON-matching (Delta replaceWhere semantics):
    kept on the existing side, refused as violations on the incoming
    side.  A bare filter(~cond) would silently drop them."""
    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    store = TableStore(spark, str(tmp_path))
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10), (2, "2024-01-02", 20), (3, None, 30)],
        "id int, day string, v int",
    )
    store.overwrite("db.nullday", base)
    reload_day1 = spark.createDataFrame(
        [(1, "2024-01-01", 100)], "id int, day string, v int"
    )
    n = store.overwrite_where(
        "db.nullday", F.col("day") == "2024-01-01", reload_day1
    )
    assert n == 1
    rows = {r.id: (r.day, r.v) for r in store.read("db.nullday").collect()}
    # the NULL-day row (predicate -> NULL) survives the overwrite
    assert rows == {1: ("2024-01-01", 100), 2: ("2024-01-02", 20), 3: (None, 30)}

    # an incoming NULL-predicate row is a violation, refused pre-mutation
    bad = spark.createDataFrame([(9, None, 1)], "id int, day string, v int")
    before = store.count("db.nullday")
    try:
        store.overwrite_where("db.nullday", F.col("day") == "2024-01-01", bad)
        assert False, "expected ValueError for NULL-predicate incoming row"
    except ValueError:
        pass
    assert store.count("db.nullday") == before


def _occ_worker(root: str, widx: int, n_commits: int, out_q) -> None:
    """Child process: commit n_commits snapshots against a shared log,
    retrying on ConcurrentWriteError (no Spark needed — the commit
    protocol is pure filesystem)."""
    import random
    import time as _t

    from delta_lake_gcp_implementation_spark.pipeline.storage import (
        ConcurrentWriteError,
        TableStore,
    )

    store = TableStore.__new__(TableStore)  # skip __init__'s catalog scan
    store.spark = None
    store.root = root
    store._heads = {}
    won = []
    for i in range(n_commits):
        while True:
            try:
                v = store._commit(
                    "db.stress", f"w{widx}-{i}", txn=(f"w{widx}", i)
                )["version"]
                won.append((v, f"w{widx}-{i}"))
                break
            except ConcurrentWriteError:
                _t.sleep(random.random() * 0.01)
    out_q.put((widx, won))


def test_occ_commit_protocol_multiprocess_stress(tmp_path):
    """VERDICT r5 item 8: N OS processes x M commits racing one table
    log.  Linearizable outcome required: versions dense 1..N*M, every
    worker's every commit lands exactly once, no commit clobbered
    (each version's op matches the single worker that believes it won
    that slot), and no update lost (each snapshot's txn map carries
    every commit before it)."""
    import json as _json
    import multiprocessing as mp
    import os as _os

    from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

    n_workers, n_commits = 8, 12
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_occ_worker, args=(str(tmp_path), w, n_commits, q))
        for w in range(n_workers)
    ]
    for p in procs:
        p.start()
    claims = {}
    for _ in range(n_workers):
        widx, won = q.get(timeout=120)
        for v, op in won:
            assert v not in claims, f"two workers think they won v{v}"
            claims[v] = op
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0

    store = TableStore.__new__(TableStore)
    store.spark = None
    store.root = str(tmp_path)
    store._heads = {}
    log = store._log_dir("db.stress")
    versions = sorted(
        int(f[:-5]) for f in _os.listdir(log)
        if f.endswith(".json") and f[:-5].isdigit()
    )
    total = n_workers * n_commits
    # dense, complete, exactly one commit file per commit
    assert versions == list(range(1, total + 1))
    assert len(claims) == total
    seen: dict[str, int] = {}
    for v in versions:
        with open(store._commit_path("db.stress", v)) as f:
            m = _json.load(f)
        assert m["version"] == v
        # the on-disk commit is the one its claimed winner wrote
        assert m["op"] == claims[v]
        w, i = claims[v][1:].split("-")
        assert m["txn"] == {"app_id": f"w{w}", "version": int(i)}
        seen[f"w{w}"] = int(i)
        assert m["txns"] == seen  # built on its true predecessor
    # no stray tmp files leaked by losing writers
    assert not [f for f in _os.listdir(log) if f.startswith(".tmp-")]


# ----------------------------------------------- txn idempotent writes


def test_txn_recorded_atomically_and_survives_other_writers(spark, store):
    """Delta txnAppId/txnVersion contract: the txn marker is recorded
    in the same commit as the data; every later snapshot carries the
    txn map forward, other writers' replaces included;
    last_txn_version reports the per-app maximum."""
    df = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "v", F.lit(1).cast("bigint")
    )
    store.upsert("gold.mv", df, ["k"], txn=("app_a", 0))
    assert store.last_txn_version("gold.mv", "app_a") == 0
    assert store.last_txn_version("gold.mv", "app_b") is None
    # a second app and a later version of the first
    store.upsert("gold.mv", df, ["k"], txn=("app_b", 7))
    store.upsert("gold.mv", df, ["k"], txn=("app_a", 1))
    assert store.last_txn_version("gold.mv", "app_a") == 1
    assert store.last_txn_version("gold.mv", "app_b") == 7
    # a NON-txn full overwrite must not lose the records
    store.overwrite("gold.mv", df)
    assert store.last_txn_version("gold.mv", "app_a") == 1
    assert store.last_txn_version("gold.mv", "app_b") == 7
    assert store.read("gold.mv").count() == 10
    assert store.versions("gold.mv")[-1]["txn"] is None


def test_txn_create_path_is_staged(spark, store, monkeypatch):
    """First-ever write with a txn: a crash at the claim leaves no
    table and no marker (the replay must redo it); the replay then
    publishes data and marker in one commit."""
    df = spark.range(5).withColumnRenamed("id", "k").withColumn(
        "v", F.lit(2).cast("bigint")
    )
    _fail_claims(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        store.upsert("gold.fresh", df, ["k"], txn=("writer", 3))
    monkeypatch.undo()
    assert not store.exists("gold.fresh")
    assert store.last_txn_version("gold.fresh", "writer") is None
    store.upsert("gold.fresh", df, ["k"], txn=("writer", 3))
    assert store.last_txn_version("gold.fresh", "writer") == 3
    assert store.read("gold.fresh").count() == 5
    assert store.versions("gold.fresh")[-1]["txn"] == {
        "app_id": "writer", "version": 3,
    }


def test_last_txn_version_manifest_fallback_without_sidecars(spark, store):
    """The txn map lives only in the log: a cold store over the same
    root (nothing cached) reports each app's maximum across
    interleaved apps and non-txn commits."""
    df = spark.range(4).withColumnRenamed("id", "k").withColumn(
        "v", F.lit(1).cast("bigint")
    )
    store.upsert("gold.out", df, ["k"], txn=("app_a", 0))
    store.upsert("gold.out", df, ["k"], txn=("app_b", 5))
    store.upsert("gold.out", df, ["k"], txn=("app_a", 1))
    store.append("gold.out", df.withColumn("k", F.col("k") + 10))
    cold = TableStore(spark, store.root)
    assert cold.last_txn_version("gold.out", "app_a") == 1
    assert cold.last_txn_version("gold.out", "app_b") == 5
    assert cold.last_txn_version("gold.out", "app_c") is None


# ------------------------------------------- ADVICE r11: adopt OCC guard


def test_adopt_uncommitted_retries_past_concurrent_commit(
    spark, store, monkeypatch
):
    """A commit landing (through another instance) while a write is
    between its data write and its claim must not be lost or
    double-counted: the claim builds on the head it finds, so both
    writes land and committed state agrees with readers."""
    name = "bronze.adopt_race"
    store.overwrite(name, spark.createDataFrame([(1,), (2,)], ["k"]))
    other = TableStore(spark, store.root)
    fired = {"n": 0}
    real_entries = TableStore._entries

    def racing_entries(stage, schema):
        if fired["n"] == 0:
            fired["n"] += 1
            other.append(name, spark.createDataFrame([(4,)], ["k"]))
        return real_entries(stage, schema)

    monkeypatch.setattr(TableStore, "_entries", staticmethod(racing_entries))
    store.append(name, spark.createDataFrame([(3,)], ["k"]))
    monkeypatch.undo()
    assert fired["n"] == 1  # the race really happened
    assert [m["op"] for m in store.versions(name)] == [
        "replace", "append", "append",
    ]
    assert store.count(name) == 4 == store.read(name).count()
    assert _rows(store.read(name)) == {(1,), (2,), (3,), (4,)}


def test_adopt_uncommitted_raises_after_persistent_races(
    spark, store, monkeypatch
):
    """A writer whose view of the head is stale when it claims loses
    the race: it raises ConcurrentWriteError rather than committing
    over the other writer, and its stage is garbage that vacuum
    removes."""
    from delta_lake_gcp_implementation_spark.pipeline.storage import (
        ConcurrentWriteError,
    )

    name = "bronze.adopt_storm"
    store.overwrite(name, spark.createDataFrame([(1,)], ["k"]))
    stale = store._head(name)
    other = TableStore(spark, store.root)
    other.append(name, spark.createDataFrame([(2,)], ["k"]))
    monkeypatch.setattr(store, "_head", lambda nm: stale)
    with pytest.raises(ConcurrentWriteError, match="concurrent"):
        store.append(name, spark.createDataFrame([(3,)], ["k"]))
    monkeypatch.undo()
    assert _rows(store.read(name)) == {(1,), (2,)}
    assert store.count(name) == 2
    removed = store.vacuum()
    assert any(".__stage__" in p for p in removed)
    _assert_layout(store, name)


def test_discard_uncommitted_rolls_back_crashed_replace(
    spark, store, monkeypatch
):
    """A replace that dies at its claim never touched the live dir:
    the committed table is still what every reader sees, the stage is
    garbage vacuum removes, and the next write commits normally."""
    name = "bronze.replay_roll"
    store.append(name, spark.createDataFrame([(i,) for i in range(10)], ["k"]))
    before = set(store.snapshot(name)["files"])
    _fail_claims(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        store.overwrite(name, spark.createDataFrame([(99,), (98,)], ["k"]))
    monkeypatch.undo()
    assert store.count(name) == 10 == store.read(name).count()
    assert set(store.snapshot(name)["files"]) == before
    _assert_layout(store, name, stages_ok=True)
    assert any(".__stage__" in p for p in store.vacuum())
    _assert_layout(store, name)
    store.overwrite(name, spark.createDataFrame([(99,), (98,)], ["k"]))
    assert _rows(store.read(name)) == {(99,), (98,)}


def test_discard_uncommitted_refuses_when_archive_gone(
    spark, store, monkeypatch
):
    """A replace cut off in the MIDDLE of its apply (its new file
    moved in, the old files not yet moved out) must never surface as
    a mixed or empty table: the next read finishes the apply, and the
    replaced version stays readable from ``__v__``."""
    name = "bronze.replay_refuse"
    store.append(name, spark.createDataFrame([(1,), (2,)], ["k"]).coalesce(1))
    v1 = store.current_version(name)
    _fail_nth_rename(monkeypatch, 2)
    with pytest.raises(OSError, match="injected"):
        store.overwrite(name, spark.createDataFrame([(99,)], ["k"]))
    monkeypatch.undo()
    assert _rows(store.read(name)) == {(99,)}
    assert store.count(name) == 1
    assert _rows(store.read_version(name, v1)) == {(1,), (2,)}
    _assert_layout(store, name)


def test_last_txn_version_survives_maintenance_commit_over_lost_sidecar(
    spark, store, monkeypatch
):
    """ADVICE r13's shape — a txn append crashed after it committed,
    then a non-txn commit lands before the replay — must still report
    the true maximum: the marker is in the txn append's own commit and
    every later snapshot carries it."""
    name = "gold.mb"
    df = spark.range(4).withColumnRenamed("id", "k").withColumn(
        "v", F.lit(1).cast("bigint")
    )
    store.append(name, df, txn=("app", 4))
    _fail_nth_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected"):
        store.append(name, df, txn=("app", 5))
    monkeypatch.undo()
    # a maintenance commit lands on top of the half-applied txn append
    store.append(name, df)
    assert store.last_txn_version(name, "app") == 5
    assert store.count(name) == 12 == store.read(name).count()
    _assert_layout(store, name)


def test_vacuum_tolerates_directory_matching_sidecar_pattern(spark, store):
    """ADVICE r11: a DIRECTORY whose name matches the orphan-sidecar
    regex must not crash the sweep (os.remove on a dir raises)."""
    import os

    store.overwrite("bronze.vac_live", spark.createDataFrame([(1,)], ["k"]))
    trap = os.path.join(store.root, "bronze__gone.__meta__.json")
    os.makedirs(trap)
    removed = store.vacuum()
    assert os.path.isdir(trap)  # left alone, sweep completed
    assert trap not in removed


def test_last_version_hint_resolves_head_without_listing(
    spark, store, monkeypatch
):
    """A store resolves the head from its cached head plus a forward
    probe — no log listing — so it sees commits made through other
    instances; only a cold store (or a vanished cached head) lists the
    log, once."""
    t = "bronze.hint_probe"
    df = spark.createDataFrame([(1,)], ["k"])
    store.overwrite(t, df)          # v1
    other = TableStore(spark, store.root)
    assert other.current_version(t) == 1
    store.append(t, df)             # v2
    store.append(t, df)             # v3
    listings = {"n": 0}
    real_list = TableStore._log_versions

    def counting_list(self, name):
        listings["n"] += 1
        return real_list(self, name)

    monkeypatch.setattr(TableStore, "_log_versions", counting_list)
    assert other.current_version(t) == 3
    assert other.count(t) == 3
    assert listings["n"] == 0
    cold = TableStore.__new__(TableStore)
    cold.spark, cold.root, cold._heads = spark, store.root, {}
    assert cold.current_version(t) == 3 and cold.current_version(t) == 3
    assert listings["n"] == 1
    # the cached head vanished (the table was dropped): list again
    import shutil

    shutil.rmtree(store._log_dir(t))
    assert not other.exists(t)


# ---------------------------------------------- memo vs scoped release


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_memo_checkpoint_survives_batch_scoped_release(
    spark, sf_dir, tmp_path
):
    """r14 verdict "what's wrong" #3: a session-shared memo frame
    (the BPE train/encode memos) first materialized INSIDE a batch's
    checkpoint-owning scope must survive that scope's release — the
    memo dict still references the frame, and freeing its blocks would
    make the next BPE catalog key fail.  A plain checkpoint made in the
    same scope is freed."""
    import os
    import shutil

    from delta_lake_gcp_implementation_spark.checkpoints import (
        checkpoint,
        owned_checkpoints,
    )
    from delta_lake_gcp_implementation_spark.plans import bpeq

    # a fresh sf dir = a fresh memo key, so the build provably happens
    # inside this test's scope even when other tests already trained
    # on the shared fixture dir
    sf_copy = str(tmp_path / "sfmemo")
    os.makedirs(sf_copy)
    for t in ("documents",):
        shutil.copy(
            os.path.join(sf_dir, f"{t}.parquet"),
            os.path.join(sf_copy, f"{t}.parquet"),
        )

    with owned_checkpoints():
        # the batch intermediate the scope exists to free
        victim = checkpoint(spark.range(64))
        memo_frame = bpeq.encode_frame(spark, sf_copy)  # builds the memo
        expected = memo_frame.count()
    live = _persistent_rdd_ids(spark)
    assert _rdd_id(victim) not in live
    assert _rdd_id(memo_frame) in live
    # cached memo still evaluates from its blocks
    assert bpeq.encode_frame(spark, sf_copy).count() == expected
    # cleanup so later tests see no stray memo entries for tmp dirs
    bpeq._ENCODE_MEMO.pop(
        (spark.sparkContext.applicationId, os.path.abspath(sf_copy)), None
    )
    bpeq._TRAIN_MEMO.pop(
        (spark.sparkContext.applicationId, os.path.abspath(sf_copy)), None
    )


# ------------------------------------------------------- schema cache


def test_read_schema_cache_tracks_mutations_and_other_writers(
    spark, tmp_path
):
    """r15: ``read()`` serves the schema from a per-version cache
    (Delta keeps it in the log; re-inferring from footers cost one
    driver job per read).  The cache must follow every schema change —
    evolution rewrites bump the version — and a SECOND store instance
    over the same root (the multi-instance reader shape) must see the
    new schema because the version probe re-reads the manifest head."""
    a = TableStore(spark, str(tmp_path / "wh"))
    b = TableStore(spark, str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id").cast("long").alias("id"))
    a.append("db.sc", df)
    assert b.read("db.sc").columns == ["id"]  # b's cache now holds v1
    assert a.read("db.sc").columns == ["id"]
    a.append(
        "db.sc",
        df.withColumn("extra", F.lit("x")),
        allow_schema_evolution=True,
    )
    # both instances see the widened schema (a: own commit; b: stale
    # cache invalidated by the bumped manifest head)
    assert set(a.read("db.sc").columns) == {"id", "extra"}
    assert set(b.read("db.sc").columns) == {"id", "extra"}
    assert b.read("db.sc").count() == 20
    # overwrite with a narrower schema invalidates again
    a.overwrite("db.sc", df.select(F.col("id").alias("only")))
    assert b.read("db.sc").columns == ["only"]


def test_merge_pins_column_order_and_empty_merge_writes_nothing(spark, tmp_path):
    """r16: (a) a full-path MERGE must not reorder the table's columns
    (the USING-style anti join moves merge keys to the front — the
    no-op fact rerun used to flip the 30-column contract); (b) a MERGE
    whose source is empty must not write any data file (it used to
    full-rewrite the table when the key defeats pruning, or append a
    0-row schema fragment on the pruned path)."""
    import os

    store = TableStore(spark, str(tmp_path / "wh"))
    # key deliberately NOT the first column, and a STRING key so the
    # merge takes the unprunable full path
    df = spark.createDataFrame(
        [("alpha", "k1", 1.0), ("beta", "k2", 2.0)], ["name", "id", "v"]
    )
    store.overwrite("db.order", df)
    store.upsert("db.order", spark.createDataFrame(
        [("gamma", "k3", 3.0)], ["name", "id", "v"]), ["id"])
    assert store.read("db.order").columns == ["name", "id", "v"]
    assert store.count("db.order") == 3

    # pruned-path empty merge (int key -> file stats exist): no file
    # may be added or replaced
    dfi = spark.range(5).select(
        F.lit("x").alias("payload"), F.col("id").cast("long").alias("id")
    )
    store.overwrite("db.noop", dfi)
    store.prune_min_table_bytes = 0  # force the file-granular path
    path = store.path("db.noop")

    def data_files():
        return sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )

    files_before = data_files()
    n = store.upsert("db.noop", dfi.filter(F.col("id") < 0), ["id"])
    assert n == 5  # post-merge count unchanged
    assert data_files() == files_before
    assert store.read("db.noop").columns == ["payload", "id"]


# ------------------------------------------- the two crash points, per op


def _crash_table(spark, store, name):
    """Four files with disjoint key ranges, so pruned mutations touch
    a strict subset."""
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    store.overwrite(name, df.repartitionByRange(4, "k"))


_KV = T.StructType([
    T.StructField("k", T.LongType()), T.StructField("v", T.LongType()),
])


def _crash_op(spark, store, name, op):
    def rows(ks, v):
        return spark.createDataFrame([(k, v) for k in ks], "k bigint, v bigint")

    def keys(ks):
        return spark.createDataFrame([(k,) for k in ks], "k bigint")

    if op == "append":
        store.append(name, rows([1000, 1001], 7))
    elif op == "overwrite":
        store.overwrite(name, rows([5], 5))
    elif op in ("pruned_upsert", "full_upsert"):
        store.upsert(name, rows([10, 2000], -1), ["k"])
    elif op == "delete_matched":
        store.delete_matched(name, keys([10, 11]), ["k"])
    elif op == "update_matched":
        store.update_matched(
            name, keys([10]), ["k"], {"v": F.lit(-9).cast("bigint")}
        )
    elif op == "txn_append":
        store.append(name, rows([3000], 1), txn=("app", 4))
    elif op == "append_rows":
        store.append_rows(name, [(1000, 7), (1001, None)], _KV)


@pytest.mark.parametrize("failure", ["claim", "apply"])
@pytest.mark.parametrize(
    "op",
    [
        "append", "overwrite", "pruned_upsert", "full_upsert",
        "delete_matched", "update_matched", "txn_append", "append_rows",
    ],
)
def test_write_crash_leaves_prior_or_committed_state(
    spark, tmp_path, monkeypatch, op, failure
):
    """Every write has exactly two crash cases.  At the claim
    (``os.link`` fails): reads, count, history and the live files are
    unchanged, and vacuum removes the stage.  After the claim (the
    first apply rename fails): the next read/count serve the committed
    state — row-identical to a clean run — the live ``*.parquet`` set
    equals the snapshot, the previous version still reads its old
    rows, and a txn marker is visible."""
    import glob
    import os

    def make(root):
        s = TableStore(spark, str(tmp_path / root))
        if op != "full_upsert":
            s.prune_min_table_bytes = 0
        _crash_table(spark, s, "db.crash")
        return s

    clean = make("clean")
    _crash_op(spark, clean, "db.crash", op)
    store = make("crashed")
    t = "db.crash"
    prev = store.current_version(t)
    before_rows = _rows(store.read(t))
    before_files = sorted(glob.glob(os.path.join(store.path(t), "*.parquet")))
    if failure == "claim":
        _fail_claims(monkeypatch)
    else:
        _fail_nth_rename(monkeypatch, 1)
    with pytest.raises(OSError, match="injected"):
        _crash_op(spark, store, t, op)
    monkeypatch.undo()
    if failure == "claim":
        assert _rows(store.read(t)) == before_rows
        assert store.count(t) == len(before_rows)
        assert store.current_version(t) == prev
        assert [m["version"] for m in store.versions(t)] == [prev]
        assert sorted(
            glob.glob(os.path.join(store.path(t), "*.parquet"))
        ) == before_files
        removed = store.vacuum()
        assert any(".__stage__" in p for p in removed)
        assert store.last_txn_version(t, "app") is None
    else:
        assert _rows(store.read(t)) == _rows(clean.read(t))
        assert store.count(t) == clean.count(t)
        assert store.current_version(t) == prev + 1
        assert _rows(store.read_version(t, prev)) == before_rows
        if op == "txn_append":
            assert store.last_txn_version(t, "app") == 4
    _assert_layout(store, t)


# ------------------------------------- driver-written rows and marks


def test_append_rows_mark_keeps_the_largest_value(spark, tmp_path):
    """A mark offered by ``append_rows`` replaces the stored one only
    when it is larger (lists compare lexicographically); an older mark
    leaves the stored one in place, and commits that offer no mark
    carry it over.  A column set that differs from the table's is
    refused, as ``append`` refuses it."""
    store = TableStore(spark, str(tmp_path))
    t = "db.marks"
    newer = ["2024-01-02T00:00:00.000001", "BATCH_b", "2024-01-01 10:00:00"]
    older = ["2024-01-02T00:00:00.000000", "BATCH_z", "2024-01-09 10:00:00"]
    assert store.append_rows(t, [(1, 1), (2, None)], _KV, mark=("m", newer)) == 2
    store.append_rows(t, [(3, 3)], _KV, mark=("m", older))
    assert store.snapshot(t)["marks"] == {"m": newer}
    store.append(t, spark.createDataFrame([(4, 4)], "k bigint, v bigint"))
    store.append_rows(t, [(5, 5)], _KV, mark=("other", ["x"]))
    assert TableStore(spark, str(tmp_path)).snapshot(t)["marks"] == {
        "m": newer, "other": ["x"],
    }
    tie = newer[:1] + ["BATCH_c", "2024-01-01 11:00:00"]
    store.append_rows(t, [(6, 6)], _KV, mark=("m", tie))
    assert store.snapshot(t)["marks"]["m"] == tie
    assert sorted(store.read(t).collect()) == [
        (1, 1), (2, None), (3, 3), (4, 4), (5, 5), (6, 6),
    ]
    assert store.count(t) == 6
    with pytest.raises(ValueError, match="batch schema"):
        store.append_rows(
            t, [(7,)], T.StructType([T.StructField("k", T.LongType())])
        )
    assert store.count(t) == 6
    _assert_layout(store, t)


def _check_mixed_job_control(spark, root):
    """Two job_control rows written by Spark (INT96 timestamps) and two
    by ``append_rows`` (INT64 micros) in one directory read back
    row-identical to ``createDataFrame`` over the same Python values —
    as collected rows, as timestamp text in the session time zone, and
    through the catalog table."""
    import glob

    import pyarrow.parquet as pq

    from delta_lake_gcp_implementation_spark.pipeline.medallion import (
        JOB_CONTROL_SCHEMA,
    )

    def row(i, ts, day):
        return (
            f"job{i}", "bronze", f"BATCH_{i}", "incremental", "SUCCESS",
            day.date(), day.date(), None, ts, None, 10 + i, 9 + i, 1, 0,
            ts, ts.replace(microsecond=123456 + i), 42, 0, 2,
            None if i % 2 else "boom", "pipeline", "local", "app-1",
        )

    from datetime import datetime

    rows = [
        row(0, datetime(2024, 1, 15, 23, 59, 59), datetime(2024, 1, 15)),
        row(1, datetime(2024, 7, 1, 0, 30, 5, 7), datetime(2024, 7, 1)),
        row(2, datetime(2024, 3, 10, 2, 30, 0), datetime(2024, 3, 10)),
        row(3, datetime(2024, 11, 3, 1, 30, 0, 999999), datetime(2024, 11, 3)),
    ]
    store = TableStore(spark, root)
    store.append(
        "job_control", spark.createDataFrame(rows[:2], JOB_CONTROL_SCHEMA)
    )
    store.append_rows("job_control", rows[2:], JOB_CONTROL_SCHEMA)
    files = glob.glob(f"{store.path('job_control')}/*.parquet")
    physical = {
        pq.read_metadata(f).schema.column(14).physical_type for f in files
    }
    assert physical == {"INT96", "INT64"}, physical

    def collected(df):
        return sorted(df.collect(), key=lambda r: r.job_name)

    def as_text(df):
        return sorted(
            tuple(r) for r in df.select(
                *[F.col(c).cast("string") for c in df.columns]
            ).collect()
        )

    ref = spark.createDataFrame(rows, JOB_CONTROL_SCHEMA)
    got = store.read("job_control")
    assert collected(got) == collected(ref)
    assert as_text(got) == as_text(ref)
    assert as_text(spark.table("default.job_control")) == as_text(ref)


def test_mixed_job_control_files_read_back_identically_non_utc_session(
    spark, tmp_path
):
    """The mixed Spark/pyarrow directory under a non-UTC session time
    zone (the session's zone drives timestamp text and casts)."""
    before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        _check_mixed_job_control(spark, str(tmp_path / "wh"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_mixed_job_control_files_read_back_identically_non_utc_process(
    tmp_path
):
    """The same check in a fresh process whose local time zone (what a
    naive ``datetime`` means to ``toInternal``) is New York, under a
    Los Angeles session."""
    import os
    import subprocess
    import sys

    tests_dir = os.path.dirname(os.path.abspath(__file__))
    script = (
        "import sys\n"
        "sys.path[:0] = sys.argv[1:3]\n"
        "from delta_lake_gcp_implementation_spark.session import get_spark\n"
        "import test_storage_catalog as t\n"
        "spark = get_spark(app_name='tz', master='local[1]',"
        " shuffle_partitions=1, extra_conf={"
        "'spark.driver.memory': '1g',"
        " 'spark.sql.session.timeZone': 'America/Los_Angeles'})\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "t._check_mixed_job_control(spark, sys.argv[3])\n"
        "spark.stop()\n"
        "print('MIXED_OK')\n"
    )
    env = dict(os.environ, TZ="America/New_York")
    out = subprocess.run(
        [sys.executable, "-c", script, os.path.dirname(tests_dir), tests_dir,
         str(tmp_path / "wh")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert "MIXED_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-4000:]


def test_empty_and_partitioned_heads_register_in_the_catalog(
    spark, tmp_path
):
    """The catalog table is created with the log's schema (and a
    write_partitioned table's partition columns), so nothing is
    inferred from the files: a table whose head holds no data file
    registers on its first write and when a new store re-attaches it,
    its next non-empty write is visible, and a partitioned table reads
    its rows through spark.sql."""
    from delta_lake_gcp_implementation_spark.pipeline import maintenance

    root = str(tmp_path / "wh_register")
    store = TableStore(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], ["k", "p"])
    store.overwrite("reg.empty", df.limit(0))
    maintenance.write_partitioned(store, "reg.parted", df, ["p"])
    assert spark.catalog.tableExists("reg.empty")
    assert spark.table("reg.empty").columns == ["k", "p"]
    assert spark.sql("SELECT * FROM reg.empty").count() == 0
    assert spark.sql(
        "SELECT count(*) FROM reg.parted WHERE p = 'a'"
    ).first()[0] == 2
    for t in ("reg.empty", "reg.parted"):
        spark.sql(f"DROP TABLE {t}")
    reopened = TableStore(spark, root)
    assert spark.catalog.tableExists("reg.empty")
    assert spark.sql("SELECT count(*) FROM reg.parted").first()[0] == 3
    reopened.overwrite("reg.empty", df)
    assert spark.sql("SELECT count(*) FROM reg.empty").first()[0] == 3
