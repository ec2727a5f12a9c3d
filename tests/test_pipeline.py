"""Medallion pipeline scenario tests — replicating the reference's
count-based testing strategy (SURVEY.md section 5, TESTING_GUIDE
scenarios): fresh load, idempotent re-run, CDC collapse, late
arrivals, GDPR dual delete, SCD2 invariants, watermark rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def _day(spark, day, **kw):
    batch = fixtures.generate_day(day, **kw)
    return batch.df(spark), batch.counts


def _layout_problems(store) -> list[str]:
    """For every table in the store: its live ``*.parquet`` set must
    equal its head snapshot's file set (what a reader of
    ``<dir>/*.parquet`` — perfbench's DuckDB gold-query check, the
    catalog's LOCATION table — relies on), and its count must equal a
    scan; no stage dir may be left behind."""
    import glob
    import os

    problems = [
        f"leftover stage {d}"
        for d in os.listdir(store.root)
        if ".__stage__" in d
    ]
    for d in sorted(os.listdir(store.root)):
        if not d.endswith(".__log__"):
            continue
        name = d[: -len(".__log__")].replace("__", ".", 1)
        live = store.path(name)
        on_disk = {
            os.path.relpath(p, live)
            for p in glob.glob(os.path.join(live, "**", "*.parquet"), recursive=True)
        }
        if on_disk != set(store.snapshot(name)["files"]):
            problems.append(f"{name}: live files != snapshot files")
        if store.count(name) != store.read(name).count():
            problems.append(f"{name}: count != scan")
    return problems


def _scan_watermark(store, layer):
    """The reference's watermark query, a scan of job_control
    (``read_watermark.py:29-35``: ORDER BY completed_at DESC LIMIT 1),
    kept here as the oracle for ``medallion.read_watermark``."""
    if not store.exists("job_control"):
        return None
    row = (
        store.read("job_control").filter(
            (F.col("layer") == layer)
            & (F.col("status") == "SUCCESS")
            & F.col("last_processed_timestamp").isNotNull()
        )
        .orderBy(F.desc("completed_at"), F.desc("batch_id"))
        .limit(1)
        .collect()
    )
    if not row:
        return None
    return row[0].last_processed_timestamp.strftime("%Y-%m-%d %H:%M:%S")


def _watermark_mismatches(store) -> dict:
    """Layers whose snapshot watermark differs from the scan's."""
    out = {}
    for layer in ("bronze", "silver", "gold"):
        got = medallion.read_watermark(store, layer)
        want = _scan_watermark(store, layer)
        if got != want:
            out[layer] = (got, want)
    return out


@pytest.fixture(scope="module")
def day1_run(spark, tmp_path_factory):
    """Shared day-1 pipeline state for READ-ONLY assertions (one
    run_incremental plus the idempotent re-run, which is itself an
    asserted scenario).  Replaces nine per-test pipeline runs — the
    driver's pytest window truncates past ~25 min (r15 verdict item 3),
    and each redundant run cost ~6 s.  Tests that MUTATE the store
    (gdpr, full refresh, backfill, retry injection) keep private
    stores."""
    import contextlib
    import io

    store = TableStore(
        spark, str(tmp_path_factory.mktemp("wh_day1") / "warehouse")
    )
    raw, counts = _day(spark, 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        r1 = medallion.run_incremental(store, raw)
        n_bronze = store.count("bronze.transactions")
        n_silver = store.count("silver.transactions")
        layout_after_1 = _layout_problems(store)
        wm_after_1 = _watermark_mismatches(store)
        rerun = medallion.run_incremental(store, raw)
    return {
        "store": store,
        "r1": r1,
        "layout_after_1": layout_after_1,
        "wm_after_1": wm_after_1,
        "counts": counts,
        "rerun": rerun,
        "n_bronze_after_1": n_bronze,
        "n_silver_after_1": n_silver,
        "stdout": buf.getvalue(),
    }


SCD2_DIMS = {"scd2": "gold.dim_customer", "scd2_merchant": "gold.dim_merchant"}


@pytest.fixture(scope="module")
def day12_run(spark, tmp_path_factory):
    """Shared day-1, replay, day-2 incremental state for read-only CDC /
    late-arrival / SCD2-commit assertions; ``dim_versions`` holds the
    SCD2 dims' commit counts after each run.
    test_full_refresh_silver_and_fact_match_incremental also consumes
    it but rebuilds silver/fact in place — it must stay the LAST
    consumer in definition order."""
    store = TableStore(
        spark, str(tmp_path_factory.mktemp("wh_day12") / "warehouse")
    )
    raw1, c1 = _day(spark, 1)
    raw2, c2 = _day(spark, 2)
    runs, dim_versions = [], []
    for raw in (raw1, raw1, raw2):
        runs.append(medallion.run_incremental(store, raw))
        dim_versions.append(
            {dim: len(store.versions(dim)) for dim in SCD2_DIMS.values()}
        )
    r1, replay, r2 = runs
    return {
        "store": store, "r1": r1, "c1": c1, "replay": replay, "r2": r2,
        "c2": c2, "dim_versions": dim_versions,
    }


def test_fresh_load_counts(day1_run):
    store, r, counts = day1_run["store"], day1_run["r1"], day1_run["counts"]
    # scenario 1 (TESTING_GUIDE:76-107): exact quarantine + staged counts
    assert r["validate"]["quarantined"] == counts["tier1"]
    # staged = total - tier1 - exact dups removed by W1
    assert r["validate"]["staged"] == counts["total"] - counts["tier1"] - counts["dups"]
    assert store.count("bronze.transactions") == r["validate"]["staged"]
    # tier-2 rows loaded but flagged, never quarantined
    flagged = (
        store.read("bronze.transactions")
        .filter(F.col("data_quality_flag") == "FAILED_VALIDATION")
        .count()
    )
    assert flagged == counts["tier2"]
    # tier-3 rows fixed by COALESCE: no NULL device/location/product survive
    b = store.read("bronze.transactions")
    assert b.filter(F.col("device_type").isNull()).count() == 0
    assert b.filter(F.col("product_name").isNull()).count() == 0


def test_idempotent_rerun(day1_run):
    store = day1_run["store"]
    # scenario 2 (TESTING_GUIDE:125-161): same batch again -> no growth
    # (the fixture ran the same day-1 batch twice)
    assert store.count("bronze.transactions") == day1_run["n_bronze_after_1"]
    assert store.count("silver.transactions") == day1_run["n_silver_after_1"]
    # S11 empty-staging write: the no-new-data run overwrites staging
    # with a 0-row frame that KEEPS the exact 21-column schema, so a
    # downstream reader never sees the previous batch
    staging = store.read("silver.transactions_staging")
    assert staging.count() == 0
    assert staging.columns == medallion.SILVER_COLS


def test_watermarks_equal_the_scan_after_run_and_replay(day1_run):
    store = day1_run["store"]
    assert day1_run["wm_after_1"] == {}
    assert _watermark_mismatches(store) == {}
    assert all(
        medallion.read_watermark(store, layer) is not None
        for layer in ("bronze", "silver", "gold")
    )


def test_watermarks_equal_the_scan_after_a_second_day(day12_run):
    assert _watermark_mismatches(day12_run["store"]) == {}


def test_every_stage_run_records_one_success_row(day12_run):
    """Day 1, its replay and day 2: each of the five job_control stages
    writes exactly one SUCCESS row per run — the SCD2 dims' first build
    included."""
    jc = day12_run["store"].read("job_control").filter(
        F.col("status") == "SUCCESS"
    )
    batches = [day12_run[r]["batch_id"] for r in ("r1", "replay", "r2")]
    rows = jc.filter(F.col("batch_id").isin(batches)).collect()
    assert len(rows) == 15
    assert sorted((r.batch_id, r.job_name) for r in rows) == sorted(
        (b, job)
        for b in batches
        for job in ("load_bronze", "load_silver", "scd2_dim_customer",
                    "scd2_dim_merchant", "load_fact")
    )


def test_scd2_run_is_one_commit_and_the_replay_none(day12_run):
    """Each SCD2 run that changes its dim adds exactly one commit to it
    (the first build included), a replay adds none, and no SCD2 staging
    table exists."""
    store, versions = day12_run["store"], day12_run["dim_versions"]
    changed_on_day2 = 0
    for key, dim in SCD2_DIMS.items():
        assert day12_run["r1"][key]["inserted"] > 0
        assert versions[0][dim] == 1
        assert day12_run["replay"][key] == {"inserted": 0, "closed": 0}
        assert versions[1][dim] == versions[0][dim]
        r2 = day12_run["r2"][key]
        changed = 1 if r2["inserted"] or r2["closed"] else 0
        changed_on_day2 += changed
        assert versions[2][dim] == versions[1][dim] + changed
    assert changed_on_day2 > 0
    for dim in ("gold.dim_customer_staging", "gold.dim_merchant_staging"):
        assert not store.exists(dim)


def test_live_dirs_match_the_log_after_run_and_replay(day1_run):
    assert day1_run["layout_after_1"] == []
    assert _layout_problems(day1_run["store"]) == []


def test_cdc_collapse_and_composite_key(spark, day12_run):
    store, c2 = day12_run["store"], day12_run["c2"]
    b = store.read("bronze.transactions")
    s = store.read("silver.transactions")
    # Bronze keeps every (transaction_id, updated_at) version
    versions = (
        b.groupBy("transaction_id").count().filter(F.col("count") > 1).count()
    )
    assert versions >= c2["updates"]  # updated ids have 2 versions
    # Silver keeps exactly one row per transaction_id (invariant,
    # silver/README.md:393-407)
    assert s.groupBy("transaction_id").count().filter(F.col("count") > 1).count() == 0
    # updated ids collapsed to the new status
    updated_ids = [f"TXN_20240301_{i:06d}" for i in range(c2["updates"])]
    got = {
        r.transaction_id: r.transaction_status
        for r in s.filter(F.col("transaction_id").isin(updated_ids)).collect()
    }
    assert all(v == "Successful" for v in got.values())


def test_late_arrivals_flagged_not_dropped(day12_run):
    store, r2 = day12_run["store"], day12_run["r2"]
    late = (
        store.read("bronze.transactions")
        .filter(F.col("is_late_arrival") == True)  # noqa: E712
    )
    assert late.count() >= 1  # flagged...
    assert late.filter(F.col("arrival_delay_hours") <= 0).count() == 0
    # ...and processed (present in bronze), never dropped
    assert r2["validate"]["staged"] > 0


def test_gdpr_dual_delete(spark, store):
    raw, _ = _day(spark, 1)
    medallion.run_incremental(store, raw)
    victim = (
        store.read("silver.transactions").select("customer_id").first().customer_id
    )
    r = medallion.gdpr_delete(store, victim, "BATCH_TEST")
    assert r["bronze_soft_deleted"] > 0
    # RUNBOOK:157-216 invariants: silver count 0, bronze soft-deleted intact
    assert (
        store.read("silver.transactions")
        .filter(F.col("customer_id") == victim)
        .count()
        == 0
    )
    b = store.read("bronze.transactions").filter(F.col("customer_id") == victim)
    assert b.count() > 0
    assert b.filter(F.col("is_deleted") == False).count() == 0  # noqa: E712
    assert b.filter(F.col("delta_change_type") != "DELETE").count() == 0


def test_scd2_invariants_tier_change_and_merchant_best_record(spark, store):
    """Customer and merchant SCD2 invariants over the SAME 3-day
    progression (two separate tests each ran their own 3-day pipeline;
    merged to halve that cost — r15 verdict item 3)."""
    raw1, _ = _day(spark, 1)
    medallion.run_incremental(store, raw1)
    dim1 = store.read("gold.dim_customer")
    # exactly one current row per business key (Gold README:478-481)
    assert (
        dim1.filter(F.col("is_current") == True)  # noqa: E712
        .groupBy("customer_id").count().filter(F.col("count") > 1).count()
        == 0
    )
    n_v1 = dim1.count()
    # W4 best-record pre-dedup -> exactly one current row per merchant
    assert (
        store.read("gold.dim_merchant")
        .filter(F.col("is_current") == True)  # noqa: E712
        .groupBy("merchant_id").count().filter(F.col("count") > 1).count()
        == 0
    )
    # more days -> transaction counts grow -> some tiers change
    for day in (2, 3):
        raw, _ = _day(spark, day)
        medallion.run_incremental(store, raw)
    dim3 = store.read("gold.dim_customer")
    assert (
        dim3.filter(F.col("is_current") == True)  # noqa: E712
        .groupBy("customer_id").count().filter(F.col("count") > 1).count()
        == 0
    )
    # closed versions keep history: total rows grow, closed rows have
    # end date < 9999-12-31 and is_current=false
    closed = dim3.filter(F.col("is_current") == False)  # noqa: E712
    if dim3.count() > n_v1:
        assert closed.count() > 0
        assert closed.filter(F.col("effective_end_date") == "9999-12-31").count() == 0
    # surrogate keys unique
    assert dim3.select("customer_key").distinct().count() == dim3.count()

    dim3m = store.read("gold.dim_merchant")
    cur = dim3m.filter(F.col("is_current") == True)  # noqa: E712
    # invariant survives churn (same-day guard + replace)
    assert cur.groupBy("merchant_id").count().filter(F.col("count") > 1).count() == 0
    # no corrupted closed rows: end >= start always
    assert dim3m.filter(
        F.col("effective_end_date") < F.col("effective_start_date")
    ).count() == 0
    assert dim3m.select("merchant_key").distinct().count() == dim3m.count()
    # MERCH_9xxx never enters the dim (P6)
    assert dim3m.filter(F.col("merchant_id").like("MERCH_9%")).count() == 0


def test_same_day_merchant_rename_keeps_its_key(spark, store):
    """A second batch on the same calendar day renames a merchant: its
    current version is replaced in place under the day-1 key (no closed
    row, no new key), so every fact row — old and new — still joins a
    dim_merchant row."""
    from pyspark.sql import Row

    raw1, _ = _day(spark, 1)
    medallion.run_incremental(store, raw1)
    day1 = store.read("gold.dim_merchant").collect()
    victim = min(r.merchant_id for r in day1)
    key1 = next(r.merchant_key for r in day1 if r.merchant_id == victim)
    # newest event of the day, so the best-record pick takes its name
    later = (
        store.read("bronze.transactions").agg(
            F.date_format(
                F.greatest(F.max("transaction_timestamp"), F.max("updated_at"))
                + F.expr("INTERVAL 1 MINUTE"),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("ts")
        ).first().ts
    )
    template = raw1.filter(F.col("merchant_id") == victim).first().asDict()
    template.update(
        transaction_id="TXN_RENAME_000001", merchant_name="Renamed Co",
        transaction_timestamp=later, updated_at=later, amount=10.0,
        transaction_status="Successful",
    )
    rename = spark.createDataFrame([Row(**template)], raw1.schema)
    r = medallion.run_incremental(store, rename)
    assert r["scd2_merchant"] == {"inserted": 1, "closed": 0}

    dim = store.read("gold.dim_merchant")
    mine = dim.filter(F.col("merchant_id") == victim).collect()
    assert [(m.merchant_key, m.merchant_name, m.is_current) for m in mine] == [
        (key1, "Renamed Co", True)
    ]
    assert dim.select("merchant_key").distinct().count() == dim.count()
    fact = store.read("gold.fact_transactions")
    assert fact.filter(F.col("transaction_id") == "TXN_RENAME_000001").first(
    ).merchant_key == key1
    dangling = fact.join(
        dim.select("merchant_key"), "merchant_key", "left_anti"
    ).count()
    assert dangling == 0


def test_watermark_advances_and_backfill_does_not(spark, store):
    raw1, _ = _day(spark, 1)
    medallion.run_incremental(store, raw1)
    wm1 = medallion.read_watermark(store, "bronze")
    assert wm1 is not None
    # backfill merges but leaves the watermark untouched
    raw_b, _ = _day(spark, 3)
    r = medallion.backfill_bronze(store, raw_b, "2024-03-03", "2024-03-03",
                                  "BATCH_BF")
    assert r["merged"] > 0
    assert medallion.read_watermark(store, "bronze") == wm1
    # incremental day2 advances it
    raw2, _ = _day(spark, 2)
    medallion.run_incremental(store, raw2)
    assert medallion.read_watermark(store, "bronze") > wm1


def test_full_refresh_resets_state(spark, store):
    raw1, _ = _day(spark, 1)
    medallion.run_incremental(store, raw1)
    raw_all = raw1
    # destructive-op gate (silver_full_refresh_dag.py:27-58 analog)
    with pytest.raises(ValueError, match="confirm"):
        medallion.full_refresh_bronze(store, raw_all, "BATCH_FR")
    r = medallion.full_refresh_bronze(store, raw_all, "BATCH_FR", confirm="YES")
    assert r["written"] == store.count("bronze.transactions")
    assert r["watermark"] is not None


def test_full_refresh_silver_and_fact_match_incremental(spark, day12_run):
    # Rebuild-in-place converges to the incrementally-built state, so
    # sharing the day-1+2 store is safe — but this must stay the LAST
    # day12_run consumer in definition order (it rewrites silver/fact).
    store = day12_run["store"]
    n_silver_inc = store.count("silver.transactions")
    n_fact_inc = store.count("gold.fact_transactions")
    rs = medallion.full_refresh_silver(store, "BATCH_FRS", confirm="YES")
    rf = medallion.full_refresh_fact(store, "BATCH_FRF", confirm="YES")
    # rebuild-from-scratch converges to the incrementally-built state
    assert rs["written"] == n_silver_inc
    assert rf["written"] == n_fact_inc
    assert (
        store.read("silver.transactions")
        .groupBy("transaction_id").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_fact_star_and_null_fk_audit(day1_run):
    store, r = day1_run["store"], day1_run["r1"]
    audit = r["fact"]["null_fk"]
    # all FIVE FKs resolve (validate_fact_transactions.py:233-241)
    assert audit["null_customer_key"] == 0
    assert audit["null_merchant_key"] == 0
    assert audit["null_payment_method_key"] == 0
    assert audit["null_status_key"] == 0
    assert audit["null_date_key"] == 0
    fact = store.read("gold.fact_transactions")
    # 30-column contract (docs/SCHEMA_REGISTRY.md:155-189)
    assert fact.columns == medallion.FACT_COLS
    # measures derived correctly on a sample row
    row = fact.first()
    assert abs(row.net_customer_amount - (row.amount - row.fee_amount + row.cashback_amount)) < 1e-9
    assert abs(row.merchant_net_amount - (row.amount - row.cashback_amount)) < 1e-9
    # refund placeholders
    assert row.is_refunded is False and row.refund_amount is None
    assert row.attempt_number == 1
    # MERCH_9xxx never enters dim_merchant (P6), and null_merchant_key
    # == 0 above proves no fact row references an excluded merchant
    dim_m = store.read("gold.dim_merchant")
    assert dim_m.filter(F.col("merchant_id").like("MERCH_9%")).count() == 0
    # every fact merchant_key resolves to a current dim row
    unresolved = fact.join(
        dim_m.filter(F.col("is_current") == True).select("merchant_key"),  # noqa: E712
        "merchant_key", "left_anti",
    ).count()
    assert unresolved == 0


def test_fact_merchant_rollup_through_key(spark, day1_run):
    """Merchant-sliced revenue through merchant_key (the reference's
    top-10 revenue demo, Gold Layer README.md:417-431)."""
    store = day1_run["store"]
    fact = store.read("gold.fact_transactions")
    dim_m = store.read("gold.dim_merchant").filter(F.col("is_current") == True)  # noqa: E712
    top = (
        fact.join(F.broadcast(dim_m.select("merchant_key", "merchant_name")),
                  "merchant_key")
        .groupBy("merchant_name")
        .agg(F.sum("merchant_net_amount").alias("revenue"),
             F.count("*").alias("txns"))
        .orderBy(F.desc("revenue"))
        .limit(10)
        .collect()
    )
    assert len(top) == 10
    assert all(t.revenue is not None and t.txns > 0 for t in top)
    # descending order
    revs = [t.revenue for t in top]
    assert revs == sorted(revs, reverse=True)


def test_unknown_member_resolves_to_minus_one(spark, store):
    """docs/VALIDATION_RULES.md:167-182: unresolvable FKs become -1,
    not NULL, when unknown_member=True."""
    raw1, _ = _day(spark, 1)
    medallion.run_incremental(store, raw1)
    # orphan one customer: remove it from the dim, then rebuild
    victim = store.read("gold.dim_customer").first().customer_id
    victim_keys = (
        store.read("gold.dim_customer")
        .filter(F.col("customer_id") == victim)
        .select("customer_key")
    )
    store.overwrite("tmp.victim_keys", victim_keys)
    store.delete_matched(
        "gold.dim_customer", store.read("tmp.victim_keys"), ["customer_key"]
    )
    medallion.full_refresh_fact(
        store, "BATCH_UNK", confirm="YES", unknown_member=True
    )
    fact = store.read("gold.fact_transactions")
    orphaned = fact.filter(F.col("customer_key") == -1).count()
    assert orphaned > 0
    assert fact.filter(F.col("customer_key").isNull()).count() == 0


def test_job_control_contract_and_runbook_queries(spark, day1_run):
    """23-column job_control contract (docs/SCHEMA_REGISTRY.md:53-81)
    expressed by replaying the RUNBOOK monitoring queries
    (bronze/README.md:365-405)."""
    store = day1_run["store"]
    jc = store.read("job_control")
    assert jc.columns == [
        "job_name", "layer", "batch_id", "run_mode", "status",
        "processing_date", "start_date", "end_date",
        "last_processed_timestamp", "last_processed_batch_id",
        "records_read", "records_written", "records_failed",
        "records_quarantined", "started_at", "completed_at",
        "duration_seconds", "retry_count", "max_retries", "error_message",
        "triggered_by", "dataproc_cluster", "spark_app_id",
    ]
    jc.createOrReplaceTempView("job_control")
    # success rate (RUNBOOK)
    rates = spark.sql("""
        SELECT job_name, COUNT(*) AS total_runs,
               SUM(CASE WHEN status = 'SUCCESS' THEN 1 ELSE 0 END) AS ok,
               ROUND(100.0 * SUM(CASE WHEN status = 'SUCCESS' THEN 1 ELSE 0 END)
                     / COUNT(*), 2) AS success_rate_pct
        FROM job_control
        WHERE started_at >= CURRENT_DATE - INTERVAL 7 DAY
        GROUP BY job_name
    """).collect()
    assert rates and all(r.success_rate_pct == 100.0 for r in rates)
    # quarantine rate (RUNBOOK)
    qrate = spark.sql("""
        SELECT DATE(started_at) AS date,
               SUM(records_quarantined) AS quarantined,
               SUM(records_written) AS loaded
        FROM job_control GROUP BY DATE(started_at)
    """).collect()
    assert qrate and qrate[0].loaded > 0
    # duration by mode (RUNBOOK)
    durs = spark.sql("""
        SELECT run_mode, AVG(duration_seconds) AS avg_s,
               MAX(duration_seconds) AS max_s
        FROM job_control WHERE status = 'SUCCESS' GROUP BY run_mode
    """).collect()
    assert durs and all(d.avg_s is not None for d in durs)


def test_result_json_contract(day1_run):
    import json as _json

    lines = [
        ln for ln in day1_run["stdout"].splitlines()
        if ln.startswith("RESULT_JSON:")
    ]
    assert len(lines) >= 5  # bronze, silver, 2x scd2, fact
    for ln in lines:
        payload = _json.loads(ln[len("RESULT_JSON:"):])
        assert "job_name" in payload


def test_schema_contracts(day1_run):
    """Column-list parity with docs/SCHEMA_REGISTRY.md for quarantine
    (24), dim_customer (12), dim_merchant (10), dim_payment_method (5),
    dim_status (6)."""
    store = day1_run["store"]
    assert store.read("bronze.quarantine").columns == medallion.RAW_COLS + [
        "delta_change_type", "delta_version", "error_reason", "error_tier",
        "quarantined_at", "source_file", "processing_batch_id",
    ]
    assert store.read("gold.dim_customer").columns == [
        "customer_key", "customer_id", "customer_tier", "is_active",
        "first_transaction_date", "last_transaction_date", "lifetime_value",
        "loaded_at", "source_system", "effective_start_date",
        "effective_end_date", "is_current",
    ]
    assert store.read("gold.dim_merchant").columns == [
        "merchant_key", "merchant_id", "merchant_name", "category",
        "location_type", "loaded_at", "source_system",
        "effective_start_date", "effective_end_date", "is_current",
    ]
    assert store.read("gold.dim_payment_method").columns == [
        "payment_method_key", "payment_method", "description", "loaded_at",
        "source_system",
    ]
    assert store.read("gold.dim_status").columns == [
        "status_key", "transaction_status", "status_category",
        "is_successful", "loaded_at", "source_system",
    ]


def test_bi_star_join_smoke_and_tier_analysis(spark, day1_run):
    """Replay the reference's documented BI queries over our Gold star
    (Gold Layer README.md:390-447): the 6-table star join resolves for
    every fact row, and tier analysis aggregates through dim_customer."""
    store = day1_run["store"]
    for t in ["fact_transactions", "dim_customer", "dim_merchant",
              "dim_payment_method", "dim_status", "dim_date"]:
        store.read(f"gold.{t}").createOrReplaceTempView(t)
    joined = spark.sql("""
        SELECT f.transaction_id, dc.customer_tier, dm.merchant_name,
               dpm.payment_method, ds.transaction_status, dd.full_date,
               f.amount, f.gateway_revenue
        FROM fact_transactions f
        JOIN dim_customer dc
          ON f.customer_key = dc.customer_key AND dc.is_current = true
        JOIN dim_merchant dm
          ON f.merchant_key = dm.merchant_key AND dm.is_current = true
        JOIN dim_payment_method dpm
          ON f.payment_method_key = dpm.payment_method_key
        JOIN dim_status ds ON f.status_key = ds.status_key
        JOIN dim_date dd ON f.date_key = dd.date_key
    """)
    # inner joins lose no rows: every FK resolves
    assert joined.count() == store.count("gold.fact_transactions")
    tiers = spark.sql("""
        SELECT dc.customer_tier,
               COUNT(DISTINCT f.customer_key) AS customers,
               COUNT(*) AS transactions,
               SUM(f.amount) AS total_amount,
               AVG(f.amount) AS avg_amount
        FROM fact_transactions f
        JOIN dim_customer dc
          ON f.customer_key = dc.customer_key AND dc.is_current = true
        GROUP BY dc.customer_tier
        ORDER BY total_amount DESC
    """).collect()
    assert tiers and sum(t.transactions for t in tiers) == joined.count()


def test_fact_plan_broadcasts_all_five_dims(spark, day1_run):
    """The 100 TB-correct star plan: every dim side is a broadcast hash
    join — the silver fact stream must never shuffle for a dim."""
    store = day1_run["store"]
    silver = store.read("silver.transactions").filter(
        ~F.col("merchant_id").like("MERCH_9%")
    )
    fact = medallion._fact_frame(store, silver)
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_dim_date_attributes(spark, store):
    medallion.build_dim_date(store, "2024-01-01", "2024-01-31")
    dd = store.read("gold.dim_date")
    assert dd.count() == 31
    jan6 = dd.filter(F.col("full_date") == "2024-01-06").first()  # Saturday
    assert jan6.is_weekend and jan6.date_key == 20240106 and jan6.day_name == "Saturday"


# ------------------------------------------- bounded stage retries (r8)


def test_transient_stage_failure_retried_then_success_with_retry_count(
    spark, store, monkeypatch
):
    """r7 verdict item 4: a stage that fails once and then succeeds is
    retried within the DAG budget, and its OWN job_control SUCCESS row
    records retry_count=1 (the observable Airflow retries=2 contract,
    bronze_incremental_dag.py:70-77)."""
    raw, counts = _day(spark, 1)
    real = medallion.load_bronze
    calls = {"n": 0}

    def flaky(store_, batch_id, *a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected transient executor loss")
        return real(store_, batch_id, *a, **kw)

    monkeypatch.setattr(medallion, "load_bronze", flaky)
    r = medallion.run_incremental(store, raw)
    assert calls["n"] == 2
    assert r["bronze"]["merged"] > 0
    row = (
        store.read("job_control")
        .filter(
            (F.col("job_name") == "load_bronze")
            & (F.col("status") == "SUCCESS")
        )
        .orderBy(F.desc("completed_at"))
        .limit(1)
        .collect()[0]
    )
    assert row.retry_count == 1
    assert row.max_retries == medallion.DEFAULT_STAGE_RETRIES
    # downstream stages ran clean: their rows record retry_count=0
    fact_row = (
        store.read("job_control")
        .filter(F.col("job_name") == "load_fact")
        .collect()[0]
    )
    assert fact_row.retry_count == 0


def test_permanent_stage_failure_recorded_failed_after_max_retries(
    spark, store, monkeypatch
):
    """Exhausting the budget records a FAILED job_control row with
    retry_count == max_retries and the error message, then re-raises
    to the caller (the DAG marks the run failed)."""
    raw, _ = _day(spark, 1)
    calls = {"n": 0}

    def broken(store_, batch_id, *a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected permanent schema drift")

    monkeypatch.setattr(medallion, "load_bronze", broken)
    with pytest.raises(RuntimeError, match="permanent schema drift"):
        medallion.run_incremental(store, raw, max_retries=2)
    assert calls["n"] == 3  # first attempt + 2 retries
    row = (
        store.read("job_control")
        .filter(
            (F.col("job_name") == "load_bronze")
            & (F.col("status") == "FAILED")
        )
        .collect()[0]
    )
    assert row.retry_count == 2
    assert row.max_retries == 2
    assert "permanent schema drift" in row.error_message
    # the failure must NOT advance the bronze watermark
    assert medallion.read_watermark(store, "bronze") is None
    assert _watermark_mismatches(store) == {}


def test_failed_row_write_error_is_logged_and_stage_error_raised(
    store, monkeypatch, caplog
):
    """When the FAILED job_control row cannot be written after the
    retry budget is spent, the runner logs a warning naming the stage
    and the bookkeeping error, and still raises the stage's own
    exception."""
    import logging

    def stage():
        raise RuntimeError("injected stage failure")

    def bookkeeping(*a, **kw):
        raise OSError("injected job_control write failure")

    monkeypatch.setattr(medallion, "write_job_control", bookkeeping)
    with caplog.at_level(logging.WARNING, logger=medallion.__name__):
        with pytest.raises(RuntimeError, match="injected stage failure"):
            medallion.run_stage_with_retries(
                store, "load_bronze", "bronze", "BATCH_X", stage,
                max_retries=0,
            )
    assert any(
        "load_bronze" in r.getMessage()
        and "injected job_control write failure" in r.getMessage()
        for r in caplog.records
    ), [r.getMessage() for r in caplog.records]


def test_concurrent_job_control_writers_keep_the_latest_watermark(store):
    """Threads appending job_control rows at once (the gold tier does)
    commit in any order; every row lands, and the watermark stays the
    one the reference scan picks (latest completed_at, then batch_id),
    so a late committer with an earlier completed_at cannot move it
    back."""
    import sys
    import threading

    errors = []

    def writer(i):
        try:
            for j in range(4):
                medallion.write_job_control(
                    store, f"stage{i}", "gold", f"BATCH_{i}_{j}",
                    "incremental", "SUCCESS",
                    f"2024-01-{1 + (7 * i + j) % 28:02d} 00:00:00", j,
                )
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert store.count("job_control") == 32
    assert _watermark_mismatches(store) == {}


def test_bookkeeping_launches_no_spark_job(spark, store):
    """Job floor: a job_control append and a watermark read run on the
    driver alone — no Spark job in their job group."""
    import uuid

    medallion.write_job_control(
        store, "load_bronze", "bronze", "BATCH_0", "incremental", "SUCCESS",
        "2024-01-01 00:00:00", 1,
    )
    sc = spark.sparkContext
    group = f"bookkeeping-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        medallion.write_job_control(
            store, "load_bronze", "bronze", "BATCH_1", "incremental",
            "SUCCESS", "2024-01-02 03:04:05", 5,
        )
        wm = medallion.read_watermark(store, "bronze")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert wm == "2024-01-02 03:04:05"
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert store.count("job_control") == 2


def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    out = set()
    while it.hasNext():
        out.add(it.next()._1())
    return out


def test_run_incremental_releases_stage_checkpoints(spark, tmp_path):
    """The gold dimension tier runs its four stages concurrently and
    each checkpointing stage owns its checkpoints.  After
    run_incremental returns, no stage checkpoint blocks may remain
    pinned (a long-lived driver never GCs them); the run completing
    with correct outputs pins that no stage freed a sibling's blocks
    mid-run."""
    pre = _persistent_rdd_ids(spark)
    store = TableStore(spark, str(tmp_path / "wh_release"))
    raw = fixtures.generate_day_spark(spark, 1, 2_000)
    r = medallion.run_incremental(store, raw)
    assert r["fact"]["merged"] > 0
    leaked = _persistent_rdd_ids(spark) - pre
    assert leaked == set(), f"stage checkpoints leaked: {leaked}"


def test_concurrent_gold_tier_with_pruned_merges(
    spark, tmp_path, monkeypatch
):
    """With file pruning forced on, the SCD2 MERGEs
    take the pruned path, which checkpoints its source keys in its own
    scope, while the sibling gold stages run in other threads.  No
    pruned MERGE may free a sibling's in-flight blocks: three
    consecutive days run without a single stage retry, the dims and
    fact keep their invariants, and no checkpoint blocks are left
    behind."""
    import threading

    from delta_lake_gcp_implementation_spark.pipeline import storage as storage_mod

    pre = _persistent_rdd_ids(spark)
    store = TableStore(spark, str(tmp_path / "wh_pruned_tier"))
    store.prune_min_table_bytes = 0
    pruned_threads = set()
    inner = storage_mod.checkpoint

    def tracked(df):
        pruned_threads.add(threading.current_thread().name)
        return inner(df)

    monkeypatch.setattr(storage_mod, "checkpoint", tracked)
    n_fact = 0
    for day in (1, 2, 3):
        raw = fixtures.generate_day_spark(spark, day, 2_000)
        r = medallion.run_incremental(store, raw)
        assert all(v == 0 for v in r["fact"]["null_fk"].values()), r
        n_fact += r["fact"]["records_inserted"]
    # pruned MERGEs really checkpointed inside the concurrent tier
    assert pruned_threads - {threading.current_thread().name}

    jc = store.read("job_control")
    assert jc.filter(F.col("retry_count") != 0).count() == 0
    assert jc.filter(F.col("status") != "SUCCESS").count() == 0
    for dim, key, sk in (
        ("gold.dim_customer", "customer_id", "customer_key"),
        ("gold.dim_merchant", "merchant_id", "merchant_key"),
    ):
        d = store.read(dim)
        cur = d.filter(F.col("is_current") == True)  # noqa: E712
        assert cur.groupBy(key).count().filter(F.col("count") > 1).count() == 0
        assert d.select(sk).distinct().count() == d.count()
        closed = d.filter(F.col("is_current") == False)  # noqa: E712
        assert closed.filter(
            F.col("effective_end_date") == "9999-12-31"
        ).count() == 0
    # the merchant dim's same-day guard keeps every version well-formed
    assert store.read("gold.dim_merchant").filter(
        F.col("effective_end_date") < F.col("effective_start_date")
    ).count() == 0
    fact = store.read("gold.fact_transactions")
    assert fact.count() == n_fact
    assert fact.select("transaction_id").distinct().count() == fact.count()
    assert _watermark_mismatches(store) == {}
    leaked = _persistent_rdd_ids(spark) - pre
    assert leaked == set(), f"checkpoints leaked: {leaked}"


def _staging_aggregate(store) -> tuple:
    """load_bronze's watermark and row count as one aggregation over
    bronze staging: the stand-alone job the stage ran before it
    observed them on its own MERGE."""
    row = store.read("bronze.transactions_staging").agg(
        F.date_format(
            F.greatest(F.max("transaction_timestamp"), F.max("updated_at")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("wm"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return row.wm, row.n


@pytest.mark.parametrize("pruned", [False, True])
def test_load_bronze_observes_what_the_aggregation_computed(
    spark, store, pruned
):
    """On a day batch, load_bronze's watermark and ``merged`` (observed
    on the MERGE source) equal the aggregation over staging — on the
    table-creating first load and on a MERGE into an existing table,
    whether that MERGE takes the full path (which reads its source
    twice) or the file-pruned one."""
    if pruned:
        store.prune_min_table_bytes = 0
    for day, batch_id in ((1, "BATCH_D1"), (2, "BATCH_D2")):
        raw, _ = _day(spark, day)
        medallion.validate_bronze(
            store, raw, batch_id,
            watermark=medallion.read_watermark(store, "bronze"),
        )
        wm, n = _staging_aggregate(store)
        assert n > 0
        r = medallion.load_bronze(store, batch_id)
        assert (r["watermark"], r["merged"]) == (wm, n)
        assert medallion.read_watermark(store, "bronze") == wm


def test_load_bronze_replay_runs_no_spark_job(spark, store):
    """A replay leaves bronze staging empty: load_bronze then answers
    from the log alone — no MERGE, no aggregation, no Spark job in its
    job group — and records the NULL watermark."""
    import uuid

    raw, _ = _day(spark, 1)
    medallion.validate_bronze(store, raw, "BATCH_D1")
    medallion.load_bronze(store, "BATCH_D1")
    medallion.validate_bronze(
        store, raw, "BATCH_RP",
        watermark=medallion.read_watermark(store, "bronze"),
    )
    assert store.count("bronze.transactions_staging") == 0
    n_bronze = store.count("bronze.transactions")
    sc = spark.sparkContext
    group = f"load-bronze-replay-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        r = medallion.load_bronze(store, "BATCH_RP")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert r == {
        "merged": 0, "records_inserted": 0, "records_updated": 0,
        "watermark": None,
    }
    assert store.count("bronze.transactions") == n_bronze
