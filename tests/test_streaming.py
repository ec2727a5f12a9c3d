"""Streaming tests: batch<->stream parity with availableNow, stream
upsert idempotency, custom stateful operator."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.streaming import jobs
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore
from delta_lake_gcp_implementation_spark.tables import load_table


@pytest.fixture(scope="module")
def event_dir(spark, sf_dir, tmp_path_factory):
    """Split sf0.001 events into multiple parquet files (arrival batches)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(out)
    return out


def _batch_events(spark, event_dir):
    return spark.read.schema(jobs.EVENT_SCHEMA).parquet(event_dir)


def test_tumbling_stream_matches_batch(spark, event_dir):
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(jobs.tumbling_counts(stream), "tumbling_out",
                       output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("tumbling_out").collect()
    }
    batch = _batch_events(spark, event_dir)
    expect = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "sum_value")
        ).collect()
    }
    assert got == expect


def test_session_stream_matches_batch(spark, event_dir):
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(jobs.session_counts(stream), "session_out",
                       output_mode="complete")
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.table("session_out").collect()
    }
    batch = _batch_events(spark, event_dir)
    expect = {
        (r.user_id, r.session_start): r.n_events
        for r in (
            batch.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"), "n_events")
        ).collect()
    }
    assert got == expect


def test_foreach_batch_upsert_idempotent(spark, event_dir, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    def upsert(batch_df, batch_id):
        store.upsert("stream.events", batch_df, ["event_id"])

    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_foreach_batch_upsert(stream, upsert, ckpt)
    n1 = store.count("stream.events")
    assert n1 == _batch_events(spark, event_dir).count()
    # re-run with same checkpoint: offsets committed -> no reprocessing
    stream2 = jobs.read_event_stream(spark, event_dir)
    jobs.run_foreach_batch_upsert(stream2, upsert, ckpt)
    assert store.count("stream.events") == n1


def test_bronze_stream_matches_batch_pipeline(spark, tmp_path):
    from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion
    from delta_lake_gcp_implementation_spark.streaming import medallion_stream

    drops = str(tmp_path / "drops")
    day1 = fixtures.generate_day(1).df(spark)
    day2 = fixtures.generate_day(2).df(spark)
    day1.write.mode("append").parquet(drops)
    day2.write.mode("append").parquet(drops)

    # streaming pipeline
    s_store = TableStore(spark, str(tmp_path / "wh_stream"))
    ckpt = str(tmp_path / "ckpt")
    medallion_stream.run_bronze_stream(spark, s_store, drops, ckpt)
    n_stream = s_store.count("bronze.transactions")
    assert n_stream > 0

    # re-run: checkpoint prevents reprocessing; MERGE keeps idempotency
    medallion_stream.run_bronze_stream(spark, s_store, drops, ckpt)
    assert s_store.count("bronze.transactions") == n_stream

    # same data through the batch pipeline gives the same bronze keys
    # (micro-batch boundaries may differ from day boundaries, so
    # watermark slicing can differ only for rows the batch path ALSO
    # keeps; compare distinct composite keys)
    b_store = TableStore(spark, str(tmp_path / "wh_batch"))
    for raw in (day1, day2):
        bid = medallion.new_batch_id()
        wm = medallion.read_watermark(b_store, "bronze")
        medallion.validate_bronze(b_store, raw, bid, watermark=wm)
        medallion.load_bronze(b_store, bid)
    batch_keys = {
        (r.transaction_id, r.updated_at)
        for r in b_store.read("bronze.transactions")
        .select("transaction_id", "updated_at").collect()
    }
    stream_keys = {
        (r.transaction_id, r.updated_at)
        for r in s_store.read("bronze.transactions")
        .select("transaction_id", "updated_at").collect()
    }
    assert stream_keys == batch_keys


def test_running_user_counts_stateful(spark, event_dir):
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(jobs.running_user_counts(stream), "running_out",
                       output_mode="update")
    out = spark.table("running_out")
    # last emitted row per user must equal the batch totals
    batch = (
        _batch_events(spark, event_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.max("value").alias("max_value"))
    )
    expect = {r.user_id: (r.n_events, r.max_value) for r in batch.collect()}
    # memory sink appends one row per user per micro-batch; the final
    # state is the max n_events row per user
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        out.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    )
    got = {r.user_id: (r.n_events, r.max_value) for r in final}
    assert got == expect


def test_stream_dedup_matches_batch(spark, event_dir, tmp_path):
    """dropDuplicatesWithinWatermark over duplicated input equals the
    batch W1 dedup (same distinct id set, one row per id)."""
    from delta_lake_gcp_implementation_spark.operators import dedup

    # duplicate every event across two files to force cross-batch dups
    dup_dir = str(tmp_path / "dups")
    ev = _batch_events(spark, event_dir)
    ev.write.mode("overwrite").parquet(dup_dir)
    ev.write.mode("append").parquet(dup_dir)

    stream = jobs.read_event_stream(spark, dup_dir)
    jobs.run_to_memory(jobs.dedup_events(stream), "dedup_out")
    got = spark.table("dedup_out")
    assert got.count() == got.select("event_id").distinct().count()

    batch = dedup.keep_first_version(
        spark.read.schema(jobs.EVENT_SCHEMA).parquet(dup_dir), ["event_id"]
    )
    assert got.count() == batch.count()
    assert (
        got.select("event_id").exceptAll(batch.select("event_id")).count() == 0
    )


def test_stream_stream_interval_join_matches_batch(spark, event_dir):
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(
        jobs.click_purchase_join(stream), "interval_join_out"
    )
    got = {
        (r.event_id, r.p_event_id)
        for r in spark.table("interval_join_out").collect()
    }
    ev = _batch_events(spark, event_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") <= F.col("ts"))
        & (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 60 MINUTES"))
    )
    expect = {
        (r.event_id, r.p_event_id)
        for r in clicks.join(purchases, cond, "inner").collect()
    }
    assert got == expect and len(got) > 0


def test_streaming_agg_maintenance_matches_batch(spark, event_dir, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_mv_stream"))
    stream = jobs.read_event_stream(spark, event_dir).select(
        "user_id", (F.round(F.col("value") * 100, 0).cast("bigint")).alias("vc")
    )
    ckpt = str(tmp_path / "ckpt_mv")
    jobs.run_streaming_agg_maintenance(
        stream, store, "gold.user_totals", ["user_id"], ["vc"], ckpt
    )
    got = {
        r.user_id: (r.vc, r.n_rows)
        for r in store.read("gold.user_totals").collect()
    }
    batch = _batch_events(spark, event_dir).select(
        "user_id", (F.round(F.col("value") * 100, 0).cast("bigint")).alias("vc")
    )
    want = {
        r.user_id: (r.vc, r.n)
        for r in batch.groupBy("user_id")
        .agg(F.sum("vc").alias("vc"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # restart the SAME stream over the SAME checkpoint: no new input ->
    # no re-fold, totals unchanged (offset + marker replay safety)
    jobs.run_streaming_agg_maintenance(
        jobs.read_event_stream(spark, event_dir).select(
            "user_id",
            (F.round(F.col("value") * 100, 0).cast("bigint")).alias("vc"),
        ),
        store, "gold.user_totals", ["user_id"], ["vc"], ckpt,
    )
    again = {
        r.user_id: (r.vc, r.n_rows)
        for r in store.read("gold.user_totals").collect()
    }
    assert again == want


def test_streaming_agg_maintenance_txn_skips_replayed_batch(spark, event_dir, tmp_path):
    store = TableStore(spark, str(tmp_path / "wh_mv_replay"))
    stream = jobs.read_event_stream(spark, event_dir).select(
        "user_id", F.lit(1).cast("bigint").alias("one")
    )
    jobs.run_streaming_agg_maintenance(
        stream, store, "gold.t", ["user_id"], ["one"], str(tmp_path / "ck1")
    )
    before = {
        r.user_id: r.one for r in store.read("gold.t").collect()
    }
    # the fold recorded its batch_id as a txn in the SAME commit as the
    # data (Delta SetTransaction semantics)
    assert store.last_txn_version("gold.t", "stream::gold.t") == 0
    # a FRESH checkpoint replays batch_id 0 over the same store: the
    # txn guard must turn the re-fold into a no-op (this is the
    # at-least-once window the txnAppId/txnVersion contract closes)
    jobs.run_streaming_agg_maintenance(
        jobs.read_event_stream(spark, event_dir).select(
            "user_id", F.lit(1).cast("bigint").alias("one")
        ),
        store, "gold.t", ["user_id"], ["one"], str(tmp_path / "ck2"),
    )
    after = {r.user_id: r.one for r in store.read("gold.t").collect()}
    assert after == before, "replayed batch_id must not double-fold"


def test_streaming_agg_maintenance_txn_survives_lost_manifest(
    spark, event_dir, tmp_path, monkeypatch
):
    """The crash window the marker-TABLE design left open: the fold is
    committed but the stream dies before recording it.  Crash the fold
    after its commit claim and before its apply: the stream fails with
    its offsets uncommitted, the restart re-delivers the batch, and
    the txn marker — in the same commit as the folded data — must
    skip it, so the totals equal one clean fold."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    def stream():
        return jobs.read_event_stream(spark, event_dir).select(
            "user_id", F.lit(1).cast("bigint").alias("one")
        )

    clean = TableStore(spark, str(tmp_path / "wh_mv_clean"))
    jobs.run_streaming_agg_maintenance(
        stream(), clean, "gold.t", ["user_id"], ["one"], str(tmp_path / "ck0")
    )
    want = {r.user_id: r.one for r in clean.read("gold.t").collect()}

    store = TableStore(spark, str(tmp_path / "wh_mv_crash"))

    def crash(src, dst):
        raise OSError("injected crash in the apply")

    monkeypatch.setattr(S.os, "rename", crash)
    with pytest.raises(Exception):
        jobs.run_streaming_agg_maintenance(
            stream(), store, "gold.t", ["user_id"], ["one"], str(tmp_path / "ck1")
        )
    monkeypatch.undo()
    assert store.last_txn_version("gold.t", "stream::gold.t") == 0
    jobs.run_streaming_agg_maintenance(
        stream(), store, "gold.t", ["user_id"], ["one"], str(tmp_path / "ck1")
    )
    after = {r.user_id: r.one for r in store.read("gold.t").collect()}
    assert after == want, "the committed marker must block the double-fold"
    assert store.versions("gold.t")[-1]["txn"] == {
        "app_id": "stream::gold.t", "version": 0,
    }


def test_stream_static_enrichment_matches_batch(spark, event_dir):
    """Stream-static broadcast join parity: availableNow over the same
    files equals the batch join; unmatched users fall back to UNKNOWN."""
    dim = spark.createDataFrame(
        [(i, "gold" if i % 3 == 0 else "basic") for i in range(0, 900, 2)],
        ["user_key", "user_tier"],
    )
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(jobs.enrich_with_users(stream, dim), "enrich_test")
    batch = jobs.enrich_with_users(_batch_events(spark, event_dir), dim)
    got = {tuple(r) for r in spark.table("enrich_test").collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and got
    assert any(r[-1] == "UNKNOWN" for r in got)  # left-join fallback hit


def test_session_close_events_matches_batch_sessionization(spark, event_dir):
    """Stateful timeout sessionization drained with availableNow equals
    the batch gaps-and-islands sessionization (q_session_ids) on the
    same files: same session count per user, same per-session sizes."""
    from pyspark.sql import Window

    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(
        jobs.session_close_events(stream), "sess_close", output_mode="append"
    )
    got = spark.table("sess_close").collect()
    # batch gaps-and-islands twin on the same files
    ev = _batch_events(spark, event_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 30 * 60)
    ).cast("bigint")
    batch = (
        ev.select("user_id", "ts", "event_id", is_new.alias("is_new"))
        .withColumn(
            "session_idx",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    want = sorted((r.user_id, r.n) for r in batch)
    have = sorted((r.user_id, r.n_events) for r in got)
    # sessions still open at end-of-input never time out (stream never
    # ends in availableNow beyond the final watermark) — every CLOSED
    # session must match a batch session exactly, and closed sessions
    # must be the large majority
    assert len(have) >= 0.7 * len(want)
    want_multi = [w for w in want]
    for h in have:
        assert h in want_multi
        want_multi.remove(h)
    # session invariants
    for r in got:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1


def test_stream_stream_outer_join_emits_unmatched_clicks(spark, event_dir):
    """LEFT OUTER stream-stream join: matched pairs equal the inner
    join; every unmatched click is emitted exactly once with nulls."""
    stream = jobs.read_event_stream(spark, event_dir)
    jobs.run_to_memory(
        jobs.click_purchase_join_outer(stream), "outer_join_out"
    )
    rows = spark.table("outer_join_out").collect()
    matched = {(r.event_id, r.p_event_id) for r in rows if r.p_event_id is not None}
    unmatched = [r for r in rows if r.p_event_id is None]

    ev = _batch_events(spark, event_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("p_ts"),
    )
    cond = (
        (clicks["user_id"] == purchases["p_user_id"])
        & (purchases["p_ts"] <= clicks["ts"])
        & (purchases["p_ts"] >= clicks["ts"] - F.expr("INTERVAL 60 MINUTES"))
    )
    batch = clicks.join(purchases, cond, "left_outer")
    want_matched = {
        (r.event_id, r.p_event_id)
        for r in batch.collect() if r.p_event_id is not None
    }
    want_unmatched = {
        r.event_id for r in batch.collect() if r.p_event_id is None
    }
    assert matched == want_matched
    # outer emission happens only after the watermark passes; with
    # availableNow the final watermark covers all but the stream tail
    got_unmatched = {r.event_id for r in unmatched}
    assert got_unmatched <= want_unmatched
    assert len(got_unmatched) >= 0.6 * len(want_unmatched)
    # no click is double-reported as both matched and unmatched-null
    assert not (got_unmatched & {e for e, _ in matched})


def test_bronze_stream_crash_resume_exactly_once(spark, tmp_path, monkeypatch):
    """Failure injection (r6 verdict item 6): kill the stream mid-batch
    AFTER the bronze upsert but BEFORE the job_control append, restart
    from the checkpoint, and assert exactly-once OBSERVABLE state: the
    uncommitted micro-batch replays, the idempotent MERGE absorbs the
    partial write, job_control records each micro-batch exactly once,
    and the final bronze keys equal the batch pipeline's."""
    import pyspark.errors as pe

    from delta_lake_gcp_implementation_spark.pipeline import fixtures, medallion
    from delta_lake_gcp_implementation_spark.streaming import medallion_stream

    drops = str(tmp_path / "drops")
    day1 = fixtures.generate_day(1).df(spark)
    day2 = fixtures.generate_day(2).df(spark)
    day1.coalesce(1).write.mode("append").parquet(drops)
    day2.coalesce(1).write.mode("append").parquet(drops)

    store = TableStore(spark, str(tmp_path / "wh_crash"))
    ckpt = str(tmp_path / "ckpt_crash")

    real_wjc = medallion.write_job_control
    crashed = {"done": False}

    def crashing_wjc(store_, job_name, *a, **kw):
        if job_name == "load_bronze" and not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after upsert, before job_control")
        return real_wjc(store_, job_name, *a, **kw)

    monkeypatch.setattr(medallion, "write_job_control", crashing_wjc)
    with pytest.raises((pe.StreamingQueryException, RuntimeError)):
        medallion_stream.run_bronze_stream(
            spark, store, drops, ckpt, max_files_per_trigger=1
        )
    monkeypatch.setattr(medallion, "write_job_control", real_wjc)

    # the crash window is real: the upsert landed, the control row did
    # not (the job_control table may not even exist yet)
    assert store.count("bronze.transactions") > 0
    jc_after_crash = (
        store.read("job_control").filter("job_name = 'load_bronze'").count()
        if store.exists("job_control")
        else 0
    )
    assert jc_after_crash == 0

    # restart from the checkpoint: the uncommitted micro-batch replays,
    # then the remaining files drain
    medallion_stream.run_bronze_stream(
        spark, store, drops, ckpt, max_files_per_trigger=1
    )

    # exactly-once job_control: one row per STREAM batch id, no dupes
    jc = (
        store.read("job_control")
        .filter("job_name = 'load_bronze'")
        .select("batch_id")
        .collect()
    )
    ids = [r.batch_id for r in jc]
    assert len(ids) == len(set(ids)) and len(ids) >= 2
    assert all(i.startswith("STREAM_BATCH_") for i in ids)

    # observable bronze state matches the batch pipeline on the same data
    b_store = TableStore(spark, str(tmp_path / "wh_batch_ref"))
    for raw in (day1, day2):
        bid = medallion.new_batch_id()
        wm = medallion.read_watermark(b_store, "bronze")
        medallion.validate_bronze(b_store, raw, bid, watermark=wm)
        medallion.load_bronze(b_store, bid)
    batch_keys = {
        (r.transaction_id, r.updated_at)
        for r in b_store.read("bronze.transactions")
        .select("transaction_id", "updated_at").collect()
    }
    stream_keys = {
        (r.transaction_id, r.updated_at)
        for r in store.read("bronze.transactions")
        .select("transaction_id", "updated_at").collect()
    }
    assert stream_keys == batch_keys

    # a third run is a no-op end to end (checkpoint + idempotent MERGE)
    n = store.count("bronze.transactions")
    jc_n = store.read("job_control").filter("job_name = 'load_bronze'").count()
    medallion_stream.run_bronze_stream(
        spark, store, drops, ckpt, max_files_per_trigger=1
    )
    assert store.count("bronze.transactions") == n
    assert (
        store.read("job_control").filter("job_name = 'load_bronze'").count()
        == jc_n
    )
