"""Streaming jobs over the events stream (SURVEY.md section 2.9).

Batch<->stream parity: each transformation here is the streaming twin
of a batch catalog query (``plans.relational.q_tumbling_window`` /
``q_session_window``), so results with trigger ``availableNow`` equal
the batch answers on the same input — the property the tests assert.

Scale notes: file source discovers new files per micro-batch and
checkpoints offsets (exactly-once source side); watermarks bound state
so windowed aggregations stream over unbounded input with finite
memory; ``foreachBatch`` + idempotent MERGE gives exactly-once-ish
sinks exactly like the reference's re-runnable batch MERGE
(``load_bronze.py:66-109``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as sqltypes

EVENT_SCHEMA = sqltypes.StructType(
    [
        sqltypes.StructField("event_id", sqltypes.LongType()),
        sqltypes.StructField("ts", sqltypes.TimestampType()),
        sqltypes.StructField("user_id", sqltypes.LongType()),
        sqltypes.StructField("event_type", sqltypes.StringType()),
        sqltypes.StructField("value", sqltypes.DoubleType()),
        sqltypes.StructField("props", sqltypes.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream: new parquet files under ``input_dir`` are
    discovered per micro-batch (the streaming analog of the reference's
    daily CSV drops, ``validate_bronze.py:20``)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def tumbling_counts(stream: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Streaming twin of ``q_tumbling_window``: 1-hour tumbling
    event-time windows with watermark-bounded state.  Late rows within
    ``lateness`` still update their window; beyond it state is evicted
    (the streaming contract for the reference's flag-and-process late
    handling, SURVEY.md section 2.9)."""
    return (
        stream.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes",
                   lateness: str = "1 hour") -> DataFrame:
    """Streaming twin of ``q_session_window``: per-user session windows
    (30-minute inactivity gap) — native ``session_window`` state merge."""
    return (
        stream.withWatermark("ts", lateness)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_events(stream: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Streaming intra-batch dedup (the W1 operator as a stream):
    ``dropDuplicatesWithinWatermark`` keeps the first arrival per
    event_id and evicts dedup state once the watermark passes — bounded
    memory over an unbounded stream, unlike plain ``dropDuplicates``
    whose state grows forever.  The streaming twin of
    ``dedup.keep_first_version`` (batch parity asserted in tests)."""
    return stream.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def click_purchase_join(
    stream: DataFrame, lateness: str = "2 hours", lookback_minutes: int = 60
) -> DataFrame:
    """Stream-stream interval join: each click joins the purchases by
    the same user in the preceding ``lookback_minutes`` (attribution
    join).  Both sides carry event-time watermarks and the join
    condition bounds ``p_ts`` to a finite range behind ``ts``, so Spark
    derives state eviction for BOTH sides — buffered state is capped at
    lookback + lateness of stream data per side, never unbounded.
    Without the time-range bound a stream-stream join must buffer one
    side forever; with it this runs indefinitely at constant memory.
    The batch twin is ``plans.relational.q_interval_join`` (parity
    asserted in tests)."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "value")
        .withWatermark("ts", lateness)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", lateness)
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") <= F.col("ts"))
        & (F.col("p_ts") >= F.col("ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
    )
    return clicks.join(purchases, cond, "inner").select(
        "event_id", "user_id", "ts", "p_event_id", "p_ts", "p_value"
    )


def enrich_with_users(stream: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the
    static user dimension (broadcast — dims are bounded; the static
    side is re-resolved per batch, so a dim refresh is picked up
    without restarting the query).  The streaming twin of the C9
    static-dim enrichment and the standard shape for attaching customer
    tier/segment to a clickstream.  Stateless: no watermark needed —
    stream-static joins buffer nothing."""
    dim = F.broadcast(
        user_dim.select(
            F.col("user_key").alias("u_key"),
            "user_tier",
        )
    )
    return stream.join(
        dim, stream["user_id"] == dim["u_key"], "left"
    ).select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.coalesce("user_tier", F.lit("UNKNOWN")).alias("user_tier"),
    )


def click_purchase_join_outer(
    stream: DataFrame, lateness: str = "2 hours", lookback_minutes: int = 60
) -> DataFrame:
    """LEFT OUTER stream-stream join: like ``click_purchase_join`` but
    unmatched clicks are EMITTED WITH NULLS once the watermark proves
    no matching purchase can still arrive — the attribution
    completeness case (every click accounted for, matched or not).
    Outer results are inherently watermark-delayed: a null row can only
    be produced when the join state for its time range expires."""
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts", "value")
        .withWatermark("ts", lateness)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", lateness)
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") <= F.col("ts"))
        & (F.col("p_ts") >= F.col("ts") - F.expr(f"INTERVAL {lookback_minutes} MINUTES"))
    )
    return clicks.join(purchases, cond, "left_outer").select(
        "event_id", "user_id", "ts", "p_event_id", "p_ts", "p_value"
    )


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append") -> None:
    """Drain all available input into an in-memory table (test sink)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_foreach_batch_upsert(
    stream_df: DataFrame,
    upsert_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Exactly-once-ish sink: per micro-batch, hand the batch DataFrame
    to an idempotent MERGE (``pipeline.storage.TableStore.upsert``).
    Checkpointed offsets + idempotent upsert = safe re-runs, the
    streaming form of the reference's re-runnable MERGE jobs."""
    q = (
        stream_df.writeStream.foreachBatch(upsert_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def running_user_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user event count + running max value — state the built-in aggs
    cannot express incrementally per update (emits one row per user per
    micro-batch).  Arrow-batched; state is per-group, partitioned by
    user over the cluster."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = sqltypes.StructType(
        [
            sqltypes.StructField("user_id", sqltypes.LongType()),
            sqltypes.StructField("n_events", sqltypes.LongType()),
            sqltypes.StructField("max_value", sqltypes.DoubleType()),
        ]
    )
    state_schema = sqltypes.StructType(
        [
            sqltypes.StructField("n", sqltypes.LongType()),
            sqltypes.StructField("mx", sqltypes.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_close_events(
    stream: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Stateful sessionization with EVENT-TIME TIMEOUT: a user's
    session accumulates events in group state and is EMITTED ONLY WHEN
    IT CLOSES — the watermark passes session-end + gap — unlike the
    built-in ``session_window`` agg, which cannot carry custom
    per-session state (first/last event ids here; funnels, carts, or
    attribution chains in production).  The batch twin is
    ``plans.relational.q_session_ids`` (parity asserted in tests).

    State per user is one open session (bounded); eviction is driven by
    ``GroupStateTimeout.EventTimeTimeout``, so memory is
    watermark-bounded over an unbounded stream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = sqltypes.StructType(
        [
            sqltypes.StructField("user_id", sqltypes.LongType()),
            sqltypes.StructField("session_start", sqltypes.TimestampType()),
            sqltypes.StructField("session_end", sqltypes.TimestampType()),
            sqltypes.StructField("n_events", sqltypes.LongType()),
            sqltypes.StructField("first_event_id", sqltypes.LongType()),
            sqltypes.StructField("last_event_id", sqltypes.LongType()),
        ]
    )
    state_schema = sqltypes.StructType(
        [
            sqltypes.StructField("start_us", sqltypes.LongType()),
            sqltypes.StructField("end_us", sqltypes.LongType()),
            sqltypes.StructField("n", sqltypes.LongType()),
            sqltypes.StructField("first_id", sqltypes.LongType()),
            sqltypes.StructField("last_id", sqltypes.LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def close(key, st):
        start_us, end_us, n, fid, lid = st
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(end_us, unit="us")],
                "n_events": [n],
                "first_event_id": [fid],
                "last_event_id": [lid],
            }
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            st = state.get
            state.remove()
            yield close(key, st)
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if not len(rows):
            return
        rows = rows.sort_values(["ts", "event_id"])
        us = rows["ts"].astype("int64") // 1000  # ns -> us
        st = state.get if state.exists else None
        for i in range(len(rows)):
            t = int(us.iloc[i])
            eid = int(rows["event_id"].iloc[i])
            if st is None:
                st = (t, t, 1, eid, eid)
            elif t - st[1] > gap_us:
                yield close(key, st)  # closed by a later in-stream event
                st = (t, t, 1, eid, eid)
            else:
                st = (st[0], max(st[1], t), st[2] + 1, st[3], eid)
        state.update(st)
        # close when the watermark passes session-end + gap
        state.setTimeoutTimestamp((st[1] + gap_us) // 1000)

    return (
        stream.withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_streaming_agg_maintenance(
    stream_df: DataFrame,
    store,
    agg_name: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
) -> None:
    """Streaming twin of ``maintenance.refresh_agg_incremental``: each
    micro-batch folds into the stored SUM/COUNT rollup — a continuously
    maintained materialized view (the Delta Live Tables streaming-table
    shape).  The fold is O(batch + touched keys), so the maintained
    view never rescans its history.

    Replay safety: an ADDITIVE fold is not idempotent, so checkpointed
    offsets alone (at-least-once into foreachBatch) are not enough.
    The fold commits with ``txn=(app_id, batch_id)`` — Delta's
    ``txnAppId/txnVersion`` idempotent-write contract: the transaction
    marker is recorded in the SAME commit as the folded data (see
    ``TableStore._publish``), so there is no crash point at which the
    fold applied but the marker was lost, and a replayed
    batch_id is skipped exactly once-semantics — the window the earlier
    marker-TABLE design left open between its two separate writes.
    Caveat (same as Delta's): batch_ids are monotonic per CHECKPOINT;
    wiping the checkpoint while keeping the table resets them to 0 and
    the txn guard will then skip the replayed prefix — start a fresh
    ``agg_name`` (or table) with a fresh checkpoint.  Batch/stream
    parity and replay-skip are asserted in ``test_streaming.py``."""
    from ..pipeline import maintenance

    app_id = f"stream::{agg_name}"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        last = store.last_txn_version(agg_name, app_id)
        if last is not None and int(batch_id) <= last:
            return  # replayed batch: already folded atomically
        maintenance.refresh_agg_incremental(
            store, agg_name, batch_df, keys, sum_cols,
            txn=(app_id, int(batch_id)),
        )

    q = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
