"""Medallion pipeline stages — the reference's composite algorithms
C1-C10 (SURVEY.md section 2.11) as composable PySpark functions over a
:class:`~..pipeline.storage.TableStore`.

Stage map (reference citations in each function):

- C1  validate_bronze   — 3-tier validation split + late-arrival flag + W1 dedup
- C2  load_bronze       — composite-key MERGE + GREATEST watermark + job_control
- C3  backfill_bronze   — date-range slice, MERGE, watermark NOT advanced
- C4  full_refresh_bronze — no filter, INSERT OVERWRITE, watermark reset
- C5  validate/load_silver — W2 CDC collapse + single-key MERGE
- C6  gdpr_delete       — Bronze soft delete + Silver hard delete
- C7  scd2_dim_customer / scd2_dim_merchant — SCD Type 2, one MERGE commit per run
- C8  build_fact        — star join + derived measures + null-FK audit
- C9  static_dims       — DISTINCT + surrogate keys + enrichment
- C10 build_dim_date    — native sequence() date spine

The in-process :func:`run_incremental` replaces Airflow: stages run in
dependency order against one SparkSession.  Bronze, Silver and the fact
hand off through staging tables like the reference (the staging table
IS the IR, ``docs/Gold_Layer_Developer_Guide.md:59-83``), and each
staging write observes its stage's watermark and audit counts.  The
SCD2 dims need no staging table: each run's closed and new versions
are one checkpointed frame, merged into the dim in one commit.

Scale notes: every stage is a declarative DataFrame plan — filters
reach the parquet scan, dims broadcast in the fact join, dedup windows
hash-partition on their keys.  The only single-partition window is the
dense surrogate-key assignment, kept for reference parity on *dims
only* (dims are small by construction; see
``operators.windows.scalable_keys`` for the 100 TB alternative).
"""

from __future__ import annotations

import contextvars
import functools
import json
import logging
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..checkpoints import checkpoint, owned_checkpoints
from ..operators import dedup as dedup_ops
from .storage import TableStore

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------- shared helpers

RAW_COLS = [
    "transaction_id", "customer_id", "transaction_timestamp", "merchant_id",
    "merchant_name", "product_category", "product_name", "amount",
    "fee_amount", "cashback_amount", "loyalty_points", "payment_method",
    "transaction_status", "device_type", "location_type", "currency",
    "updated_at",
]

SILVER_COLS = RAW_COLS + [
    "delta_change_type", "delta_version", "is_deleted", "deleted_at",
]

BRONZE_COLS = SILVER_COLS + [
    "is_late_arrival", "arrival_delay_hours", "data_quality_flag",
    "validation_errors",
]


def new_batch_id() -> str:
    """Batch provenance id (reference: ``shared/generate_batch_id.py``)."""
    return f"BATCH_{uuid.uuid4().hex[:12]}"


def read_watermark(store: TableStore, layer: str) -> str | None:
    """O1 watermark read: latest successful run's bookmark, i.e. the
    reference's ``ORDER BY completed_at DESC LIMIT 1`` over the
    layer's SUCCESS rows with a bookmark (``read_watermark.py:29-35``),
    answered from ``job_control``'s snapshot instead of a scan:
    :func:`write_job_control` offers every such row's
    ``[completed_at, batch_id, watermark]`` as the layer's mark, and
    the snapshot keeps the largest — the scan's own order, so gold-tier
    threads committing out of ``completed_at`` order cannot move it
    backwards.  Contract: ``job_control`` is append-only, through
    :func:`write_job_control`."""
    head = store.snapshot("job_control")
    mark = head["marks"].get(f"watermark/{layer}") if head else None
    return mark[2] if mark else None


# 23-column job_control contract (``docs/SCHEMA_REGISTRY.md:53-81``) —
# the observability half (records_* split, timings, retries, error
# capture, provenance) powers the RUNBOOK monitoring queries
# (``bronze/README.md:365-405``).
JOB_CONTROL_SCHEMA = T.StructType([
    T.StructField("job_name", T.StringType()),
    T.StructField("layer", T.StringType()),
    T.StructField("batch_id", T.StringType()),
    T.StructField("run_mode", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("processing_date", T.DateType()),
    T.StructField("start_date", T.DateType()),
    T.StructField("end_date", T.DateType()),
    T.StructField("last_processed_timestamp", T.TimestampType()),
    T.StructField("last_processed_batch_id", T.StringType()),
    T.StructField("records_read", T.LongType()),
    T.StructField("records_written", T.LongType()),
    T.StructField("records_failed", T.LongType()),
    T.StructField("records_quarantined", T.LongType()),
    T.StructField("started_at", T.TimestampType()),
    T.StructField("completed_at", T.TimestampType()),
    T.StructField("duration_seconds", T.LongType()),
    T.StructField("retry_count", T.LongType()),
    T.StructField("max_retries", T.LongType()),
    T.StructField("error_message", T.StringType()),
    T.StructField("triggered_by", T.StringType()),
    T.StructField("dataproc_cluster", T.StringType()),
    T.StructField("spark_app_id", T.StringType()),
])


#: Default stage retry budget — the reference DAG's ``retries=2``
#: (``bronze_incremental_dag.py:70-77``).
DEFAULT_STAGE_RETRIES = 2

#: job_control is the one table every stage appends to; with the gold
#: dimension tier running stages concurrently (run_incremental), two
#: optimistic claims on it would race (``ConcurrentWriteError``), so
#: its appends are serialized.
_JOB_CONTROL_LOCK = threading.Lock()

#: Ambient (retry_count, max_retries) for the CURRENTLY running stage,
#: set by :func:`run_stage_with_retries` so the stage's own
#: ``write_job_control`` call records the attempt number without
#: threading a parameter through every stage signature.
_STAGE_RETRY: contextvars.ContextVar[tuple[int, int]] = (
    # default derives from DEFAULT_STAGE_RETRIES so job_control rows
    # written OUTSIDE run_stage_with_retries (streaming foreachBatch,
    # direct stage calls) advertise the same budget the runner
    # enforces, instead of a drifting literal
    contextvars.ContextVar(
        "stage_retry", default=(0, DEFAULT_STAGE_RETRIES)
    )
)


# Toggle for embedders whose stdout is itself a machine contract
# (bench.py must print exactly one JSON line).
RESULT_JSON_ENABLED = True


def emit_result(job_name: str, payload: dict) -> None:
    """Machine-scrapable job contract line for external orchestrators
    (every reference job prints one, ``validate_bronze.py:192-199``)."""
    if RESULT_JSON_ENABLED:
        print(
            f"RESULT_JSON:{json.dumps({'job_name': job_name, **payload}, default=str)}"
        )


def write_job_control(
    store: TableStore,
    job_name: str,
    layer: str,
    batch_id: str,
    run_mode: str,
    status: str,
    watermark: str | None,
    records_written: int,
    *,
    records_read: int | None = None,
    records_failed: int = 0,
    records_quarantined: int = 0,
    started_at: datetime | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    error_message: str | None = None,
    retry_count: int | None = None,
    max_retries: int | None = None,
    triggered_by: str = "pipeline",
) -> None:
    """S12 metadata append (``shared/write_watermark.py:39-65``) —
    full 23-column contract (``docs/SCHEMA_REGISTRY.md:53-81``).

    ``retry_count``/``max_retries`` default to the ambient stage-retry
    context set by :func:`run_stage_with_retries`, so a stage's own
    SUCCESS row records how many attempts it actually took — the
    observable half of the reference's Airflow ``retries=2`` contract
    (``bronze_incremental_dag.py:70-77``)."""
    if retry_count is None:
        retry_count = _STAGE_RETRY.get()[0]
    if max_retries is None:
        max_retries = _STAGE_RETRY.get()[1]
    now = datetime.utcnow()
    wm_ts = (
        datetime.strptime(watermark, "%Y-%m-%d %H:%M:%S")
        if watermark is not None
        else None
    )
    row = (
        job_name, layer, batch_id, run_mode, status,
        now.date(),
        date.fromisoformat(start_date) if start_date else None,
        date.fromisoformat(end_date) if end_date else None,
        wm_ts,
        None,  # last_processed_batch_id: previous batch, filled by orchestrator
        records_read if records_read is not None else records_written,
        records_written,
        records_failed,
        records_quarantined,
        started_at or now,
        now,
        int((now - started_at).total_seconds()) if started_at else 0,
        retry_count,
        max_retries,
        error_message,
        triggered_by,
        "local",  # dataproc_cluster analog: execution environment name
        store.spark.sparkContext.applicationId,
    )
    mark = None
    if status == "SUCCESS" and watermark is not None:
        # the snapshot keeps the largest [completed_at, batch_id, wm]
        # per layer — read_watermark's answer (see its docstring)
        mark = (
            f"watermark/{layer}",
            [
                now.isoformat(timespec="microseconds"), batch_id,
                wm_ts.strftime("%Y-%m-%d %H:%M:%S"),
            ],
        )
    with _JOB_CONTROL_LOCK:
        store.append_rows("job_control", [row], JOB_CONTROL_SCHEMA, mark=mark)


def typed_cast(raw: DataFrame) -> DataFrame:
    """S2 typed projection: cast the 17 raw columns; timestamps parsed
    by SUBSTRING truncation (``validate_bronze.py:26-43``).  try_cast
    throughout: malformed values become NULL and route through Tier-1
    quarantine (non-ANSI Spark 3.3 semantics the reference relies on),
    instead of failing the scan under Spark 4's ANSI default."""
    return raw.select(
        F.col("transaction_id").try_cast("string"),
        F.col("customer_id").try_cast("string"),
        F.try_to_timestamp(F.substring("transaction_timestamp", 1, 19)).alias(
            "transaction_timestamp"
        ),
        F.col("merchant_id").try_cast("string"),
        F.col("merchant_name").try_cast("string"),
        F.col("product_category").try_cast("string"),
        F.col("product_name").try_cast("string"),
        F.col("amount").try_cast("double"),
        F.col("fee_amount").try_cast("double"),
        F.col("cashback_amount").try_cast("double"),
        F.col("loyalty_points").try_cast("bigint").alias("loyalty_points"),
        F.col("payment_method").try_cast("string"),
        F.col("transaction_status").try_cast("string"),
        F.col("device_type").try_cast("string"),
        F.col("location_type").try_cast("string"),
        F.col("currency").try_cast("string"),
        F.try_to_timestamp(F.substring("updated_at", 1, 19)).alias("updated_at"),
    )


# ---------------------------------------------------------------- C1: validation split


def _tier1_pred(cutoff):
    """P4 quarantine predicate (``validate_bronze.py:100-104``).

    ``cutoff`` is ONE fixed literal timestamp captured per batch — a
    live ``current_timestamp()`` would be re-evaluated in each of the
    three actions validate_bronze runs (quarantine append, quarantine
    count, staging write), letting a row timestamped between
    evaluation instants land in BOTH quarantine and staging."""
    return (
        F.col("transaction_id").isNull()
        | F.col("transaction_id").like("% %")
        | F.col("amount").isNull()
        | F.col("transaction_timestamp").isNull()
        | (F.col("transaction_timestamp") > cutoff)
    )


def _batch_cutoff():
    """Fixed now() literal for one batch's validation boundary."""
    return F.lit(datetime.utcnow().strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")


def _watermark(*cols: str):
    """A stage's bookmark as an aggregate ``wm`` for ``observe`` on the
    write that lands its rows: the GREATEST of ``cols``' maxima (A7,
    ``load_bronze.py:113-116``), formatted as job_control stores it."""
    maxes = [F.max(c) for c in cols]
    latest = F.greatest(*maxes) if len(maxes) > 1 else maxes[0]
    return F.date_format(latest, "yyyy-MM-dd HH:mm:ss").alias("wm")


def _scoped_checkpoints(fn):
    """Free a stage's localCheckpoint blocks when it exits: the SCD2
    changes / validation-slice checkpoints are consumed entirely inside
    their stage, and a long-lived driver never GCs them in time.  The
    stage owns only the checkpoints it made, so the gold-tier stages
    running side by side cannot free each other's (``checkpoints``)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with owned_checkpoints():
            return fn(*args, **kwargs)

    return wrapper


@_scoped_checkpoints
def validate_bronze(
    store: TableStore,
    raw: DataFrame,
    batch_id: str,
    watermark: str | None = None,
    filter_slice: bool = True,
) -> dict[str, int]:
    """C1 three-tier validation split (``validate_bronze.py:65-181``):
    Tier-1 -> quarantine with CASE error_reason; survivors get Tier-2
    quality flags + Tier-3 COALESCE fixes + late-arrival flag + W1
    dedup, landing in bronze staging.

    ``filter_slice=False`` keeps the watermark for late-arrival
    FLAGGING only: the reference's P1 filter exists because its batch
    source re-reads every file, but an offset-tracked stream source
    already delivers each file exactly once — re-filtering there would
    wrongly drop rows of a day split across micro-batches."""
    typed = typed_cast(raw)

    if watermark is not None and filter_slice:
        w = F.lit(watermark).cast("timestamp")
        # P1: new events OR late-arriving updates (``validate_bronze.py:44``)
        typed = typed.filter(
            (F.col("transaction_timestamp") > w) | (F.col("updated_at") > w)
        )
    # materialize the typed slice ONCE: both the quarantine append and
    # the staging write consume it, and the try_to_timestamp cast chain
    # is the most expensive per-row work in the stage — recomputing it
    # per sink doubles the validation scan (the 100 TB version of this
    # is a persisted staging table; localCheckpoint is the local twin)
    typed = typed.transform(checkpoint)

    cutoff = _batch_cutoff()
    t1 = _tier1_pred(cutoff)
    # 24-column quarantine contract (``docs/SCHEMA_REGISTRY.md:85-114``):
    # raw columns + CDC markers + error triage + provenance incl.
    # source_file attribution (empty for non-file sources).
    quarantine = typed.filter(t1).select(
        *RAW_COLS,
        F.lit("QUARANTINE").alias("delta_change_type"),
        F.lit(1).cast("bigint").alias("delta_version"),
        F.when(F.col("transaction_id").isNull(), "NULL_TRANSACTION_ID")
        .when(F.col("transaction_id").like("% %"), "INVALID_TRANSACTION_ID_FORMAT")
        .when(F.col("amount").isNull(), "NULL_AMOUNT")
        .when(F.col("transaction_timestamp").isNull(), "NULL_TIMESTAMP")
        .otherwise("FUTURE_TIMESTAMP")
        .alias("error_reason"),
        F.lit("TIER_1").alias("error_tier"),
        F.current_timestamp().alias("quarantined_at"),
        F.nullif(F.input_file_name(), F.lit("")).alias("source_file"),
        F.lit(batch_id).alias("processing_batch_id"),
    )
    # count what was WRITTEN: the append observes its own row count
    # during the write action — no re-scan, no second validation pass
    n_quarantined = store.append("bronze.quarantine", quarantine)

    kept = typed.filter(~t1).select(
        "transaction_id",
        "customer_id",
        "transaction_timestamp",
        "merchant_id",
        "merchant_name",
        "product_category",
        # Tier-3 COALESCE fixes (``validate_bronze.py:122-132``)
        F.coalesce("product_name", F.lit("NOT_AVAILABLE")).alias("product_name"),
        "amount",
        "fee_amount",
        "cashback_amount",
        "loyalty_points",
        "payment_method",
        "transaction_status",
        F.coalesce("device_type", F.lit("UNKNOWN")).alias("device_type"),
        F.coalesce("location_type", F.lit("UNKNOWN")).alias("location_type"),
        "currency",
        "updated_at",
    )

    # Tier-2 flags (``validate_bronze.py:149-160``)
    neg = F.col("amount") < 0
    unk = F.col("merchant_id").like("MERCH_9%")
    bad_status = ~F.col("transaction_status").isin(
        ["Successful", "Pending", "Failed"]
    )
    kept = kept.withColumn(
        "data_quality_flag",
        F.when(neg | unk | bad_status, "FAILED_VALIDATION").otherwise("PASSED"),
    ).withColumn(
        "validation_errors",
        F.concat_ws(
            ";",
            F.when(neg, "NEGATIVE_AMOUNT"),
            F.when(unk, "UNKNOWN_MERCHANT"),
            F.when(bad_status, "INVALID_STATUS"),
        ),
    )

    # late arrivals: flag-and-process, never drop (``validate_bronze.py:139-148``)
    if watermark is not None:
        w = F.lit(watermark).cast("timestamp")
        is_late = (F.col("transaction_timestamp") < w) & (F.col("updated_at") > w)
    else:
        is_late = F.lit(False)
    kept = kept.withColumn("is_late_arrival", is_late).withColumn(
        "arrival_delay_hours",
        F.when(
            is_late,
            (
                (F.unix_timestamp("updated_at")
                 - F.unix_timestamp("transaction_timestamp")) / 3600
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )

    # tracking columns
    kept = (
        kept.withColumn("delta_change_type", F.lit("INSERT"))
        .withColumn("delta_version", F.lit(1).cast("bigint"))
        .withColumn("is_deleted", F.lit(False))
        .withColumn("deleted_at", F.lit(None).cast("timestamp"))
    )

    # W1 intra-batch dedup on the MERGE key (``validate_bronze.py:161``)
    deduped = dedup_ops.keep_first_version(
        kept, ["transaction_id", "updated_at"]
    ).select(*BRONZE_COLS)

    n_staged = store.overwrite("bronze.transactions_staging", deduped)
    return {"quarantined": n_quarantined, "staged": n_staged}


# ---------------------------------------------------------------- C2: incremental load


def load_bronze(store: TableStore, batch_id: str, run_mode: str = "incremental") -> dict:
    """C2 load step: composite-key MERGE (S7, ``load_bronze.py:66-109``)
    + GREATEST watermark (A7, ``:113-116``) + job_control append with
    the inserted/updated split derived from before/after counts
    (``load_silver.py:75-151``)."""
    started = datetime.utcnow()
    # the staged and before/after row counts are O(1) head reads and
    # the watermark is observed on the MERGE's own source: the stage
    # runs no Spark job besides the MERGE
    n = store.count("bronze.transactions_staging")
    n_before = store.count("bronze.transactions")
    n_after, wm = n_before, None
    # empty staging (idempotent re-run, no new data) skips the MERGE
    # entirely: the string merge key defeats file pruning, so an empty
    # merge would otherwise take the full path and rewrite the WHOLE
    # table for nothing — at production scale that is a full-table
    # rewrite per no-op rerun (guide §6).  The observation is read only
    # when the MERGE ran: ``get`` waits for an action that ran it.
    if n:
        observed = Observation()
        staged = store.read("bronze.transactions_staging").observe(
            observed, _watermark("transaction_timestamp", "updated_at")
        )
        n_after = store.upsert(
            "bronze.transactions", staged, ["transaction_id", "updated_at"]
        )
        wm = observed.get["wm"]
    inserted = n_after - n_before
    write_job_control(
        store, "load_bronze", "bronze", batch_id, run_mode, "SUCCESS",
        wm, n, records_read=n, started_at=started,
    )
    result = {
        "merged": n,
        "records_inserted": inserted,
        "records_updated": n - inserted,
        "watermark": wm,
    }
    emit_result("load_bronze", result)
    return result


# ---------------------------------------------------------------- C3 / C4


@_scoped_checkpoints
def backfill_bronze(
    store: TableStore, raw: DataFrame, start_date: str, end_date: str,
    batch_id: str,
) -> dict:
    """C3 backfill (``bronze_backfill.py:26-236``): date-range filter
    replaces the watermark; MERGE tagged BACKFILL; watermark NOT
    advanced (job_control row carries NULL bookmark)."""
    started = datetime.utcnow()
    typed = typed_cast(raw).filter(
        F.to_date("transaction_timestamp").between(start_date, end_date)
    )
    t1 = _tier1_pred(_batch_cutoff())
    kept = typed.filter(~t1)
    kept = (
        kept.withColumn("data_quality_flag", F.lit("PASSED"))
        .withColumn("validation_errors", F.lit(""))
        .withColumn("is_late_arrival", F.lit(False))
        .withColumn("arrival_delay_hours", F.lit(0))
        .withColumn("delta_change_type", F.lit("BACKFILL"))
        .withColumn("delta_version", F.lit(1).cast("bigint"))
        .withColumn("is_deleted", F.lit(False))
        .withColumn("deleted_at", F.lit(None).cast("timestamp"))
    )
    # materialize once (the validate+dedup plan is the expensive part of
    # a backfill); the count rides that checkpoint's action
    counted = Observation()
    deduped = (
        dedup_ops.keep_first_version(kept, ["transaction_id", "updated_at"])
        .select(*BRONZE_COLS)
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )
    n = counted.get["n"]
    if n:  # empty date slice: skip the MERGE (see load_bronze)
        store.upsert(
            "bronze.transactions", deduped, ["transaction_id", "updated_at"]
        )
    write_job_control(
        store, "backfill_bronze", "bronze", batch_id, "backfill", "SUCCESS",
        None, n,  # watermark intentionally NULL (``bronze_backfill.py:210-236``)
        started_at=started, start_date=start_date, end_date=end_date,
    )
    result = {"merged": n, "start_date": start_date, "end_date": end_date}
    emit_result("backfill_bronze", result)
    return result


def _require_confirmation(job: str, confirm: str) -> None:
    """Destructive-op gate: the reference parks full refreshes behind a
    typed ``{"confirm_full_refresh": "YES"}`` DAG param
    (``silver/dags/silver_full_refresh_dag.py:27-58``)."""
    if confirm != "YES":
        raise ValueError(
            f"{job} overwrites the whole table; pass confirm='YES' to proceed"
        )


def full_refresh_bronze(
    store: TableStore, raw: DataFrame, batch_id: str, confirm: str = ""
) -> dict:
    """C4 full refresh (``bronze_full_refresh.py:24-244``): no filter,
    INSERT OVERWRITE, watermark reset to data max."""
    _require_confirmation("full_refresh_bronze", confirm)
    started = datetime.utcnow()
    counts = validate_bronze(store, raw, batch_id, watermark=None)
    observed = Observation()
    store.overwrite(
        "bronze.transactions",
        store.read("bronze.transactions_staging").observe(
            observed, _watermark("transaction_timestamp", "updated_at")
        ),
    )
    wm = observed.get["wm"]
    write_job_control(
        store, "full_refresh_bronze", "bronze", batch_id, "full_refresh",
        "SUCCESS", wm, counts["staged"],
        records_quarantined=counts["quarantined"], started_at=started,
    )
    result = {"written": counts["staged"], "watermark": wm}
    emit_result("full_refresh_bronze", result)
    return result


def full_refresh_silver(
    store: TableStore, batch_id: str, confirm: str = ""
) -> dict:
    """C4 Silver full refresh (``silver_full_refresh.py:29-136``): no
    watermark — collapse ALL of Bronze to current state, INSERT
    OVERWRITE, watermark reset to data max."""
    _require_confirmation("full_refresh_silver", confirm)
    started = datetime.utcnow()
    bronze = store.read("bronze.transactions")
    live = bronze.filter(
        (F.col("is_deleted") == False) | F.col("is_deleted").isNull()  # noqa: E712
    )
    latest = dedup_ops.keep_latest(
        live, ["transaction_id"], "updated_at", [F.col("transaction_id")]
    ).select(*SILVER_COLS)
    observed = Observation()
    n = store.overwrite(
        "silver.transactions",
        latest.observe(observed, _watermark("updated_at")),
    )
    wm = observed.get["wm"]
    write_job_control(
        store, "full_refresh_silver", "silver", batch_id, "full_refresh",
        "SUCCESS", wm, n, started_at=started,
    )
    result = {"written": n, "watermark": wm}
    emit_result("full_refresh_silver", result)
    return result


# 30-column fact contract (``docs/SCHEMA_REGISTRY.md:155-189``).
FACT_COLS = [
    "customer_key", "merchant_key", "payment_method_key", "status_key",
    "date_key", "transaction_id", "product_category", "product_name",
    "device_type", "amount", "fee_amount", "cashback_amount",
    "loyalty_points", "net_customer_amount", "merchant_net_amount",
    "gateway_revenue", "transaction_timestamp", "currency", "is_refunded",
    "refund_amount", "refund_date", "attempt_number", "loaded_at",
    "source_system", "created_at", "updated_at", "delta_change_type",
    "delta_version", "is_deleted", "deleted_at",
]

FACT_FK_COLS = [
    "customer_key", "merchant_key", "payment_method_key", "status_key",
    "date_key",
]


def _fact_frame(
    store: TableStore, silver: DataFrame, unknown_member: bool = False
) -> DataFrame:
    """J1 five-way star join + derived measures + refund placeholders
    (``validate_fact_transactions.py:152-224``): every dim broadcast,
    SCD2 dims joined on their current version only.

    ``unknown_member=True`` applies the documented -1 fallback for
    unresolvable FKs (``docs/VALIDATION_RULES.md:167-182``) instead of
    leaving NULL."""
    dim_c = store.read("gold.dim_customer").filter(F.col("is_current") == True)  # noqa: E712
    dim_m = store.read("gold.dim_merchant").filter(F.col("is_current") == True)  # noqa: E712
    dim_pm = store.read("gold.dim_payment_method")
    dim_st = store.read("gold.dim_status")
    dim_dt = store.read("gold.dim_date")

    key = (
        (lambda c: F.coalesce(F.col(c), F.lit(-1).cast("bigint")).alias(c))
        if unknown_member
        else (lambda c: F.col(c))
    )
    return (
        silver.join(
            F.broadcast(dim_c.select("customer_key", "customer_id")),
            "customer_id", "left",
        )
        .join(
            F.broadcast(dim_m.select("merchant_key", "merchant_id")),
            "merchant_id", "left",
        )
        .join(F.broadcast(dim_pm.select("payment_method_key", "payment_method")),
              "payment_method", "left")
        .join(F.broadcast(dim_st.select("status_key", "transaction_status")),
              "transaction_status", "left")
        .join(
            F.broadcast(dim_dt.select("date_key", "full_date")),
            F.to_date("transaction_timestamp") == F.col("full_date"),
            "left",
        )
        .select(
            *[key(c) for c in FACT_FK_COLS],
            "transaction_id",
            # degenerate dimensions stay in the fact
            "product_category", "product_name", "device_type",
            # measures
            "amount", "fee_amount", "cashback_amount", "loyalty_points",
            # derived measures (``validate_fact_transactions.py:178-180``)
            (F.col("amount") - F.col("fee_amount") + F.col("cashback_amount"))
            .alias("net_customer_amount"),
            (F.col("amount") - F.col("cashback_amount")).alias("merchant_net_amount"),
            F.col("fee_amount").alias("gateway_revenue"),
            "transaction_timestamp", "currency",
            # refund placeholders — no refund data in source
            # (``validate_fact_transactions.py:195-199``)
            F.lit(False).alias("is_refunded"),
            F.lit(None).cast("double").alias("refund_amount"),
            F.lit(None).cast("date").alias("refund_date"),
            F.lit(1).cast("bigint").alias("attempt_number"),
            # audit columns
            F.current_timestamp().alias("loaded_at"),
            F.lit("payment_gateway").alias("source_system"),
            F.col("transaction_timestamp").alias("created_at"),
            "updated_at", "delta_change_type", "delta_version",
            "is_deleted", "deleted_at",
        )
    )


def full_refresh_fact(
    store: TableStore, batch_id: str, confirm: str = "",
    unknown_member: bool = False,
) -> dict:
    """C4 fact full refresh (``fact_full_refresh.py:26-262``): rebuild
    the whole star from Silver (no watermark slice), INSERT OVERWRITE,
    watermark reset."""
    _require_confirmation("full_refresh_fact", confirm)
    started = datetime.utcnow()
    silver = store.read("silver.transactions").filter(
        ~F.col("merchant_id").like("MERCH_9%")
    )
    observed = Observation()
    n = store.overwrite(
        "gold.fact_transactions",
        _fact_frame(store, silver, unknown_member).observe(
            observed, _watermark("updated_at")
        ),
    )
    wm = observed.get["wm"]
    write_job_control(
        store, "full_refresh_fact", "gold", batch_id, "full_refresh",
        "SUCCESS", wm, n, started_at=started,
    )
    result = {"written": n, "watermark": wm}
    emit_result("full_refresh_fact", result)
    return result


# ---------------------------------------------------------------- C5: silver CDC collapse


def run_silver(store: TableStore, batch_id: str) -> dict:
    """C5 Bronze-history -> Silver-current-state collapse
    (``validate_silver.py:107-155`` + ``load_silver.py:75-151``):
    slice Bronze past the Silver watermark, W2 keep-latest per
    transaction_id, drop quality-tracking columns, soft-delete filter,
    single-key MERGE."""
    started = datetime.utcnow()
    wm = read_watermark(store, "silver")
    bronze = store.read("bronze.transactions")
    if wm is not None:
        bronze = bronze.filter(
            F.col("updated_at") > F.lit(wm).cast("timestamp")
        )
    # P5 NULL-tolerant soft-delete filter (``validate_silver.py:77``)
    live = bronze.filter(
        (F.col("is_deleted") == False) | F.col("is_deleted").isNull()  # noqa: E712
    )
    latest = dedup_ops.keep_latest(
        live, ["transaction_id"], "updated_at", [F.col("transaction_id")]
    ).select(*SILVER_COLS)
    # the staging write observes its own watermark; its row count and
    # before/after are O(1) meta reads — no extra job
    observed = Observation()
    n = store.overwrite(
        "silver.transactions_staging",
        latest.observe(observed, _watermark("updated_at")),
    )
    staged = store.read("silver.transactions_staging")
    n_before = store.count("silver.transactions")
    # no new rows -> skip the MERGE (string key defeats file pruning;
    # an empty merge would full-rewrite the table — see load_bronze)
    inserted = (
        0
        if n == 0
        else store.upsert("silver.transactions", staged, ["transaction_id"])
        - n_before
    )
    new_wm = observed.get["wm"] if n > 0 else wm
    write_job_control(
        store, "load_silver", "silver", batch_id, "incremental", "SUCCESS",
        new_wm, n, records_read=n, started_at=started,
    )
    result = {
        "merged": n,
        "records_inserted": inserted,
        "records_updated": n - inserted,
        "watermark": new_wm,
    }
    emit_result("load_silver", result)
    return result


# ---------------------------------------------------------------- C6: GDPR dual delete


def gdpr_delete(store: TableStore, customer_id: str, batch_id: str) -> dict:
    """C6 GDPR dual delete (``bronze_mark_deleted_by_customer.py:49-185``
    + ``silver_propagate_deletes.py:39-213``): soft-delete in Bronze
    (S10 UPDATE), hard-delete in Silver (J4 discovery + S9 MERGE
    DELETE), audit row both sides."""
    target = (F.col("customer_id") == customer_id) & (
        (F.col("is_deleted") == False) | F.col("is_deleted").isNull()  # noqa: E712
    )
    # matched/deleted counts are observed inside the mutation writes —
    # the pre-count scan of bronze and the semi-join count of silver
    # (both full-table passes at scale) are gone
    n_bronze = store.update_where(
        "bronze.transactions",
        target,
        {
            "is_deleted": F.lit(True),
            "deleted_at": F.current_timestamp(),
            "delta_change_type": F.lit("DELETE"),
        },
    )
    # J4/J5: silver rows whose ids are now deleted in bronze
    deleted_ids = (
        store.read("bronze.transactions")
        .filter((F.col("customer_id") == customer_id) & (F.col("is_deleted") == True))  # noqa: E712
        .select("transaction_id")
        .distinct()
    )
    n_silver = store.delete_matched(
        "silver.transactions", deleted_ids, ["transaction_id"]
    )
    write_job_control(
        store, "gdpr_delete", "silver", batch_id, "gdpr", "SUCCESS", None,
        n_bronze + n_silver,
    )
    result = {"bronze_soft_deleted": n_bronze, "silver_hard_deleted": n_silver}
    emit_result("gdpr_delete", result)
    return result


# ---------------------------------------------------------------- C7: SCD2 dim maintenance


@_scoped_checkpoints
def _scd2_merge(
    store: TableStore, batch_id: str, job_name: str, dim_name: str,
    key: str, member: str, tracked: str, rollup: DataFrame, dim_cols,
    replace_same_day: bool,
) -> dict:
    """One SCD Type 2 run of ``dim_name`` as ONE MERGE commit, the shape
    of Delta's SCD2 MERGE.  ``rollup`` has one row per ``member``;
    ``dim_cols(df, key_col)`` projects it to the dim contract as a new
    current version.  The first build keys every member densely.  After
    that, ONE left join of the rollup with the current versions yields
    the ``changes`` frame:

    - a new version for each new member and each member whose
      ``tracked`` attribute changed (J3 + J2), keyed ``max_key +
      row_number()`` over ``member`` (A8 seed + W3);
    - the closed version of each changed member: its own key,
      ``is_current=false``, end date today − 1;
    - with ``replace_same_day``, a change to a version opened today
      replaces that version in place under its key instead (no closed
      row with end < start, and fact rows keep their dim row).

    The frame is materialized once and that action observes the
    inserted/closed counts; ``upsert`` on the surrogate key then
    replaces the closed versions and adds the new ones in one commit,
    and is skipped when nothing changed."""
    if not store.exists(dim_name):
        n_inserted = store.overwrite(dim_name, dim_cols(
            rollup,
            F.row_number().over(Window.orderBy(member)).cast("bigint").alias(key),
        ))
        n_closed = 0
    else:
        dim = store.read(dim_name)
        max_key = dim.agg(
            F.coalesce(F.max(key), F.lit(0)).alias("mk")
        ).collect()[0].mk
        j = rollup.alias("a").join(
            dim.filter(F.col("is_current") == True).alias("d"),  # noqa: E712
            F.col(f"a.{member}") == F.col(f"d.{member}"),
            "left",
        )
        # a new member (no current version) is not a change
        changed = F.coalesce(
            F.col(f"a.{tracked}") != F.col(f"d.{tracked}"), F.lit(False)
        )
        in_place = (
            changed & (F.col("d.effective_start_date") >= F.current_date())
            if replace_same_day else F.lit(False)
        )
        versions = j.filter(F.col(f"d.{key}").isNull() | changed).select(
            "a.*",
            in_place.alias("__in_place"),
            F.col(f"d.{key}").alias("__key"),
        )
        # in-place rows sort last, so the new keys stay dense
        new_key = F.row_number().over(
            Window.orderBy("__in_place", member)
        ) + F.lit(max_key)
        closed = j.filter(changed & ~in_place).select("d.*").withColumns({
            "is_current": F.lit(False),
            "effective_end_date": F.date_sub(F.current_date(), 1),
        })
        counts = Observation()
        changes = (
            dim_cols(
                versions,
                F.when(F.col("__in_place"), F.col("__key"))
                .otherwise(new_key).cast("bigint").alias(key),
            )
            .unionByName(closed)
            .observe(
                counts,
                F.count(F.when(F.col("is_current"), 1)).alias("inserted"),
                F.count(F.when(~F.col("is_current"), 1)).alias("closed"),
            )
            .transform(checkpoint)
        )
        n_inserted, n_closed = counts.get["inserted"], counts.get["closed"]
        if n_inserted or n_closed:
            store.upsert(dim_name, changes, [key])
    write_job_control(
        store, job_name, "gold", batch_id, "incremental", "SUCCESS", None,
        n_inserted,
    )
    result = {"inserted": n_inserted, "closed": n_closed}
    emit_result(job_name, result)
    return result


def _scd2_audit_cols() -> list:
    """Audit and validity columns of a new current dim version."""
    return [
        F.current_timestamp().alias("loaded_at"),
        F.lit("payment_gateway").alias("source_system"),
        F.current_date().alias("effective_start_date"),
        F.lit("9999-12-31").cast("date").alias("effective_end_date"),
        F.lit(True).alias("is_current"),
    ]


def scd2_dim_customer(store: TableStore, batch_id: str) -> dict:
    """C7 SCD Type 2 on customer tier (``gold_dim_customer_scd2.py:26-240``):
    A2 rollup, then :func:`_scd2_merge`.  No same-day guard: the
    reference customer job closes a version opened today too.

    Dense surrogate keys use a global window — reference parity for
    *small dims only* (SURVEY.md section 4)."""
    agg = store.read("silver.transactions").groupBy("customer_id").agg(
        F.count("*").alias("transaction_count"),
        F.min("transaction_timestamp").alias("first_transaction_date"),
        F.max("transaction_timestamp").alias("last_transaction_date"),
        F.sum("amount").alias("lifetime_value"),
        F.max(
            F.when(F.col("transaction_status") == "Successful", True).otherwise(False)
        ).alias("is_active"),
    ).withColumn(
        "customer_tier",
        F.when(F.col("transaction_count") >= 15, "Platinum")
        .when(F.col("transaction_count") >= 10, "Gold")
        .when(F.col("transaction_count") >= 5, "Silver")
        .otherwise("Bronze"),
    )

    def dim_cols(df, key_col):
        """12-column dim_customer contract
        (``docs/SCHEMA_REGISTRY.md:197-214``)."""
        return df.select(
            key_col,
            "customer_id", "customer_tier",
            "is_active",
            F.col("first_transaction_date").cast("date").alias(
                "first_transaction_date"
            ),
            F.col("last_transaction_date").cast("date").alias(
                "last_transaction_date"
            ),
            F.col("lifetime_value").cast("double").alias("lifetime_value"),
            *_scd2_audit_cols(),
        )

    return _scd2_merge(
        store, batch_id, "scd2_dim_customer", "gold.dim_customer",
        "customer_key", "customer_id", "customer_tier", agg, dim_cols,
        replace_same_day=False,
    )


def scd2_dim_merchant(store: TableStore, batch_id: str) -> dict:
    """C7 SCD Type 2 on merchant name (``gold_dim_merchant_scd2.py:26-261``):
    like the customer dim, plus two merchant-specific behaviors:
    (a) W4 best-record pre-dedup — one aggregate row per merchant_id,
    latest-transaction-date then highest-count wins (``:59-82``);
    (b) the same-day churn guard — only versions with
    ``effective_start_date < CURRENT_DATE`` are closed (``:211``); a
    version opened today is replaced in place under its key.  The
    customer job deliberately lacks the guard (SURVEY.md section 7
    risk 5)."""
    silver = store.read("silver.transactions").filter(
        ~F.col("merchant_id").like("MERCH_9%")
    )
    # category = most common product_category, name = latest, per the
    # reference's aggregate + best-record pick (``:55-82``)
    agg = silver.groupBy(
        "merchant_id", "merchant_name",
        F.col("product_category").alias("category"), "location_type",
    ).agg(
        F.countDistinct("transaction_id").alias("transaction_count"),
        F.max("transaction_timestamp").alias("last_transaction_date"),
    )
    # W4 best-record pick: one row per merchant
    best = (
        agg.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("merchant_id").orderBy(
                    F.desc("last_transaction_date"),
                    F.desc("transaction_count"),
                    F.col("merchant_name"),
                    F.col("category"),
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    def dim_cols(df, key_col):
        """10-column dim_merchant contract
        (``docs/SCHEMA_REGISTRY.md:224-239``)."""
        return df.select(
            key_col,
            "merchant_id", "merchant_name", "category", "location_type",
            *_scd2_audit_cols(),
        )

    return _scd2_merge(
        store, batch_id, "scd2_dim_merchant", "gold.dim_merchant",
        "merchant_key", "merchant_id", "merchant_name", best, dim_cols,
        replace_same_day=True,
    )


# ---------------------------------------------------------------- C9/C10: static + date dims


def build_static_dims(store: TableStore) -> None:
    """C9 static dim enrichment (``gold_dim_payment_methods.py:37-76``,
    ``gold_dim_status.py:37-79``): DISTINCT -> W3 keys -> CASE
    descriptions."""
    silver = store.read("silver.transactions")
    w = Window.orderBy("payment_method")
    # 5-column contract: key, method, description, loaded_at,
    # source_system (``gold_dim_payment_methods.py:38-75``)
    pm = (
        silver.select("payment_method")
        .filter(F.col("payment_method").isNotNull())
        .distinct()
        .select(
            F.row_number().over(w).cast("bigint").alias("payment_method_key"),
            "payment_method",
            F.when(F.col("payment_method") == "UPI", "Unified Payments Interface")
            .when(F.col("payment_method") == "Credit Card", "Credit Card Payment")
            .when(F.col("payment_method") == "Debit Card", "Debit Card Payment")
            .when(F.col("payment_method") == "Wallet Balance", "Digital Wallet Payment")
            .when(F.col("payment_method") == "Bank Transfer", "Direct Bank Transfer")
            .otherwise("Other Payment Method")
            .alias("description"),
            F.current_timestamp().alias("loaded_at"),
            F.lit("payment_gateway").alias("source_system"),
        )
    )
    store.overwrite("gold.dim_payment_method", pm)

    ws = Window.orderBy("transaction_status")
    # 6-column contract: key, status, category, is_successful,
    # loaded_at, source_system (``gold_dim_status.py:38-78``)
    st = (
        silver.select("transaction_status")
        .filter(F.col("transaction_status").isNotNull())
        .distinct()
        .select(
            F.row_number().over(ws).cast("bigint").alias("status_key"),
            "transaction_status",
            F.when(F.col("transaction_status") == "Successful", "COMPLETED")
            .when(F.col("transaction_status") == "Pending", "IN_PROGRESS")
            .when(F.col("transaction_status") == "Failed", "FAILED")
            .otherwise("UNKNOWN")
            .alias("status_category"),
            (F.col("transaction_status") == "Successful").alias("is_successful"),
            F.current_timestamp().alias("loaded_at"),
            F.lit("payment_gateway").alias("source_system"),
        )
    )
    store.overwrite("gold.dim_status", st)


def build_dim_date(store: TableStore, start: str = "2023-01-01",
                   end: str = "2028-12-31") -> None:
    """C10 date dimension (``gold_dim_date.py:35-87``) with the Python
    date-spine loop replaced by native ``sequence()`` — one expression,
    no driver loop."""
    spine = store.spark.sql(
        f"""SELECT explode(sequence(to_date('{start}'), to_date('{end}'))) AS full_date"""
    )
    dim = spine.select(
        F.date_format("full_date", "yyyyMMdd").cast("bigint").alias("date_key"),
        "full_date",
        F.year("full_date").alias("year"),
        F.quarter("full_date").alias("quarter"),
        F.month("full_date").alias("month"),
        F.date_format("full_date", "MMMM").alias("month_name"),
        F.dayofmonth("full_date").alias("day_of_month"),
        F.dayofweek("full_date").alias("day_of_week"),
        F.date_format("full_date", "EEEE").alias("day_name"),
        F.dayofyear("full_date").alias("day_of_year"),
        F.dayofweek("full_date").isin([1, 7]).alias("is_weekend"),
    )
    store.overwrite("gold.dim_date", dim)


# ---------------------------------------------------------------- C8: fact build


def build_fact(
    store: TableStore, batch_id: str, unknown_member: bool = False
) -> dict:
    """C8 star-schema fact build (``validate_fact_transactions.py:26-333``
    + ``load_fact_transactions.py:26-241``): watermark slice -> 5-dim
    LEFT join (customer/merchant/payment/status/date, all broadcast) ->
    derived measures + refund placeholders -> 5-key null-FK audit ->
    single-key MERGE."""
    started = datetime.utcnow()
    wm = read_watermark(store, "gold")
    silver = store.read("silver.transactions")
    if wm is not None:
        silver = silver.filter(F.col("updated_at") > F.lit(wm).cast("timestamp"))
    # P6 test-merchant exclusion (``validate_fact_transactions.py:81``)
    silver = silver.filter(~F.col("merchant_id").like("MERCH_9%"))

    # A4 null-FK audit over all 5 keys
    # (``validate_fact_transactions.py:233-241``) + watermark, observed
    # by the staging write itself — no aggregation job of its own
    observed = Observation()
    fact = _fact_frame(store, silver, unknown_member).observe(
        observed,
        *[
            F.sum(F.when(F.col(k).isNull(), 1).otherwise(0)).alias(f"null_{k}")
            for k in FACT_FK_COLS
        ],
        _watermark("updated_at"),
    )
    n = store.overwrite("gold.fact_transactions_staging", fact)
    staged = store.read("gold.fact_transactions_staging")
    audit = observed.get

    n_before = store.count("gold.fact_transactions")
    # no new rows -> skip the MERGE (string key defeats file pruning;
    # an empty merge would full-rewrite the table — see load_bronze)
    inserted = (
        0
        if n == 0
        else store.upsert("gold.fact_transactions", staged, ["transaction_id"])
        - n_before
    )
    new_wm = audit["wm"] if n > 0 else wm
    write_job_control(
        store, "load_fact", "gold", batch_id, "incremental", "SUCCESS",
        new_wm, n, records_read=n, started_at=started,
    )
    result = {
        "merged": n,
        "records_inserted": inserted,
        "records_updated": n - inserted,
        "null_fk": {f"null_{k}": audit[f"null_{k}"] for k in FACT_FK_COLS},
        "watermark": new_wm,
    }
    emit_result("load_fact", result)
    return result


# ---------------------------------------------------------------- runner


def run_stage_with_retries(
    store: TableStore,
    job_name: str,
    layer: str,
    batch_id: str,
    fn,
    max_retries: int = DEFAULT_STAGE_RETRIES,
):
    """Bounded stage retry — the runner half of the job_control
    ``retry_count``/``max_retries`` contract (the reference keeps this
    in Airflow DAG config, ``bronze_incremental_dag.py:70-77``
    ``retries=2``; the in-process runner consumes the same budget).

    A transient failure re-invokes the stage wholesale, exactly like
    an Airflow task retry: keyed MERGE writes are idempotent on rerun
    (the idempotency suite), while pre-crash appends (quarantine)
    follow the reference's at-least-once semantics.  On success the
    stage's own job_control row carries the attempt number via the
    ambient context; after exhausting the budget the runner records
    the FAILED row (the crashed stage never wrote one) and re-raises.
    """
    attempt = 0
    while True:
        token = _STAGE_RETRY.set((attempt, max_retries))
        try:
            return fn()
        except Exception as exc:
            if attempt >= max_retries:
                # a storage-rooted stage failure can make this append
                # fail the same way; that secondary error is logged but
                # must not mask the stage's own exception (the one the
                # caller needs)
                try:
                    write_job_control(
                        store, job_name, layer, batch_id, "incremental",
                        "FAILED", None, 0,
                        error_message=f"{type(exc).__name__}: {exc}",
                        retry_count=attempt, max_retries=max_retries,
                    )
                    emit_result(
                        job_name,
                        {"status": "FAILED", "retry_count": attempt,
                         "max_retries": max_retries},
                    )
                except Exception as bookkeeping_exc:
                    _log.warning(
                        "stage %s failed and its FAILED job_control row "
                        "could not be written: %r", job_name,
                        bookkeeping_exc,
                    )
                raise
            attempt += 1
        finally:
            _STAGE_RETRY.reset(token)


def run_incremental(
    store: TableStore,
    raw: DataFrame,
    max_retries: int = DEFAULT_STAGE_RETRIES,
) -> dict:
    """In-process replacement for the Airflow DAG cascade
    (Bronze 02:00 -> Silver 03:00 -> dims 04:00 -> fact 05:00,
    SURVEY.md section 3): stage functions in dependency order, staging
    tables as the IR between them.  Each stage runs under the DAG's
    bounded retry budget (:func:`run_stage_with_retries`)."""
    batch_id = new_batch_id()
    wm = read_watermark(store, "bronze")
    r: dict = {"batch_id": batch_id}

    def stage(job_name: str, layer: str, fn):
        return run_stage_with_retries(
            store, job_name, layer, batch_id, fn, max_retries=max_retries
        )

    r["validate"] = stage(
        "validate_bronze", "bronze",
        lambda: validate_bronze(store, raw, batch_id, watermark=wm),
    )
    r["bronze"] = stage(
        "load_bronze", "bronze", lambda: load_bronze(store, batch_id)
    )
    r["silver"] = stage(
        "load_silver", "silver", lambda: run_silver(store, batch_id)
    )
    # the four gold dimension stages are mutually independent (each
    # reads silver / writes its own dim table) — in the reference DAG
    # they share the 04:00 tier, i.e. Airflow would run them
    # concurrently too.  Overlapping them from driver threads (guide
    # §2.6) back-fills each stage's straggler tail with the next
    # stage's tasks; the only shared-table write (job_control) is
    # serialized inside write_job_control.  Stage retries stay
    # per-thread (the retry contextvar is thread-local state set by
    # the runner in the same thread that runs the stage).
    dim_stages = [
        ("scd2", "scd2_dim_customer",
         lambda: scd2_dim_customer(store, batch_id)),
        ("scd2_merchant", "scd2_dim_merchant",
         lambda: scd2_dim_merchant(store, batch_id)),
        (None, "static_dims", lambda: build_static_dims(store)),
    ]
    if not store.exists("gold.dim_date"):
        dim_stages.append(
            (None, "dim_date",
             lambda: build_dim_date(store, "2024-01-01", "2024-12-31"))
        )
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            (key, pool.submit(stage, job_name, "gold", fn))
            for key, job_name, fn in dim_stages
        ]
        for key, f in futs:
            out = f.result()
            if key is not None:
                r[key] = out
    r["fact"] = stage(
        "load_fact", "gold", lambda: build_fact(store, batch_id)
    )
    return r
