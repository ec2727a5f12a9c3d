"""SparkSession factory.

The reference creates one session per job with Delta extensions
(``validate_bronze.py:5-10``).  Our engine centralizes session creation
and tunes for scale-out from the start:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- UTC session timezone (deterministic timestamp semantics vs the oracle)
- Arrow execution for any pandas interchange (vectorized, not row-by-row)
- shuffle partitions sized from the env (local[32] for tests; on a real
  cluster set ``spark.sql.shuffle.partitions`` ~2-3x total cores or rely
  on AQE coalescing, which is enabled here)

Delta Lake extensions are attached only when the ``delta-spark`` package
is importable; all upsert/delete operators in ``operators.upsert`` work
against plain parquet tables through a join-rewrite fallback with the
same observable semantics (SURVEY.md section 4 note (a)).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "delta-lake-gcp-implementation-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local test default is ``local[$SPARK_GRAFT_CPUS]``, or one slot per
    CPU when that is unset; on a cluster pass
    ``master=None`` with a pre-set spark-submit master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # deterministic double aggregation ordering is NOT guaranteed by
        # Spark; query catalog rounds reordered float reductions instead.
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long and convert (tables.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    if _delta_available():
        builder = builder.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
