"""Parquet table store whose commit log is the table (Delta Lake,
VLDB 2020): ``db.table`` maps to ``<root>/<db>__<t>/``, the live dir,
which holds exactly the head snapshot's data files;
``<db>__<t>.__stage__<hex>/`` holds one write's output until it is
applied; ``<db>__<t>.__log__/NNNNNNNN.json`` is one commit — a complete
snapshot (every file with its rows, bytes and key min/max, the schema,
the txn map) plus that commit's add/remove lists; and
``<db>__<t>.__v__/<relpath>`` keeps the files some commit removed, for
time travel until ``vacuum``.  Every write goes through ``_publish``:
write the stage, claim version head+1 with ``os.link`` (which fails if
any commit landed after the head was read), then apply the stage —
move its files into the live dir and the removed files out to
``__v__``.  A crash therefore has exactly two cases: before the claim
the live dir is untouched and the stage is garbage ``vacuum``
removes; after the claim the next access finds the head's stage still
present and rolls the apply forward.  Counts, txn markers, schema,
pruning stats and time travel are all answered from one commit file,
never from a directory listing or a footer re-read.  Each snapshot also
carries a ``marks`` map — per key the largest value any commit offered
(``mark=`` on ``append``/``append_rows``/``overwrite``) — so a reader
answers "latest X" from the head instead of scanning the table (the
medallion's watermarks, the corpus counts log's sync state).
"""

from __future__ import annotations

import datetime
import json
import logging
import os
import shutil
import time
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..checkpoints import checkpoint, owned_checkpoints
from ..operators.sizing import maybe_broadcast

_log = logging.getLogger(__name__)

#: Key types whose parquet footer min/max stats are trustworthy for
#: file pruning.  Floats are excluded (NaN poisons parquet ordering
#: stats), timestamps are excluded (Spark's default INT96 encoding
#: carries no stats), decimals are excluded (this pyarrow cannot
#: extract FIXED_LEN_BYTE_ARRAY decimal stats).  Exclusion is always
#: safe — an unprunable key just falls back to the full rewrite.
_PRUNABLE_KEY_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
    T.DateType,
)
#: a string min/max longer than this is not recorded (it would bloat
#: every later snapshot); the file is then unprunable on that column
_MAX_STAT_CHARS = 64


class ConcurrentWriteError(RuntimeError):
    """Raised when a commit loses the optimistic-concurrency race: its
    version slot was claimed by another writer, or a file it removes
    is no longer in the head."""


def _footer_stats(md, schema: T.StructType) -> dict:
    """``{column: [min, max]}`` over every row group of one parquet
    footer, for each prunable column; ``None`` when every value is
    NULL (no key can match); the column is left out when its stats
    cannot prove anything."""
    index = {
        md.schema.column(j).path: j for j in range(md.num_columns)
    }
    out: dict = {}
    for field in schema.fields:
        j = index.get(field.name)
        if j is None or not isinstance(field.dataType, _PRUNABLE_KEY_TYPES):
            continue
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(j).statistics
            if st is not None and st.has_min_max:
                try:
                    mn, mx = st.min, st.max
                except Exception:
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            elif not (
                st is not None
                and st.has_null_count
                and st.null_count == rg.num_rows
            ):
                break
        else:
            if lo is None:
                out[field.name] = None
            elif isinstance(lo, datetime.date):
                out[field.name] = [lo.isoformat(), hi.isoformat()]
            elif isinstance(lo, int) or (
                isinstance(lo, str)
                and max(len(lo), len(hi)) <= _MAX_STAT_CHARS
            ):
                out[field.name] = [lo, hi]
    return out


def _stat_value(value, dtype):
    """A recorded min/max back as the Python value Spark compares."""
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(value)
    return value


def _nullable(dtype):
    """``dtype`` with every level nullable — what a parquet read gives
    back whatever the written frame declared."""
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dtype.fields
        ])
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_nullable(dtype.elementType), True)
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _nullable(dtype.keyType), _nullable(dtype.valueType), True
        )
    return dtype


def _column_mismatch(name: str, dcols: set, tcols: set) -> str:
    return (
        f"append to {name}: batch schema {sorted(dcols)} != "
        f"table schema {sorted(tcols)}"
    )


def _move(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` unless that was already done."""
    if os.path.exists(src):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)


class TableStore:
    """Maps logical ``db.table`` names to parquet dirs under ``root``.

    Every write also (re-)registers the table in the Spark session
    catalog as an EXTERNAL parquet table, so the reference's BI entry
    point works verbatim: ``spark.sql("SELECT ... FROM
    gold.fact_transactions WHERE is_current = true")`` (the reference
    reaches tables through a Hive metastore — ``validate_bronze.py:9``
    ``.enableHiveSupport()``, ``Gold/Gold Layer README.md:390-447``;
    locally the in-memory session catalog plays that role, on a real
    cluster the same statements land in the actual metastore).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        #: tables smaller than this take the plain full-rewrite path —
        #: the file-granular prune decision (bounds agg + exact
        #: containment test, ~1 s of fixed job cost locally) costs
        #: more than rewriting a sub-256MB table whole at local NVMe
        #: throughput, and every real table at the target scale is
        #: orders of magnitude above the floor.  Calibrate per storage
        #: medium at deployment (object-store economics favor a much
        #: lower floor); tests set 0 to engage the path on test-sized
        #: tables
        self.prune_min_table_bytes = 256 << 20
        #: (name -> head commit) — ``_head`` probes forward from it, so
        #: commits made through other instances stay visible
        self._heads: dict[str, dict] = {}
        #: (name -> (schema, partition columns) registered in the
        #: session catalog by THIS instance) — lets ``_register`` skip
        #: the drop-and-recreate when an overwrite kept the schema.
        self._registered: dict[str, object] = {}
        os.makedirs(root, exist_ok=True)
        # re-attach tables committed by a previous session over this
        # root, so read-only consumers get the spark.sql surface too
        for d in sorted(os.listdir(root)):
            if d.endswith(".__log__"):
                self._register(d[: -len(".__log__")].replace("__", ".", 1))

    def path(self, name: str) -> str:
        return os.path.join(self.root, name.replace(".", "__"))

    def _register(self, name: str) -> None:
        """Catalog-register ``name`` as an external parquet table with
        the log's schema, plus the partition columns a ``col=value/``
        file path names (``write_partitioned``) — nothing is inferred
        from the files, so an empty head registers too.

        Drop-and-recreate (metadata-only, driver-side) rather than
        ``IF NOT EXISTS``: an overwrite may legitimately change the
        schema.  When THIS instance already registered the table with
        the SAME schema and no partitions, a single ``REFRESH TABLE``
        (rebuilds the cached file listing) replaces the drop + create —
        the overwhelmingly common case for staging tables the pipeline
        overwrites every batch (r15; any failure falls through to the
        full re-create).  A partitioned table's partitions live in the
        catalog, so it is re-created and they are recovered."""
        db, dot, tbl = name.partition(".")
        if not dot:
            db, tbl = "default", name
        try:
            head = self._head(name)
            if head is None:
                return
            schema = self._schema(head)
            nested = next((f for f in head["files"] if os.sep in f), "")
            parts = tuple(d.split("=")[0] for d in nested.split(os.sep)[:-1])
            if self._registered.get(name) == (schema, ()):
                try:
                    self.spark.sql(f"REFRESH TABLE `{db}`.`{tbl}`")
                    return
                except Exception:
                    pass  # dropped externally etc. — full re-create below
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
            self.spark.sql(f"DROP TABLE IF EXISTS `{db}`.`{tbl}`")
            cols = ", ".join(f"`{c}`" for c in parts)
            self.spark.sql(
                f"CREATE TABLE `{db}`.`{tbl}` ({schema.toDDL()}) USING parquet"
                + (f" PARTITIONED BY ({cols})" if parts else "")
                + f" LOCATION '{self.path(name)}'"
            )
            if parts:
                self.spark.sql(f"ALTER TABLE `{db}`.`{tbl}` RECOVER PARTITIONS")
            self._registered[name] = (schema, parts)
        except Exception as exc:
            # registration is a convenience surface; never fail a write
            # over catalog limitations (e.g. a foreachBatch worker
            # session without catalog access)
            _log.warning("catalog registration of %s failed: %r", name, exc)

    # ------------------------------------------------------ the commit log

    def _log_dir(self, name: str) -> str:
        return self.path(name) + ".__log__"

    def _versions_dir(self, name: str) -> str:
        return self.path(name) + ".__v__"

    def _commit_path(self, name: str, version: int) -> str:
        return os.path.join(self._log_dir(name), f"{version:08d}.json")

    def _load(self, name: str, version: int) -> dict:
        with open(self._commit_path(name, version)) as f:
            return json.load(f)

    def _log_versions(self, name: str) -> list[int]:
        log = self._log_dir(name)
        if not os.path.isdir(log):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(log)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def _head(self, name: str) -> dict | None:
        """Latest commit, or None.  The cached head is probed forward
        one ``stat`` per newer version, so other writers' commits stay
        visible; a cold store (or a vanished cached head) lists the
        log directory once."""
        head = self._heads.get(name)
        if head is None or not os.path.exists(
            self._commit_path(name, head["version"])
        ):
            versions = self._log_versions(name)
            if not versions:
                self._heads.pop(name, None)
                return None
            head = self._load(name, versions[-1])
        v = head["version"]
        while os.path.exists(self._commit_path(name, v + 1)):
            v += 1
        if v != head["version"]:
            head = self._load(name, v)
        self._heads[name] = head
        return head

    def snapshot(self, name: str) -> dict | None:
        """The head commit (None for a table with no commits), after
        rolling forward an apply that a crash cut short: the head
        names its stage dir, and a stage that still exists means the
        apply has not finished."""
        head = self._head(name)
        if (
            head is not None
            and head["stage"]
            and os.path.isdir(os.path.join(self.root, head["stage"]))
        ):
            self._apply(name, head)
        return head

    @staticmethod
    def _schema(commit: dict) -> T.StructType:
        return T.StructType.fromJson(commit["schema"])

    def exists(self, name: str) -> bool:
        return self._head(name) is not None

    def current_version(self, name: str) -> int:
        """Latest committed version (0 for a table with no commits)."""
        head = self._head(name)
        return head["version"] if head else 0

    def count(self, name: str) -> int:
        """Row count of the head snapshot (its files' footer counts)."""
        head = self._head(name)
        return head["row_count"] if head else 0

    def last_txn_version(self, name: str, app_id: str) -> int | None:
        """Delta ``SetTransaction`` read side: the highest transaction
        version idempotent writer ``app_id`` has committed to this
        table, or None.  The txn map travels in every snapshot, so the
        marker is durable iff the write it came with is."""
        head = self._head(name)
        return head["txns"].get(app_id) if head else None

    def read(self, name: str) -> DataFrame:
        """The live table, read with the log's schema (no footer
        inference)."""
        head = self.snapshot(name)
        if head is None:
            return self.spark.read.parquet(self.path(name))  # no such table
        return self.spark.read.schema(self._schema(head)).parquet(
            self.path(name)
        )

    def versions(self, name: str) -> list[dict]:
        """Commit history, oldest first (Delta's ``DESCRIBE
        HISTORY``): per retained commit its ``version``, ``op``,
        ``row_count``, ``files_added``, ``files_removed``,
        ``duration_s`` (from the start of its data write to its claim)
        and ``txn``."""
        out = []
        for v in self._log_versions(name):
            c = self._load(name, v)
            out.append({
                "version": v,
                "op": c["op"],
                "row_count": c["row_count"],
                "files_added": len(c["add"]),
                "files_removed": len(c["remove"]),
                "duration_s": c["duration_s"],
                "txn": c["txn"],
            })
        return out

    def read_version(self, name: str, version: int) -> DataFrame:
        """Time travel: the table exactly as of commit ``version``,
        with that version's schema.  A file still in the head is read
        from the live dir, any other from ``__v__``."""
        head = self.snapshot(name)
        if head is not None and head["version"] == version:
            commit = head
        else:
            commit = self._load(name, version)
        schema = self._schema(commit)
        live = head["files"] if head else {}
        groups: dict[str, list[str]] = {}
        for f in commit["files"]:
            base = self.path(name) if f in live else self._versions_dir(name)
            groups.setdefault(base, []).append(os.path.join(base, f))
        if not groups:
            return self.spark.createDataFrame([], schema)
        return reduce(DataFrame.unionByName, [
            self.spark.read.schema(schema).option("basePath", base).parquet(*paths)
            for base, paths in groups.items()
        ])

    def read_changes(
        self, name: str, v_from: int, v_to: int, keys: list[str]
    ) -> DataFrame:
        """Change data feed between two committed versions (Delta's
        ``table_changes`` semantics, reference `load_silver.py:41-63`'s
        CDC consumption reconstructed from snapshots): every row is
        tagged ``_change_type`` in {insert, delete, update_preimage,
        update_postimage} plus ``_commit_version`` = ``v_to``.

        Plan shape: ONE full-outer key join of the two snapshots; the
        1-or-2 output rows per difference are produced by exploding a
        per-row struct array, so the join is never recomputed per
        change type.  Unchanged rows emit nothing."""
        old = self.read_version(name, v_from)
        new = self.read_version(name, v_to)
        cols = new.columns
        data_cols = [c for c in cols if c not in keys]
        o = old.select(
            *[F.col(k).alias(f"__ok_{k}") for k in keys],
            *[F.col(c).alias(f"__o_{c}") for c in data_cols],
            F.lit(True).alias("__o_present"),
        )
        n = new.select(
            *[F.col(k).alias(f"__nk_{k}") for k in keys],
            *[F.col(c).alias(f"__n_{c}") for c in data_cols],
            F.lit(True).alias("__n_present"),
        )
        # eqNullSafe join + explicit presence sentinels: a genuine NULL
        # business key must still match its counterpart (a null-unsafe
        # join would misreport it as delete+insert), and side-absence is
        # derived from the sentinel, never from key nullness.
        cond = None
        for k in keys:
            c = F.col(f"__ok_{k}").eqNullSafe(F.col(f"__nk_{k}"))
            cond = c if cond is None else (cond & c)
        j = o.join(n, cond, "full_outer")

        def row_struct(tag: str, side: str) -> F.Column:
            kp = "__ok_" if side == "o" else "__nk_"
            vp = "__o_" if side == "o" else "__n_"
            fields = [F.col(f"{kp}{k}").alias(k) for k in keys]
            fields += [F.col(f"{vp}{c}").alias(c) for c in data_cols]
            fields.append(F.lit(tag).alias("_change_type"))
            return F.struct(*fields)

        old_absent = F.col("__o_present").isNull()
        new_absent = F.col("__n_present").isNull()
        changed = F.lit(False)
        for c in data_cols:
            neq = ~(
                F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
            )
            changed = changed | neq
        # the otherwise branch needs an EMPTY array of the same struct
        # type: filter-on-false over a one-element array supplies it
        # without hand-writing the struct schema
        events = (
            F.when(old_absent, F.array(row_struct("insert", "n")))
            .when(new_absent, F.array(row_struct("delete", "o")))
            .when(
                changed,
                F.array(
                    row_struct("update_preimage", "o"),
                    row_struct("update_postimage", "n"),
                ),
            )
            .otherwise(
                F.filter(
                    F.array(row_struct("insert", "n")), lambda _: F.lit(False)
                )
            )
        )
        out = j.select(F.explode(events).alias("e")).select("e.*")
        return out.withColumn("_commit_version", F.lit(v_to).cast("bigint"))

    # ---------------------------------------------------------------- sinks

    def append(
        self, name: str, df: DataFrame, allow_schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
        mark: tuple[str, list] | None = None,
    ) -> int:
        """S5 INSERT INTO; returns the number of rows appended.  The
        batch goes through the rebalance sizing shuffle first (the
        Delta optimizeWrite analog, see ``_optimize_write``).

        ``txn=(app_id, version)``: idempotent-writer marker, recorded
        in the same commit as the appended files (marker present iff
        the append committed).  ``mark=(key, value)`` offers ``value``
        for the snapshot's mark ``key`` in that same commit (see
        ``_commit``).

        Schema handling (Delta ``mergeSchema`` parity): a batch whose
        columns differ from the table is REFUSED unless
        ``allow_schema_evolution=True`` — raw parquet happily appends
        mismatched files and then silently drops the new columns at
        read time, which is exactly the corruption Delta's check
        exists to prevent.  With evolution on: a batch MISSING table
        columns is aligned with typed nulls and appended normally
        (O(batch)); a batch carrying NEW columns rewrites the table
        once under the widened schema (a uniform-schema directory is
        what keeps the live dir readable by any parquet reader)."""
        head = self.snapshot(name)
        if head is not None:
            target_schema = self._schema(head)
            tcols = {f.name for f in target_schema.fields}
            dcols = set(df.columns)
            if tcols != dcols:
                if not allow_schema_evolution:
                    raise ValueError(
                        _column_mismatch(name, dcols, tcols) + "; pass "
                        "allow_schema_evolution=True to merge schemas"
                    )
                if dcols - tcols:
                    # new columns: one-time rewrite under the union schema
                    widened = self.read(name).unionByName(
                        df, allowMissingColumns=True
                    )
                    after = self._replace(name, widened, txn=txn, mark=mark)
                    return after - head["row_count"]
                # batch only MISSING columns: align with typed nulls,
                # stay on the cheap append path
                for f in target_schema.fields:
                    if f.name not in dcols:
                        df = df.withColumn(
                            f.name, F.lit(None).cast(f.dataType)
                        )
                df = df.select(*[f.name for f in target_schema.fields])
        return self._rows_added(self._publish(
            name, "append", self._stage(name, self._optimize_write(df)),
            txn=txn, mark=mark,
        ))

    def append_rows(
        self, name: str, rows: list[tuple], schema: T.StructType,
        mark: tuple[str, list] | None = None,
    ) -> int:
        """INSERT INTO for rows the driver already holds (bookkeeping
        such as ``job_control``), without a Spark job: each value is
        converted with its Spark type's own ``toInternal`` — so a naive
        ``datetime`` means exactly what ``createDataFrame`` makes it
        mean — and the rows become one pyarrow-written parquet file in
        a fresh stage, published like any append.  A column set that
        differs from the table's is refused, as :meth:`append` does
        without schema evolution.  ``mark=(key, value)`` offers
        ``value`` for the snapshot's mark ``key`` (see ``_commit``).
        Returns the number of rows appended."""
        started = time.perf_counter()
        head = self.snapshot(name)
        if head is not None:
            tcols, dcols = set(self._schema(head).names), set(schema.names)
            if tcols != dcols:
                raise ValueError(_column_mismatch(name, dcols, tcols))
        table = pa.table({
            f.name: pa.array(
                [f.dataType.toInternal(v) for v in col],
                to_arrow_type(f.dataType),
            )
            for f, col in zip(schema.fields, zip(*rows))
        })
        stage = self._stage_dir(name)
        os.makedirs(stage)
        pq.write_table(
            table, os.path.join(stage, f"part-{uuid.uuid4().hex}.parquet")
        )
        return self._rows_added(self._publish(
            name, "append", (stage, _nullable(schema), started), mark=mark
        ))

    @staticmethod
    def _optimize_write(df: DataFrame) -> DataFrame:
        """Delta optimizeWrite analog for APPEND sinks: AQE-sized
        REBALANCE before the write, so file count follows actual output
        bytes (advisory partition size), not the scan's partitioning.
        Appends are where small files accumulate unboundedly (every
        batch adds its files forever) and where the input is typically
        a shuffle-free scan+filter whose partitioning AQE cannot
        coalesce — measured 3x on a 90K-row filter-only write (32
        KB-sized files -> a handful of advisory-sized ones).  Replace
        sinks deliberately skip this: their inputs end in a join/window
        exchange AQE already coalesces, so a second shuffle is pure
        overhead at any scale.  Local literal frames (1-row job_control
        appends) also skip — nothing to size."""
        if df.isLocal():
            return df
        return df.hint("rebalance")

    def overwrite(
        self, name: str, df: DataFrame, txn: tuple[str, int] | None = None,
        mark: tuple[str, list] | None = None,
    ) -> int:
        """S6 INSERT OVERWRITE: full replace, schema preserved by the
        caller passing an explicitly-projected frame.  Returns rows
        written; ``txn`` and ``mark`` as in :meth:`append`.  No
        rebalance sizing shuffle: replace inputs are joins/windows whose
        last shuffle AQE already coalesces to advisory-sized partitions,
        so a second shuffle would be pure overhead, locally and at
        100 TB alike."""
        return self._replace(name, df, txn=txn, mark=mark)

    # --------------------------------------- file-granular MERGE (pruning)
    #
    # Delta rewrites only the files a MERGE/DELETE/UPDATE actually
    # touches; the naive parquet fallback rewrites the whole table —
    # THE scale gap at 100 TB, where a 0.1% incremental batch must not
    # cost a full-table write.  These helpers close it: the per-file
    # min/max key stats every snapshot carries decide which live files
    # can possibly contain a source key; only those are read and
    # rewritten, untouched files stay in place byte-for-byte, and the
    # commit removes exactly the touched files (to ``__v__``, so every
    # retained version stays time-travelable).

    @staticmethod
    def _upcast_to_target(source: DataFrame, target: DataFrame) -> DataFrame | None:
        """Align source column types to the target's via SAFE up-casts
        only (integral widening, float->double) — the implicit cast
        Delta MERGE applies.  Returns None when any source column is
        wider than (or incomparable to) the target's type: that merge
        legitimately changes the table schema and must take the full
        rewrite."""
        widen = {
            T.ByteType(): 0, T.ShortType(): 1,
            T.IntegerType(): 2, T.LongType(): 3,
        }
        tgt = {f.name: f.dataType for f in target.schema.fields}
        cols = []
        for f in source.schema.fields:
            want = tgt[f.name]
            if f.dataType == want:
                cols.append(F.col(f.name))
            elif (
                f.dataType in widen
                and want in widen
                and widen[f.dataType] < widen[want]
            ) or (f.dataType == T.FloatType() and want == T.DoubleType()):
                cols.append(F.col(f.name).cast(want).alias(f.name))
            else:
                return None
        return source.select(*cols)

    def _file_key_stats(
        self, name: str, keys: list[str], source: DataFrame
    ) -> tuple[list[dict], list[str], list[str]] | None:
        """Per-file pruning stats for a key-matched mutation, from the
        head snapshot.

        Returns ``(boxes, unprunable, prune_keys)`` — ``boxes`` holds
        one dict per file with min/max per key column, ``unprunable``
        lists files whose stats cannot prove anything (always
        rewritten).  Pruning uses the PRUNABLE SUBSET of the merge
        keys: a file can contain a composite-key match only if every
        key column's value is inside the file's box, so testing any
        subset of the keys yields a superset of the truly-touched
        files — conservative and correct.  A composite key like
        (transaction_id, updated_at) therefore prunes on the string id
        even though the timestamp column carries no stats (INT96).  A
        file whose key is NULL on every row can match nothing and is
        left out of both lists.

        Returns ``None`` when file-granular mutation is unsupported:
        an empty table, a partitioned ``col=value`` layout (key values
        live in paths, not footers), NO key of a prunable type, a
        source column whose type differs from the target's (a partial
        rewrite must not produce mixed-type files under one
        directory), or a table smaller than ``prune_min_table_bytes``
        — rewriting a few-MB dim table whole costs less than the prune
        decision's jobs (measured +1.3-1.5 s per mutation on the sf0.1
        dim/rollup stages), so small tables keep the plain path and
        the fast path engages where it can actually win."""
        head = self.snapshot(name)
        files = head["files"] if head else {}
        if not files or any(os.sep in f for f in files):
            return None
        if sum(e["bytes"] for e in files.values()) < self.prune_min_table_bytes:
            return None
        target_types = {f.name: f.dataType for f in self._schema(head).fields}
        prune_keys = [
            k for k in keys
            if isinstance(target_types.get(k), _PRUNABLE_KEY_TYPES)
        ]
        if not prune_keys:
            return None
        for f in source.schema.fields:
            if f.name in target_types and target_types[f.name] != f.dataType:
                return None
        boxes: list[dict] = []
        unprunable: list[str] = []
        for f, entry in files.items():
            stats = entry["stats"]
            if any(k in stats and stats[k] is None for k in prune_keys):
                continue  # all-NULL key: NULL = x is never true
            if not all(k in stats for k in prune_keys):
                unprunable.append(f)
                continue
            box: dict = {"__file__": f}
            for k in prune_keys:
                lo, hi = stats[k]
                box[f"__min_{k}"] = _stat_value(lo, target_types[k])
                box[f"__max_{k}"] = _stat_value(hi, target_types[k])
            boxes.append(box)
        return boxes, unprunable, prune_keys

    @staticmethod
    def _touched_files(
        src_keys: DataFrame, boxes: list[dict], keys: list[str]
    ) -> set[str]:
        """Exact containment test: a file is touched iff SOME source
        key row falls inside its per-column min/max box on EVERY key.
        Runs over the tier-1 candidate boxes only (see
        ``_pruned_mutation``), under the n_src x |candidates| budget.

        Shape: ONE aggregation pass over the source keys computing
        ``max(k between lo_i and hi_i)`` per file box — map-side
        combined, no shuffle beyond the 1-row final reduce, no join,
        no key collect (an earlier broadcast nested-loop join form
        cost seconds of job overhead on a 45k-key batch; the agg form
        is one scan).  Boxes are chunked so codegen never sees
        thousands of aggregates in one plan.  This is the local
        stand-in for Delta's data skipping, where the same predicate
        evaluates driver-side over commit-log AddFile stats."""
        touched: set[str] = set()
        chunk = 512
        for lo_i in range(0, len(boxes), chunk):
            part = boxes[lo_i:lo_i + chunk]
            aggs = []
            for i, b in enumerate(part):
                c = None
                for k in keys:
                    cc = (F.col(k) >= F.lit(b[f"__min_{k}"])) & (
                        F.col(k) <= F.lit(b[f"__max_{k}"])
                    )
                    c = cc if c is None else (c & cc)
                aggs.append(F.max(c.cast("int")).alias(f"b{i}"))
            row = src_keys.agg(*aggs).first()
            touched |= {
                part[i]["__file__"]
                for i in range(len(part))
                if row[f"b{i}"] == 1
            }
        return touched

    def _pruned_mutation(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        op: str,
        rewrite,
        txn: tuple[str, int] | None = None,
        insert_rows: DataFrame | None = None,
    ) -> tuple[int, int, int] | None:
        """Shared file-granular path for upsert / delete_matched /
        update_matched.  ``rewrite(touched_df, src_keys)`` produces the
        replacement rows for the touched files; ``insert_rows`` (upsert
        only) is appended when NO file can match — the O(batch)
        insert-only merge.  Returns ``(rows_before_touched,
        rows_staged, rows_after)``, or None when the caller must fall
        back to the full rewrite.  ``source`` ROWS must be
        deterministic across evaluations (true for every pipeline
        caller — the staged/parquet-backed frames the medallion
        passes), the same contract the full path's anti-join + union
        already relies on; the source KEY SET is additionally pinned
        here (ADVICE r14): the distinct key frame is localCheckpoint-ed
        once so the bounds probe, the exact touched-file test, and the
        rewrite's match predicate all see the SAME keys — a
        nondeterministic key re-evaluation can therefore no longer
        leave a stale matched row in an unpruned file.  This call
        owns that checkpoint and frees it on return (``checkpoints``)."""
        stats = self._file_key_stats(name, keys, source)
        if stats is None:
            return None
        boxes, unprunable, prune_keys = stats
        head = self._head(name)
        with owned_checkpoints():
            src_keys = (
                source.select(*keys).distinct().transform(checkpoint)
            )
            touched = set(unprunable)
            n_src = None
            if boxes:
                # tier 1: ONE cheap bounds agg over the pinned source keys
                # (min/max/count) -> candidate boxes driver-side.  Without
                # it, a full-overlap merge (the medallion's 9M-row daily
                # re-merge) would pay a 9M-rows x 64-boxes exact test just
                # to learn that everything is touched — measured +5 s per
                # stage at 100x.  (``n_src`` is now the DISTINCT key count
                # — a strictly tighter budget input than the raw row count.)
                kp = src_keys.select(*prune_keys)
                probe = kp.agg(
                    F.count(F.lit(1)).alias("__n"),
                    *[F.min(k).alias(f"__mn_{k}") for k in prune_keys],
                    *[F.max(k).alias(f"__mx_{k}") for k in prune_keys],
                ).first()
                n_src = probe["__n"]
                cand = [] if n_src == 0 else [
                    b for b in boxes
                    if all(
                        probe[f"__mn_{k}"] is not None
                        and not (
                            b[f"__min_{k}"] > probe[f"__mx_{k}"]
                            or b[f"__max_{k}"] < probe[f"__mn_{k}"]
                        )
                        for k in prune_keys
                    )
                ]
                if cand:
                    # tier 2: the exact some-key-in-box test, but only when
                    # its cost (n_src x |candidates| predicate evals) is
                    # bounded — a 100-id GDPR delete spanning the key range
                    # NEEDS it (tier 1 candidates = every file, exact test
                    # prunes to the 1-2 files that hold the ids), while a
                    # 9M-row batch uses the tier-1 candidates as the
                    # conservative answer (already a superset of touched)
                    if n_src * len(cand) <= 64_000_000:
                        touched |= self._touched_files(kp, cand, prune_keys)
                    else:
                        touched |= {b["__file__"] for b in cand}
            before = head["row_count"]
            if not touched:
                if insert_rows is None or n_src == 0:
                    # delete/update matching nothing, or an EMPTY source
                    # (n_src == 0 distinct keys proves zero rows): commit
                    # the no-op mutation for history fidelity, touch no
                    # data file
                    self._publish(name, op, txn=txn)
                    return 0, 0, before
                # insert-only merge: no live file can contain any source
                # key, so MERGE degenerates to the O(batch) append
                stage = self._stage(name, self._optimize_write(insert_rows))
                commit = self._publish(name, op, stage, txn=txn)
                return 0, self._rows_added(commit), commit["row_count"]
            if len(touched) >= len(head["files"]):
                return None  # nothing pruned: the full path is strictly simpler
            tdf = self.spark.read.schema(self._schema(head)).parquet(
                *[os.path.join(self.path(name), f) for f in sorted(touched)]
            )
            stage = self._stage(name, rewrite(tdf, src_keys))
            commit = self._publish(name, op, stage, touched, txn)
            rows_touched = sum(head["files"][f]["rows"] for f in touched)
            return rows_touched, self._rows_added(commit), commit["row_count"]

    def upsert(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        require_unique_source: bool = False,
        allow_schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """S7/S8 MERGE upsert on ``keys``.  Source keys MUST be unique
        (guaranteed by W1/W2 dedup upstream, as in the reference).
        Returns the table's post-merge row count (from the commit's
        footer counts; ``inserted = after - before`` with ``before``
        from the O(1) ``count`` — no post-MERGE table re-scan).

        ``require_unique_source=True`` reproduces Delta MERGE's
        multi-match error: if two source rows share a key, raise
        instead of silently writing both (costs one extra aggregation
        over the source — off in the hot path, where dedup is already
        proven upstream).

        ``allow_schema_evolution=True`` reproduces Delta MERGE with
        ``spark.databricks.delta.schema.autoMerge``: source columns
        missing from the target are added (existing rows read NULL),
        target columns missing from the source survive (upserted rows
        read NULL).  Off by default — a mismatched schema then raises,
        as Delta does.  The MERGE rewrite already materializes the
        whole table, so evolution costs nothing extra here."""
        if require_unique_source:
            dup = (
                source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                raise ValueError(
                    f"MERGE into {name}: multiple source rows match key "
                    f"{[dup[0][k] for k in keys]} (Delta multi-match semantics)"
                )
        if not self.exists(name):
            return self._replace(name, source, txn=txn)
        target = self.read(name)
        if set(target.columns) != set(source.columns):
            if not allow_schema_evolution:
                raise ValueError(
                    f"MERGE into {name}: source schema "
                    f"{sorted(source.columns)} != target schema "
                    f"{sorted(target.columns)}; pass "
                    "allow_schema_evolution=True to merge schemas"
                )
            missing_keys = [k for k in keys if k not in source.columns]
            if missing_keys:
                raise ValueError(
                    f"MERGE into {name}: source lacks key columns {missing_keys}"
                )
        # file-granular fast path (Delta parity): when file stats
        # prove some files cannot contain any source key, rewrite only
        # the files that can — and when NO file can, degrade to an
        # O(batch) append.  Falls back to the full rewrite on schema
        # evolution, unprunable key types, partitioned layouts, or
        # when every file is touched anyway.  Source columns are
        # aligned to the target types first via SAFE up-casts only
        # (int widening, float->double — Delta MERGE's implicit cast;
        # the full path's unionByName coerces to the same wider type),
        # so a literal-typed batch column never forces a full rewrite;
        # a source WIDER than the target legitimately widens the whole
        # table and stays on the full path.
        if set(target.columns) == set(source.columns):
            aligned = self._upcast_to_target(source, target)
            if aligned is not None:
                pruned = self._pruned_mutation(
                    name,
                    aligned,
                    keys,
                    "merge",
                    lambda tdf, sk: tdf.join(
                        maybe_broadcast(sk), keys, "left_anti"
                    ).unionByName(aligned),
                    txn=txn,
                    insert_rows=aligned,
                )
                if pruned is not None:
                    return pruned[2]
        # target rows not matched by any source key, plus all source
        # rows.  The key set is broadcast only while Catalyst estimates
        # it under budget — a forced broadcast of a 9M-key batch is the
        # first executor OOM at 100x scale; oversized sets fall back to
        # a shuffled anti join.
        kept = target.join(maybe_broadcast(source.select(*keys).distinct()),
                           keys, "left_anti")
        merged = kept.unionByName(
            source, allowMissingColumns=allow_schema_evolution
        )
        # the USING-style anti join moves the merge keys to the front
        # of the output; re-pin the table's declared column order so a
        # MERGE never silently rewrites the schema's column order
        # (evolution-added columns append after the existing ones)
        known = set(target.columns)
        merged = merged.select(
            *target.columns,
            *[c for c in merged.columns if c not in known],
        )
        return self._replace(name, merged, txn=txn)

    def delete_matched(self, name: str, ids: DataFrame, keys: list[str]) -> int:
        """S9 MERGE-DELETE: drop target rows whose key appears in ids.
        Returns the number of rows deleted."""
        if not self.exists(name):
            return 0
        pruned = self._pruned_mutation(
            name,
            ids.select(*keys).distinct(),
            keys,
            "delete",
            lambda tdf, sk: tdf.join(maybe_broadcast(sk), keys, "left_anti"),
        )
        if pruned is not None:
            rows_touched, staged_rows, _after = pruned
            return rows_touched - staged_rows
        before = self.count(name)
        target = self.read(name)
        after = self._replace(
            name,
            target.join(
                maybe_broadcast(ids.select(*keys).distinct()), keys, "left_anti"
            ).select(*target.columns),  # USING join reorders keys first
        )
        return before - after

    def update_where(self, name: str, cond, assignments: dict) -> int:
        """S10 in-place UPDATE: read-modify-overwrite with the same
        observable state as Delta ``UPDATE ... WHERE``.  Returns the
        number of rows MATCHED by ``cond`` (Delta's num_updated_rows),
        observed during the rewrite — no separate pre-count scan."""
        target = self.read(name)
        # evaluate the predicate against the PRE-update row once — SQL
        # UPDATE semantics; naively re-applying ``cond`` per column
        # would see columns mutated by earlier assignments
        updated = target.withColumn("__upd__", cond)
        for col, value in assignments.items():
            updated = updated.withColumn(
                col, F.when(F.col("__upd__"), value).otherwise(F.col(col))
            )
        matched = Observation()
        updated = updated.observe(
            matched,
            F.coalesce(
                F.sum(F.col("__upd__").cast("bigint")), F.lit(0).cast("bigint")
            ).alias("matched"),
        )
        self._replace(name, updated.drop("__upd__"))
        return int(matched.get["matched"])

    def overwrite_where(self, name: str, cond, df: DataFrame) -> int:
        """Delta ``replaceWhere`` parity (selective overwrite): rows
        matching ``cond`` are replaced by ``df``; everything else is
        untouched.  The standard idempotent daily-partition reload —
        re-running a day replaces exactly that day.

        Like Delta, rows in ``df`` that VIOLATE the predicate are a
        constraint error (raised before any mutation, counted with
        ``observe`` during the staging write — no extra scan): silently
        inserting them would make the operation non-idempotent.
        Returns the number of rows inserted.

        Three-valued logic matters here: a row where ``cond`` evaluates
        to NULL is NON-matching in Delta's replaceWhere — it must be
        retained on the kept side and flagged as a violation on the
        incoming side.  A bare ``filter(~cond)`` would silently drop
        NULL-predicate rows from the table, so both sides coalesce the
        predicate to False first."""
        matched = F.coalesce(cond, F.lit(False))
        viol = Observation()
        staged = df.observe(
            viol,
            F.coalesce(
                F.sum((~matched).cast("bigint")), F.lit(0).cast("bigint")
            ).alias("bad"),
        )
        staged = staged.transform(checkpoint)  # force observation
        bad = int(viol.get["bad"])
        if bad:
            raise ValueError(
                f"overwrite_where: {bad} incoming rows violate the "
                "replace predicate — refusing a non-idempotent write"
            )
        kept = self.read(name).filter(~matched)
        inserted = Observation()
        out = kept.unionByName(
            staged.observe(
                inserted,
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
        )
        self._replace(name, out)
        return int(inserted.get["n"])

    def update_matched(
        self,
        name: str,
        ids: DataFrame,
        keys: list[str],
        assignments: dict,
        extra_cond=None,
    ) -> int:
        """S10 UPDATE where the row's key appears in ``ids`` (and
        ``extra_cond`` holds, pre-update semantics).  Returns the
        number of rows matched+updated (observed during the rewrite —
        replaces a separate semi-join count pass).

        The distributed twin of ``update_where(key.isin([...]))``:
        the key set stays a broadcast DataFrame instead of a
        driver-collected literal list, so plan size is O(1) no matter
        how many keys match (a 10^6-element ``isin`` blows up the plan
        long before 100x scale)."""
        target = self.read(name)
        matched = Observation()

        def apply_update(rows: DataFrame, key_set: DataFrame) -> DataFrame:
            flags = key_set.withColumn("__match__", F.lit(True))
            updated = rows.join(maybe_broadcast(flags), keys, "left")
            cond = F.col("__match__").isNotNull()
            if extra_cond is not None:
                cond = cond & extra_cond
            updated = updated.withColumn("__upd__", cond)
            for col, value in assignments.items():
                updated = updated.withColumn(
                    col, F.when(F.col("__upd__"), value).otherwise(F.col(col))
                )
            updated = updated.observe(
                matched,
                F.coalesce(
                    F.sum(F.col("__upd__").cast("bigint")),
                    F.lit(0).cast("bigint"),
                ).alias("matched"),
            )
            return updated.drop("__upd__", "__match__").select(*target.columns)

        # file-granular fast path: a file whose key box excludes every
        # id cannot contain a matched row — rewrite only files that can
        pruned = self._pruned_mutation(
            name, ids.select(*keys).distinct(), keys, "update", apply_update
        )
        if pruned is not None:
            if pruned[1] == 0:  # no file could match: nothing observed
                return 0
            return int(matched.get["matched"])
        self._replace(name, apply_update(target, ids.select(*keys).distinct()))
        return int(matched.get["matched"])

    def restore(self, name: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION`` parity: make the
        table's live state equal commit ``version`` again, AS A NEW
        COMMIT — history is append-only (the restore itself is
        time-travelable and undoable), exactly Delta's semantics.
        Returns the new version number."""
        self._replace(name, self.read_version(name, version))
        return self.current_version(name)

    def vacuum(self, retain_versions: int | None = None) -> list[str]:
        """Delta-VACUUM analog: remove the stage dirs of writes that
        never claimed a version (a claimed commit is rolled forward
        first, which consumes its stage).  All table state lives in the
        logs, so nothing else under the store root is ever orphaned.

        ``retain_versions=k`` additionally expires history: for every
        table, commits older than the newest ``k`` are dropped, and
        ``__v__`` files no retained commit lists are deleted (Delta's
        ``VACUUM ... RETAIN`` semantics — time travel keeps working for
        every retained version).  Returns the removed paths."""
        names = [
            d[: -len(".__log__")].replace("__", ".", 1)
            for d in sorted(os.listdir(self.root))
            if d.endswith(".__log__")
        ]
        for name in names:
            self.snapshot(name)
        removed: list[str] = []
        for entry in sorted(os.listdir(self.root)):
            full = os.path.join(self.root, entry)
            if ".__stage__" in entry and os.path.isdir(full):
                shutil.rmtree(full)
                removed.append(full)
        if retain_versions is None or retain_versions < 1:
            return removed
        for name in names:
            history = self._log_versions(name)
            referenced: set[str] = set()
            for v in history[-retain_versions:]:
                referenced.update(self._load(name, v)["files"])
            for v in history[:-retain_versions]:
                p = self._commit_path(name, v)
                os.remove(p)
                removed.append(p)
            vdir = self._versions_dir(name)
            for dirpath, _dirs, files in os.walk(vdir, topdown=False):
                for f in files:
                    p = os.path.join(dirpath, f)
                    if os.path.relpath(p, vdir) not in referenced:
                        os.remove(p)
                        removed.append(p)
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
        return removed

    # ---------------------------------------------------------------- internals

    def _stage_dir(self, name: str) -> str:
        """A fresh stage dir path for one write to ``name``."""
        return f"{self.path(name)}.__stage__{uuid.uuid4().hex[:8]}"

    def _stage(
        self, name: str, df: DataFrame, partition_by: tuple[str, ...] = ()
    ) -> tuple[str, T.StructType, float]:
        """Write ``df`` to a fresh stage dir.  Returns ``(dir, schema,
        started)``: the schema as Spark reads the files back (nullable,
        partition columns last) and the write's start time."""
        started = time.perf_counter()
        stage = self._stage_dir(name)
        writer = df.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        fields = [f for f in df.schema.fields if f.name not in partition_by]
        fields += [df.schema[c] for c in partition_by]
        return stage, _nullable(T.StructType(fields)), started

    @staticmethod
    def _entries(stage: str, schema: T.StructType) -> dict[str, dict]:
        """Snapshot entries for a stage's data files — rows, bytes and
        key min/max, each footer read once, here.  Zero-row files (an
        empty write still emits one) are left out: they hold nothing a
        read or a prune needs."""
        out: dict[str, dict] = {}
        for dirpath, _dirs, files in os.walk(stage):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, f)
                md = pq.read_metadata(p)
                if md.num_rows:
                    out[os.path.relpath(p, stage)] = {
                        "rows": md.num_rows,
                        "bytes": os.path.getsize(p),
                        "stats": _footer_stats(md, schema),
                    }
        return out

    def _publish(
        self,
        name: str,
        op: str,
        stage: tuple[str, T.StructType, float] | None = None,
        remove=(),
        txn: tuple[str, int] | None = None,
        mark: tuple[str, list] | None = None,
    ) -> dict:
        """The one write path: heal the head, describe the stage's
        files (``_entries``), claim version head+1 for head − ``remove``
        + those files (``_commit``), then apply it (``_apply``).
        ``stage`` is a ``_stage`` result (or the same triple for a
        driver-written stage), or None for a commit that moves no
        data.  Returns the commit."""
        started = time.perf_counter()
        head = self.snapshot(name)
        adds, schema, stage_dir = {}, None, None
        if stage is not None:
            stage_dir, schema, started = stage
            adds = self._entries(stage_dir, schema)
            if head is not None and op != "replace":
                # only a replace sets the table's schema; a partial
                # rewrite's frame may list the columns in another order
                schema = None
        commit = self._commit(
            name, op, adds, remove, txn, schema, stage_dir,
            time.perf_counter() - started, mark=mark,
        )
        self._apply(name, commit)
        if head is None or not head["files"] or commit["remove"] or (
            commit["schema"] != head["schema"]
        ):
            # new or empty table, dropped files or a new schema: the
            # catalog's listing, schema and partitioning may be stale
            self._register(name)
        return commit

    def _commit(
        self,
        name: str,
        op: str,
        adds: dict[str, dict] | None = None,
        remove=(),
        txn: tuple[str, int] | None = None,
        schema: T.StructType | None = None,
        stage: str | None = None,
        duration_s: float = 0.0,
        mark: tuple[str, list] | None = None,
    ) -> dict:
        """Claim version head+1 for the snapshot head − ``remove`` +
        ``adds`` (Delta's commit protocol).  The head's ``txns`` and
        ``marks`` maps carry over; ``mark=(key, value)`` keeps the
        larger of the stored and the new value (lists compare
        lexicographically), so commits landing out of order never move
        a mark backwards.  The claim is an
        ``os.link`` of a fully written temp file, which — unlike
        ``os.rename`` — fails if the slot exists: of two racing
        writers exactly one wins and the loser gets
        ``ConcurrentWriteError`` instead of clobbering the other's
        commit.  The snapshot is built on the head, so any commit that
        landed after the head was read makes the claim fail too."""
        head = self._head(name)
        files = dict(head["files"]) if head else {}
        for f in remove:
            if files.pop(f, None) is None:
                raise ConcurrentWriteError(
                    f"{name}: {f} is no longer in the head — a concurrent "
                    "commit removed it"
                )
        adds = adds or {}
        files.update(adds)
        txns = dict(head["txns"]) if head else {}
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        marks = dict(head["marks"]) if head else {}
        if mark is not None and (
            mark[0] not in marks or marks[mark[0]] < mark[1]
        ):
            marks[mark[0]] = mark[1]
        if schema is not None:
            schema_json = schema.jsonValue()
        else:
            schema_json = head["schema"] if head else None
        commit = {
            "version": head["version"] + 1 if head else 1,
            "op": op,
            "row_count": sum(e["rows"] for e in files.values()),
            "duration_s": round(duration_s, 3),
            "txn": None if txn is None else {
                "app_id": txn[0], "version": int(txn[1]),
            },
            "stage": os.path.basename(stage) if stage else None,
            "add": sorted(adds),
            "remove": sorted(remove),
            "schema": schema_json,
            "txns": txns,
            "marks": marks,
            "files": files,
        }
        log = self._log_dir(name)
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            # one C-encoder call: json.dump's chunked Python encoder is
            # ~10x slower on a many-file snapshot
            f.write(json.dumps(commit, separators=(",", ":")))
        try:
            os.link(tmp, self._commit_path(name, commit["version"]))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"{name}: version {commit['version']} was claimed by a "
                "concurrent writer"
            ) from None
        finally:
            os.unlink(tmp)
        self._heads[name] = commit
        return commit

    def _apply(self, name: str, commit: dict) -> None:
        """Make the live dir hold ``commit``'s files: move its adds in
        from the stage and its removes out to ``__v__``, then drop the
        stage.  Every move skips when already done, so an apply a
        crash cut short is simply run again (``snapshot``)."""
        live, vdir = self.path(name), self._versions_dir(name)
        os.makedirs(live, exist_ok=True)
        stage = commit["stage"] and os.path.join(self.root, commit["stage"])
        for f in commit["add"]:
            _move(os.path.join(stage, f), os.path.join(live, f))
        for f in commit["remove"]:
            _move(os.path.join(live, f), os.path.join(vdir, f))
        if stage:
            shutil.rmtree(stage, ignore_errors=True)
        if commit["add"] or commit["remove"]:
            # Spark caches file listings per path
            self.spark.catalog.refreshByPath(live)

    def _replace(
        self, name: str, df: DataFrame, txn: tuple[str, int] | None = None,
        partition_by: tuple[str, ...] = (),
        mark: tuple[str, list] | None = None,
    ) -> int:
        """Replace the table with ``df``: one commit removing every
        head file and adding the staged output (Spark cannot overwrite
        a parquet dir it is reading, so the stage is what makes a
        self-derived rewrite possible).  Returns the rows written."""
        stage = self._stage(name, df, partition_by)
        head = self._head(name)
        return self._publish(
            name, "replace", stage, head["files"] if head else (), txn, mark
        )["row_count"]

    @staticmethod
    def _rows_added(commit: dict) -> int:
        return sum(commit["files"][f]["rows"] for f in commit["add"])
