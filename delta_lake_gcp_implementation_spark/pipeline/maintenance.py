"""Table maintenance: compaction, clustered layout, partitioned writes.

The reference documents these as absent/future work ("Partitioned By:
None", ``docs/SCHEMA_REGISTRY.md:40``; Z-ordering/compaction/VACUUM
"coming soon", ``README.md:654-659``).  At 100 TB they are mandatory:

- **Partitioned writes** (date partitions) make the watermark slice a
  partition-pruned scan instead of a full-table filter.
- **Compaction** bounds the small-file count that incremental MERGE
  fallbacks and streaming sinks accumulate (file-listing and task
  overhead grow linearly with file count).
- **Clustered (sorted) layout** is poor-man's Z-order on one key:
  sorting within partitions gives parquet row-group min/max stats
  real pruning power for range predicates on that key.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .storage import TableStore, _stat_value


def _files(store: TableStore, name: str) -> dict[str, dict]:
    """The head snapshot's file entries (relative path -> rows, bytes,
    key stats); hive-partitioned files keep their ``col=value``
    dirs."""
    head = store.snapshot(name)
    if head is None:
        raise FileNotFoundError(f"{name}: no such table under {store.root}")
    return head["files"]


def file_count(store: TableStore, name: str) -> int:
    """Number of data files in the table's head snapshot."""
    return len(_files(store, name))


def compact(store: TableStore, name: str, target_files: int = 8) -> int:
    """Rewrite a table into ``target_files`` files (coalesce — no
    shuffle; the files were already hash-scattered by prior writes).
    Returns the new file count."""
    df = store.read(name).coalesce(target_files)
    store.overwrite(name, df)
    return file_count(store, name)


def cluster_by(
    store: TableStore, name: str, sort_cols: list[str], n_files: int = 8
) -> None:
    """Range-partition by ``sort_cols`` then sort within partitions:
    globally ordered layout whose parquet row-group stats prune range
    scans on those columns (single-key Z-order equivalent)."""
    df = (
        store.read(name)
        .repartitionByRange(n_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
    )
    store.overwrite(name, df)


def write_partitioned(
    store: TableStore, name: str, df, partition_cols: list[str]
) -> None:
    """Overwrite as a hive-partitioned layout (e.g. Bronze by event
    date): the watermark/date-range scans then prune whole partitions
    (visible as ``PartitionFilters`` in the plan).  One ordinary
    replace commit, so history, counts and time travel stay exact."""
    store._replace(name, df, partition_by=tuple(partition_cols))


def write_bucketed(
    spark,
    df,
    table: str,
    key: str,
    n_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed + sorted catalog table: rows are
    hash-partitioned into ``n_buckets`` files by ``key`` AT WRITE TIME
    and sorted within each bucket.

    This is the co-located-join tool: two tables bucketed on the same
    key with the same bucket count join with ZERO Exchange (and with
    ``sortBy`` also zero Sort) — the shuffle happened once at write
    time instead of on every query.  For a 100 TB fact repeatedly
    joined on the same key, this converts the dominant per-query
    shuffle into a one-time layout cost (the plan assertion lives in
    the tests).  Bucketing needs the session catalog (file metadata
    alone cannot carry bucket info), hence ``saveAsTable`` rather than
    a bare parquet path; ``path`` makes it an external table.
    """
    w = df.write.format("parquet").mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def refresh_agg_incremental(
    store: TableStore,
    agg_name: str,
    delta_df,
    keys: list[str],
    sum_cols: list[str],
    count_col: str = "n_rows",
    txn: tuple[str, int] | None = None,
) -> int:
    """Incremental materialized-aggregate maintenance (the Delta Live
    Tables / Materialize pattern): fold an APPEND-ONLY delta batch into
    a stored SUM/COUNT rollup without rescanning the base table.

    Plan: aggregate ONLY the delta (one hash agg over the batch), join
    the touched keys against the stored rollup (size-gated broadcast of
    the delta-key set inside ``upsert``), and write back additive sums.
    Cost is O(delta + touched keys), not O(base) — at a 100 TB fact
    table the full-recompute alternative is the difference between
    seconds and hours.  Equivalence with full recompute is
    property-tested (``test_refresh_agg_incremental_*``).

    Additive folding is exact for SUM/COUNT of exact types (bigint /
    decimal); for floats the fold order differs from a recompute in the
    last ULPs, and AVG/MIN/MAX need retraction logs — out of scope, as
    in every incremental-view engine's additive tier.
    """
    partial = delta_df.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).cast("bigint").alias(count_col),
    )
    if not store.exists(agg_name):
        if txn is not None:
            return store.overwrite(agg_name, partial, txn=txn)
        rows = store.append(agg_name, partial)
        return rows
    current = store.read(agg_name)
    touched = current.join(
        partial.select(*keys).distinct(), keys, "left_semi"
    )
    merged = (
        touched.unionByName(partial)
        .groupBy(*keys)
        .agg(
            *[F.sum(c).alias(c) for c in sum_cols],
            F.sum(count_col).cast("bigint").alias(count_col),
        )
    )
    # upsert's committed count is the post-fold answer; counting
    # ``merged`` AFTER the commit would read files it moved out (the
    # stale-file-listing trap the storage layer docs call out)
    return store.upsert(agg_name, merged, keys, txn=txn)


def file_stats(store: TableStore, name: str, column: str) -> list[dict]:
    """Per-file [min, max] for ``column`` from the head snapshot — the
    statistics Delta keeps in its commit log, recorded once per file
    when its commit was written.  ``None`` bounds mean the file's
    stats prove nothing for this column (unprunable type, all-NULL,
    or too long a string)."""
    files = _files(store, name)
    dtype = store.read(name).schema[column].dataType
    out = []
    for fname, entry in sorted(files.items()):
        lo, hi = entry["stats"].get(column) or (None, None)
        out.append({
            "file": fname,
            "min": None if lo is None else _stat_value(lo, dtype),
            "max": None if hi is None else _stat_value(hi, dtype),
        })
    return out


def scan_pruned(store: TableStore, name: str, column: str, lo, hi):
    """Data skipping (Delta file-pruning parity): read only the files
    whose recorded [min, max] for ``column`` overlaps [lo, hi] — on a
    ``cluster_by``-laid-out table a narrow range scan touches one file
    instead of all of them, the difference between reading 100 TB and
    reading one range's worth.  Files with missing stats are kept
    (never prune on absence).  The returned DataFrame still carries the
    predicate, so correctness never depends on the stats: pruning is an
    IO optimization, the filter is the contract.  Returns ``(df,
    files_read, files_total)``."""
    stats = file_stats(store, name, column)
    root = store.path(name)
    table = store.read(name)
    keep = [
        s["file"]
        for s in stats
        if s["min"] is None or not (s["max"] < lo or s["min"] > hi)
    ]
    if not keep:
        return table.limit(0), 0, len(stats)
    pruned = store.spark.read.schema(table.schema).option(
        "basePath", root
    ).parquet(*[os.path.join(root, f) for f in keep])
    df = pruned.filter((F.col(column) >= lo) & (F.col(column) <= hi))
    return df, len(keep), len(stats)


def build_file_bloom(
    store: TableStore, name: str, column: str,
    m_bits: int = 8192, k_hash: int = 3,
) -> dict[str, list[int]]:
    """Per-FILE bloom filters over ``column`` (Delta's bloom-filter
    index parity): one pass over the table tagged with
    ``input_file_name()``, bit positions folded per (file, word) with a
    map-side-combined ``bit_or`` — at most files * m/64 shuffled rows.
    Returns {file: words}; pair with ``scan_bloom_pruned`` for
    point-lookup file skipping where min/max stats can't help (high
    cardinality, unsorted layout)."""
    from ..operators import bloom as bloom_ops

    # Key by path RELATIVE TO THE TABLE ROOT, not basename: Spark's
    # dynamic-partition writes reuse the same basename
    # (part-NNNNN-<jobuuid>-c000.parquet) across hive partition dirs,
    # so basename keys silently bit_or distinct files into one merged
    # entry (still no false negatives, but pruning degrades and
    # per-file attribution is lost).  input_file_name() returns a URI
    # (file:///...) with percent-escaped characters (space -> %20), so
    # decode it BEFORE locating the filesystem root — matching the raw
    # URI against an unescaped root silently never matches on such
    # paths and the index stops pruning (r7 ADVICE).  url_decode is
    # x-www-form-urlencoded (decodes '+' to space), while URI paths
    # keep '+' literal: pre-escape '+' to %2B so the decode is exact
    # for every %XX sequence.  A literal '%' is always %25 inside the
    # URI, so the pre-escape cannot clash.
    root = store.path(name).rstrip("/")
    decoded = F.url_decode(
        F.regexp_replace(F.input_file_name(), r"\+", "%2B")
    )
    rel = F.substring(
        decoded,
        F.locate(root + "/", decoded) + F.lit(len(root) + 1),
        F.lit(2**30),
    )
    df = store.read(name).select(
        rel.alias("__file"),
        F.col(column).cast("string").alias("__key"),
    )
    pos = df.select(
        "__file",
        F.explode(
            F.array(
                *[
                    bloom_ops._position(F.col("__key"), i, m_bits)
                    for i in range(k_hash)
                ]
            )
        ).alias("pos"),
    )
    words = (
        pos.select(
            "__file",
            (F.col("pos") / 64).cast("int").alias("w"),
            F.element_at(
                bloom_ops._pow2_array(), (F.col("pos") % 64).cast("int") + F.lit(1)
            ).alias("bit"),
        )
        .groupBy("__file", "w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    out: dict[str, list[int]] = {}
    for r in words:
        out.setdefault(r["__file"], [0] * (m_bits // 64))[r["w"]] = int(
            r["word"]
        )
    return out


def _py_bloom_hit(key: str, words: list[int], m_bits: int, k_hash: int) -> bool:
    import hashlib

    for i in range(k_hash):
        h = int(hashlib.md5(f"{key}:{i}".encode()).hexdigest()[:15], 16)
        p = h % m_bits
        if not (words[p // 64] >> (p % 64)) & 1:
            return False
    return True


def scan_bloom_pruned(
    store: TableStore, name: str, column: str, value,
    index: dict[str, list[int]], m_bits: int = 8192, k_hash: int = 3,
):
    """Equality-probe file skipping via the bloom index: read only
    files whose filter says "maybe present".  False means DEFINITELY
    absent (no false negatives), so skipped files cannot lose rows; the
    returned frame still carries the predicate — pruning is IO-only.
    Files missing from the index are kept (never prune on absence).
    The file set is the head snapshot's, hive-partitioned files
    included, keyed by path relative to the table root to match
    ``build_file_bloom`` (basenames collide across hive partition
    dirs).  A table with no data files returns an empty frame;
    ``FileNotFoundError`` is reserved for a table that does not exist.
    Returns ``(df, files_read, files_total)``."""
    files = sorted(_files(store, name))
    root = store.path(name)
    table = store.read(name)
    keep = [
        f
        for f in files
        if f not in index
        or _py_bloom_hit(str(value), index[f], m_bits, k_hash)
    ]
    if not keep:
        return table.limit(0), 0, len(files)
    df = store.spark.read.schema(table.schema).option(
        "basePath", root
    ).parquet(*[os.path.join(root, f) for f in keep])
    return df.filter(F.col(column) == value), len(keep), len(files)
