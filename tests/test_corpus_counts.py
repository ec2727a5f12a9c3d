"""Incremental bucket-count bookkeeping for the corpus-ingest
hot-bucket cap (round 9): the persisted ``corpus.bucket_counts`` table
must equal a from-scratch ``GROUP BY bucket`` recount of the incidence
list after every batch, legacy stores must migrate once, and
``rebuild_index`` must rebuild it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops
from delta_lake_gcp_implementation_spark.pipeline import corpus
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

# same corpus fixtures as test_corpus_ingest (tests/ is not a package,
# so they are restated rather than imported)
A = ("the quick brown fox jumps over the lazy dog while the band plays "
     "a slow waltz under clear autumn skies near the old stone bridge")
B = ("distributed query engines shuffle hash partitions across executor "
     "nodes to aggregate massive tables with minimal network transfer cost")
B_NEAR = B[:-4] + "fees"  # last word tweaked: near-dup, not exact
C = ("parquet row groups store columnar statistics enabling predicate "
     "pushdown so scans skip entire chunks without touching the data pages")
D = ("minhash signatures estimate jaccard similarity between shingle sets "
     "allowing locality sensitive hashing to bucket similar documents")
E = ("columnar execution engines vectorize expression evaluation across "
     "record batches so tight loops stay inside cpu caches at full speed")


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "corpus_counts_wh"))


def _counts_rows(store):
    # COUNTS is a delta log since r10: the invariant is on the
    # per-bucket SUM, which _stored_bucket_counts materializes
    return sorted(
        (r.bucket, r.n_docs)
        for r in corpus._stored_bucket_counts(store).collect()
    )


def _recount_rows(store):
    return sorted(
        (r.bucket, r.n_docs)
        for r in store.read(corpus.BANDS)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .collect()
    )


def _bands_reads(store, monkeypatch) -> list:
    """Record every read of the incidence list from now on: an ingest
    reads it once for its candidate join, plus once per recount of the
    COUNTS log."""
    reads = []
    real = store.read

    def read(name):
        if name == corpus.BANDS:
            reads.append(name)
        return real(name)

    monkeypatch.setattr(store, "read", read)
    return reads


def test_counts_match_recount_after_three_batches(spark, store):
    """The verdict's invariant: after several batches (including
    absorbed duplicates, whose band rows never land), the incremental
    counts table equals a from-scratch recount of the incidence list."""
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    corpus.ingest_batch(store, _df(spark, [(11, A), (12, B_NEAR), (13, D)]))
    corpus.ingest_batch(store, _df(spark, [(21, C), (22, D), (23, E)]))
    rows = _counts_rows(store)
    assert rows == _recount_rows(store)
    # sanity: the counts really cover the accepted corpus (docs x bands)
    assert sum(n for _, n in rows) == store.count(corpus.BANDS)
    assert all(n >= 1 for _, n in rows)


def _legacy_ingest(store, df):
    """Persist exactly what the pre-r9 (no counts table) ingest wrote:
    docs, signatures, band incidence."""
    store.append(
        corpus.DOCS,
        df.withColumn("content_hash", F.md5("text")).select(
            "doc_id", "text", "content_hash"
        ),
    )
    sigs = corpus._signatures(df, "doc_id", "text").localCheckpoint()
    store.append(corpus.SIGS, sigs)
    store.append(
        corpus.BANDS,
        dedup_ops.minhash_band_incidence(
            sigs, "doc_id", n_hashes=corpus.MH_N, band_size=corpus.MH_BAND
        ),
    )


def test_legacy_store_migrates_then_stays_incremental(spark, store):
    """A store created before the counts table existed gains it via a
    one-time recount (on the next ingest), after which the invariant
    holds batch over batch."""
    _legacy_ingest(store, _df(spark, [(1, A), (2, B), (3, C)]))
    assert not store.exists(corpus.COUNTS)

    r = corpus.ingest_batch(store, _df(spark, [(11, D), (12, B_NEAR)]))
    assert r["near_dups"] == 1 and r["accepted"] == 1
    assert store.exists(corpus.COUNTS)
    assert _counts_rows(store) == _recount_rows(store)

    corpus.ingest_batch(store, _df(spark, [(21, E)]))
    assert _counts_rows(store) == _recount_rows(store)


def test_capped_ingest_reads_counts_not_incidence(spark, store):
    """The cap decision must come from the counts table: poison the
    incidence-derived recount by upserting an inflated count for every
    bucket and require the next batch's near-dup join to be skipped
    (cap engaged) even though the true incidence is tiny — proving the
    check is O(batch) bookkeeping, not an O(corpus) re-aggregation."""
    corpus.ingest_batch(store, _df(spark, [(1, B)]))
    inflated = store.read(corpus.COUNTS).select(
        "bucket", (F.col("n_docs") + F.lit(1000)).cast("bigint").alias("n_docs")
    )
    store.upsert(corpus.COUNTS, inflated, keys=["bucket"])
    r = corpus.ingest_batch(store, _df(spark, [(2, B_NEAR)]))
    # every shared bucket now reads >MAX_BUCKET members: near-dup missed
    assert r["near_dups"] == 0 and r["accepted"] == 1


def test_rebuild_index_rebuilds_counts(spark, store):
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    corpus.ingest_batch(store, _df(spark, [(3, C), (4, D)]))
    inc = _counts_rows(store)
    r = corpus.rebuild_index(store)
    assert r["buckets"] == len(inc)
    assert _counts_rows(store) == inc == _recount_rows(store)


def test_crash_between_bands_append_and_counts_self_heals(spark, store):
    """ADVICE r9: a crash after ``store.append(BANDS, ...)`` but before
    the counts bookkeeping used to leave the log understated FOREVER
    (the migration recount only fired when COUNTS was absent).  The
    log's sync mark now exposes the divergence and the next ingest
    recounts."""
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    # simulate the crash window: extra incidence rows land, counts
    # bookkeeping never runs
    sigs = corpus._signatures(
        _df(spark, [(99, C)]), "doc_id", "text"
    ).localCheckpoint()
    store.append(
        corpus.BANDS,
        dedup_ops.minhash_band_incidence(
            sigs, "doc_id", n_hashes=corpus.MH_N, band_size=corpus.MH_BAND
        ),
    )
    assert _counts_rows(store) != _recount_rows(store)  # broken state
    corpus.ingest_batch(store, _df(spark, [(11, D)]))
    assert _counts_rows(store) == _recount_rows(store)  # healed


def test_orphan_bands_files_adopted_and_healed(spark, store, monkeypatch):
    """ADVICE r10 (the narrower crash class): a BANDS append that dies
    after its commit claim but before its files reach the live dir.
    Its rows are committed — the next read rolls the apply forward —
    while the counts bookkeeping never ran, so the version-keyed sync
    check must notice and recount on the next ingest."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    sigs = corpus._signatures(
        _df(spark, [(99, C)]), "doc_id", "text"
    ).localCheckpoint()
    bands = dedup_ops.minhash_band_incidence(
        sigs, "doc_id", n_hashes=corpus.MH_N, band_size=corpus.MH_BAND
    )

    def crash(src, dst):
        raise OSError("injected crash in the apply")

    monkeypatch.setattr(S.os, "rename", crash)
    with pytest.raises(OSError, match="injected"):
        store.append(corpus.BANDS, bands)
    monkeypatch.undo()
    assert _counts_rows(store) != _recount_rows(store)  # broken state
    corpus.ingest_batch(store, _df(spark, [(11, D)]))
    assert _counts_rows(store) == _recount_rows(store)  # healed
    assert store.count(corpus.BANDS) == store.read(corpus.BANDS).count()


def test_first_batch_skips_noop_compaction(spark, store):
    """ADVICE r10: with no sync state, base defaulted to 1, so any
    first batch with >4 buckets immediately rewrote the COUNTS table it
    had just created.  The creating overwrite must now be the ONLY
    commit, and its sync mark records the baseline at the written row
    count."""
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B), (3, C)]))
    assert store.count(corpus.COUNTS) > corpus._COUNTS_COMPACT_FACTOR
    assert store.current_version(corpus.COUNTS) == 1  # one commit only
    assert corpus._sync_state(store) == (
        store.current_version(corpus.BANDS), store.count(corpus.COUNTS), 0
    )


def test_counts_log_compacts_on_append_count(spark, store, monkeypatch):
    """ADVICE r10: many tiny batches over a large bucket population
    accumulate a parquet file-set + manifest per append long before the
    row-factor trigger fires; the append-count trigger bounds that."""
    corpus.ingest_batch(store, _df(spark, [(1, A)]))
    monkeypatch.setattr(corpus, "_COUNTS_COMPACT_APPENDS", 1)
    corpus.ingest_batch(store, _df(spark, [(11, B)]))
    # row factor (4x) is nowhere near exceeded by two similar batches,
    # so only the append-count trigger explains a compacted log
    distinct_buckets = (
        store.read(corpus.COUNTS).select("bucket").distinct().count()
    )
    assert store.count(corpus.COUNTS) == distinct_buckets
    assert _counts_rows(store) == _recount_rows(store)
    assert corpus._sync_state(store)[2] == 0  # appends since compaction


def test_counts_log_appends_then_compacts(spark, store, monkeypatch):
    """Per-batch bookkeeping must APPEND delta rows (no table rewrite);
    once the log outgrows the compaction factor it collapses back to
    one row per bucket, invariant intact throughout."""
    corpus.ingest_batch(store, _df(spark, [(1, A)]))
    base_rows = store.count(corpus.COUNTS)
    corpus.ingest_batch(store, _df(spark, [(11, B)]))
    # factor 4 not yet exceeded: the log holds BOTH batches' delta rows
    assert store.count(corpus.COUNTS) > base_rows
    assert _counts_rows(store) == _recount_rows(store)
    # force the threshold: the next batch's bookkeeping must compact
    monkeypatch.setattr(corpus, "_COUNTS_COMPACT_FACTOR", 1)
    corpus.ingest_batch(store, _df(spark, [(21, C)]))
    distinct_buckets = (
        store.read(corpus.COUNTS).select("bucket").distinct().count()
    )
    assert store.count(corpus.COUNTS) == distinct_buckets  # compacted
    assert _counts_rows(store) == _recount_rows(store)


def test_counts_head_without_sync_mark_forces_one_recount(
    spark, store, monkeypatch
):
    """A COUNTS head that carries no sync mark (a store written before
    the mark existed, or a partial restore) must force ONE recount on
    the next ingest rather than trusting the existing COUNTS log
    blindly."""
    import shutil

    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    counts = store.read(corpus.COUNTS)
    # re-create the log without the mark, poisoned so only a recount
    # can restore the invariant
    poisoned = spark.createDataFrame(
        counts.select(
            "bucket", (F.col("n_docs") + 500).cast("bigint").alias("n_docs")
        ).collect(),
        counts.schema,
    )
    for suffix in ("", ".__log__", ".__v__"):
        shutil.rmtree(store.path(corpus.COUNTS) + suffix, ignore_errors=True)
    store.overwrite(corpus.COUNTS, poisoned)
    assert corpus._sync_state(store) is None
    assert _counts_rows(store) != _recount_rows(store)
    reads = _bands_reads(store, monkeypatch)
    corpus.ingest_batch(store, _df(spark, [(11, C)]))
    assert len(reads) == 2  # the candidate join and ONE recount
    assert _counts_rows(store) == _recount_rows(store)


def test_crash_right_after_the_counts_commit_needs_no_recount(
    spark, store, monkeypatch
):
    """The sync state commits atomically with the counts it describes:
    a batch that dies right after its COUNTS append commit leaves a log
    the next batch trusts — no O(corpus) recount from the incidence
    list."""
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    real_append = store.append

    def append(name, df, **kwargs):
        n = real_append(name, df, **kwargs)
        if name == corpus.COUNTS:
            raise RuntimeError("injected crash after the COUNTS commit")
        return n

    monkeypatch.setattr(store, "append", append)
    with pytest.raises(RuntimeError, match="injected"):
        corpus.ingest_batch(store, _df(spark, [(11, C)]))
    monkeypatch.undo()
    assert _counts_rows(store) == _recount_rows(store)
    reads = _bands_reads(store, monkeypatch)
    corpus.ingest_batch(store, _df(spark, [(21, D)]))
    assert len(reads) == 1  # the candidate join only
    assert _counts_rows(store) == _recount_rows(store)


def test_no_bookkeeping_file_outside_the_logs(spark, store, monkeypatch):
    """All COUNTS bookkeeping lives in its commits: after several
    batches, a compaction and ``vacuum()``, the store root holds no
    JSON file outside a ``__log__`` dir."""
    import glob
    import os

    monkeypatch.setattr(corpus, "_COUNTS_COMPACT_APPENDS", 2)
    for i, text in enumerate((A, B, C, D)):
        corpus.ingest_batch(store, _df(spark, [(10 * i + 1, text)]))
    ops = [v["op"] for v in store.versions(corpus.COUNTS)]
    assert "append" in ops and "replace" in ops[1:]  # compacted
    assert _counts_rows(store) == _recount_rows(store)
    store.vacuum()
    stray = [
        p
        for p in glob.glob(
            os.path.join(store.root, "**", "*.json"), recursive=True
        )
        if ".__log__" not in p
    ]
    assert stray == []
