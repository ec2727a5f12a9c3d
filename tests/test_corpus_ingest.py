"""Incremental corpus dedup scenarios: batch-vs-batch and
batch-vs-corpus exact + near dedup, idempotent re-ingest, and
offline index rebuild parity."""

from __future__ import annotations

import os

import pytest

from delta_lake_gcp_implementation_spark.pipeline import corpus
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore

A = ("the quick brown fox jumps over the lazy dog while the band plays "
     "a slow waltz under clear autumn skies near the old stone bridge")
B = ("distributed query engines shuffle hash partitions across executor "
     "nodes to aggregate massive tables with minimal network transfer cost")
B_NEAR = B[:-4] + "fees"  # last word tweaked: near-dup, not exact
C = ("parquet row groups store columnar statistics enabling predicate "
     "pushdown so scans skip entire chunks without touching the data pages")
D = ("minhash signatures estimate jaccard similarity between shingle sets "
     "allowing locality sensitive hashing to bucket similar documents")


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "corpus_wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_ingest_dedups_within_and_across_batches(spark, store):
    r1 = corpus.ingest_batch(store, _df(spark, [(1, A), (2, B), (3, C)]))
    assert r1 == {
        "batch": 3, "exact_batch_dups": 0, "exact_corpus_dups": 0,
        "near_dups": 0, "accepted": 3, "corpus_size": 3,
    }

    # batch 2: exact copy of A, near copy of B, new doc D, intra dup of D
    r2 = corpus.ingest_batch(
        store, _df(spark, [(11, A), (12, B_NEAR), (13, D), (14, D)])
    )
    assert r2["batch"] == 4
    assert r2["exact_batch_dups"] == 1      # 14 == 13
    assert r2["exact_corpus_dups"] == 1     # 11 == stored A
    assert r2["near_dups"] == 1             # 12 ~ stored B
    assert r2["accepted"] == 1              # only D
    assert r2["corpus_size"] == 4

    accepted_ids = {
        r.doc_id for r in store.read(corpus.DOCS).select("doc_id").collect()
    }
    assert accepted_ids == {1, 2, 3, 13}


def test_reingest_is_fully_absorbed(spark, store):
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B), (3, C)]))
    corpus.ingest_batch(store, _df(spark, [(13, D)]))
    # same content under fresh ids: nothing may enter the corpus
    r = corpus.ingest_batch(
        store, _df(spark, [(21, A), (22, B_NEAR), (23, D), (24, D)])
    )
    assert r["accepted"] == 0
    assert r["corpus_size"] == 4
    # index tables track the corpus exactly
    assert store.count(corpus.SIGS) == 4
    assert store.count(corpus.BANDS) == 4 * (corpus.MH_N // corpus.MH_BAND)


def test_rebuild_index_matches_incremental(spark, store):
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]))
    corpus.ingest_batch(store, _df(spark, [(3, C), (4, D)]))
    inc_sigs = sorted(map(tuple, store.read(corpus.SIGS).collect()))
    inc_bands = sorted(map(tuple, store.read(corpus.BANDS).collect()))
    r = corpus.rebuild_index(store)
    assert r["docs"] == 4
    assert sorted(map(tuple, store.read(corpus.SIGS).collect())) == inc_sigs
    assert sorted(map(tuple, store.read(corpus.BANDS).collect())) == inc_bands


def test_hot_bucket_cap_counts_combined_membership(spark, tmp_path):
    """The candidate-join cap counts batch + STORED incidence combined
    (round 8): with B already in the corpus, B_NEAR's shared buckets
    hold 2 members, so max_bucket=1 skips them (near-dup missed, doc
    accepted — bounded-cost trade) while max_bucket=2 keeps them
    (near-dup caught).  Proves the cap engages on the cross-corpus arm
    and that the stored side participates in the count."""
    s1 = TableStore(spark, str(tmp_path / "cap1"))
    corpus.ingest_batch(s1, _df(spark, [(1, B)]))
    r = corpus.ingest_batch(s1, _df(spark, [(2, B_NEAR)]), max_bucket=1)
    assert r["near_dups"] == 0 and r["accepted"] == 1

    s2 = TableStore(spark, str(tmp_path / "cap2"))
    corpus.ingest_batch(s2, _df(spark, [(1, B)]))
    r = corpus.ingest_batch(s2, _df(spark, [(2, B_NEAR)]), max_bucket=2)
    assert r["near_dups"] == 1 and r["accepted"] == 0

    # max_bucket=None restores the uncapped baseline semantics
    s3 = TableStore(spark, str(tmp_path / "cap3"))
    corpus.ingest_batch(s3, _df(spark, [(1, B)]))
    r = corpus.ingest_batch(s3, _df(spark, [(2, B_NEAR)]), max_bucket=None)
    assert r["near_dups"] == 1 and r["accepted"] == 0


def test_streaming_ingest_dedups_across_microbatches(spark, store, tmp_path):
    """File-source stream of document drops: later micro-batches dedup
    against the corpus built by earlier ones, and a checkpointed re-run
    reprocesses nothing."""
    drops = str(tmp_path / "doc_drops")
    _df(spark, [(1, A), (2, B)]).write.mode("append").parquet(drops)
    _df(spark, [(11, A), (12, B_NEAR), (13, D)]).write.mode("append").parquet(drops)

    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    ckpt = str(tmp_path / "corpus_ckpt")
    corpus.ingest_stream(store, stream, ckpt)

    ids = {r.doc_id for r in store.read(corpus.DOCS).select("doc_id").collect()}
    # 11 (exact dup of A) and 12 (near dup of B) absorbed; micro-batch
    # order over two files is offset order, so 1/2 land before 11-13
    assert ids == {1, 2, 13}

    # checkpointed re-run: committed offsets -> corpus unchanged
    stream2 = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
    )
    corpus.ingest_stream(store, stream2, ckpt)
    assert store.count(corpus.DOCS) == 3


def test_second_stream_with_fresh_checkpoint_is_not_marker_skipped(
    spark, store, tmp_path
):
    """ADVICE r13: the stream's txn app_id derives from the checkpoint
    location, so a SECOND streaming query (new checkpoint, batch_ids
    restarting at 0) pointed at the same store starts its own marker
    chain — a shared hardcoded app_id silently marker-skipped its
    first batches against the first query's markers."""
    drops1 = str(tmp_path / "drops_q1")
    _df(spark, [(1, A), (2, B)]).write.mode("append").parquet(drops1)
    corpus.ingest_stream(
        store,
        spark.readStream.schema("doc_id LONG, text STRING").parquet(drops1),
        str(tmp_path / "ckpt_q1"),
    )
    assert store.count(corpus.DOCS) == 2

    drops2 = str(tmp_path / "drops_q2")
    _df(spark, [(21, C), (22, D)]).write.mode("append").parquet(drops2)
    corpus.ingest_stream(
        store,
        spark.readStream.schema("doc_id LONG, text STRING").parquet(drops2),
        str(tmp_path / "ckpt_q2"),
    )
    ids = {r.doc_id for r in store.read(corpus.DOCS).select("doc_id").collect()}
    assert ids == {1, 2, 21, 22}


def test_catalog_verdict_matches_pipeline_accounting(spark):
    """The oracle-checked catalog surface (corpusq) must agree with the
    accounting dicts of a hand-run two-batch ingest over the same
    split."""
    import pyspark.sql.functions as F

    from delta_lake_gcp_implementation_spark.plans import corpusq as CQ

    sf = "/root/testdata/sf0.001"
    out = CQ.q_corpus_ingest_verdict(spark, sf).collect()
    n_total = len(out)
    n_accepted = sum(1 for r in out if r.accepted)
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    )
    import tempfile, shutil

    root = tempfile.mkdtemp(prefix="corpus_acct_")
    try:
        store = TableStore(spark, root)
        r1 = corpus.ingest_batch(store, docs.filter(F.col("doc_id") % 2 == 0))
        r2 = corpus.ingest_batch(store, docs.filter(F.col("doc_id") % 2 == 1))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    assert r1["batch"] + r2["batch"] == n_total
    assert r2["corpus_size"] == n_accepted
    assert r1["accepted"] + r2["accepted"] == n_accepted


def test_streaming_ingest_recovers_after_midstream_crash(spark, tmp_path):
    """Kill the stream after a micro-batch's side effects committed but
    before its offset did (the worst restart window), restart from the
    same checkpoint, and require the final corpus + index tables to be
    row-identical to a clean batch run — the exactly-once-ish claim of
    ingest_stream under actual failure, not just clean runs."""
    drops = str(tmp_path / "crash_drops")
    f1 = [(1, A), (2, B)]
    f2 = [(11, A), (12, B_NEAR), (13, D)]
    f3 = [(21, C), (22, D)]
    for rows in (f1, f2, f3):
        _df(spark, rows).write.mode("append").parquet(drops)

    store = TableStore(spark, str(tmp_path / "wh_stream_crash"))
    ckpt = str(tmp_path / "crash_ckpt")

    real_ingest = corpus.ingest_batch
    calls = {"n": 0}

    def crashing_ingest(st, batch, **kw):
        calls["n"] += 1
        out = real_ingest(st, batch, **kw)
        if calls["n"] == 2:
            # side effects are fully committed; the offset is not
            raise RuntimeError("injected crash after commit")
        return out

    def make_stream():
        return (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )

    corpus.ingest_batch = crashing_ingest
    try:
        with pytest.raises(Exception, match="injected crash"):
            corpus.ingest_stream(store, make_stream(), ckpt)
    finally:
        corpus.ingest_batch = real_ingest

    # restart: the crashed micro-batch is re-delivered and must be
    # absorbed (its content is already in the corpus), then the stream
    # finishes the remaining files
    corpus.ingest_stream(store, make_stream(), ckpt)

    ids = {r.doc_id for r in store.read(corpus.DOCS).select("doc_id").collect()}
    assert ids == {1, 2, 13, 21}

    # row-identical to a clean batch run over the same file sequence
    batch_store = TableStore(spark, str(tmp_path / "wh_batch_ref"))
    for rows in (f1, f2, f3):
        corpus.ingest_batch(batch_store, _df(spark, rows))
    for table in (corpus.DOCS, corpus.SIGS, corpus.BANDS, corpus.COUNTS):
        got = sorted(tuple(r) for r in store.read(table).collect())
        want = sorted(tuple(r) for r in batch_store.read(table).collect())
        assert got == want, f"{table} diverged after crash-restart"


# ---------------------------------------------------------------- txn replay


def _tables_snapshot(store):
    return {
        t: sorted(tuple(r) for r in store.read(t).collect())
        for t in (corpus.DOCS, corpus.SIGS, corpus.BANDS)
    }


def _bucket_counts(store):
    return sorted(
        tuple(r)
        for r in corpus._stored_bucket_counts(store).collect()
    )


def _clean_reference(spark, tmp_path, batches):
    ref = TableStore(spark, str(tmp_path / "wh_txn_ref"))
    for i, rows in enumerate(batches):
        corpus.ingest_batch(ref, _df(spark, rows), txn=("app", i))
    return ref


@pytest.mark.parametrize("crash_table", [corpus.SIGS, corpus.BANDS])
def test_txn_replay_after_partial_index_commit(
    spark, tmp_path, crash_table
):
    """Crash AFTER one index append committed but before the batch's
    DOCS commit point: the replay must marker-skip the committed
    append, recompute against the PRE-BATCH index view, and land a
    final state row-identical to a clean run — including the counts
    log.  This is the window the absorb-only idempotency could not
    cover (the old DOCS-first order left replayed docs permanently
    unindexed)."""
    b1 = [(1, A), (2, B)]
    b2 = [(11, A), (12, B_NEAR), (13, D), (14, C)]
    store = TableStore(spark, str(tmp_path / "wh_txn_crash"))
    corpus.ingest_batch(store, _df(spark, b1), txn=("app", 0))

    real_append = store.append

    def crashing_append(name, df, **kw):
        rows = real_append(name, df, **kw)
        if name == crash_table:
            raise RuntimeError("injected crash after index append")
        return rows

    store.append = crashing_append
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    finally:
        store.append = real_append

    # the crashed batch's docs are NOT in the corpus yet (DOCS is the
    # commit point) …
    assert store.last_txn_version(corpus.DOCS, "app") == 0
    # … and the replay completes it exactly once
    r = corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    assert r["accepted"] == 2 and r["near_dups"] == 1

    ref = _clean_reference(spark, tmp_path, [b1, b2])
    assert _tables_snapshot(store) == _tables_snapshot(ref)
    assert _bucket_counts(store) == _bucket_counts(ref)


def test_txn_replay_with_bands_committed_but_sigs_never(spark, tmp_path):
    """r16: the SIGS and BANDS appends run concurrently (they never had
    a mutual order — replay checks their markers independently), which
    makes {BANDS committed, SIGS never attempted-to-commit} a reachable
    crash subset.  Pin it deterministically: SIGS raises BEFORE its
    commit while BANDS commits, then the replay must marker-skip BANDS,
    recompute SIGS against the pre-batch view, and land row-identical
    to a clean run."""
    b1 = [(1, A), (2, B)]
    b2 = [(11, A), (12, B_NEAR), (13, D), (14, C)]
    store = TableStore(spark, str(tmp_path / "wh_txn_sigfail"))
    corpus.ingest_batch(store, _df(spark, b1), txn=("app", 0))

    real_append = store.append

    def failing_sigs_append(name, df, **kw):
        if name == corpus.SIGS:
            raise RuntimeError("injected crash before SIGS commit")
        return real_append(name, df, **kw)

    store.append = failing_sigs_append
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    finally:
        store.append = real_append

    assert store.last_txn_version(corpus.DOCS, "app") == 0
    assert store.last_txn_version(corpus.BANDS, "app") == 1
    assert (store.last_txn_version(corpus.SIGS, "app") or 0) == 0

    r = corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    assert r["accepted"] == 2 and r["near_dups"] == 1

    ref = _clean_reference(spark, tmp_path, [b1, b2])
    assert _tables_snapshot(store) == _tables_snapshot(ref)
    assert _bucket_counts(store) == _bucket_counts(ref)


def _fail_claims_of(monkeypatch, name):
    """Make every commit claim (``os.link`` into the log) of table
    ``name`` raise — a crash after its data write, before its
    commit."""
    from delta_lake_gcp_implementation_spark.pipeline import storage as S

    real = S.os.link
    log = name.replace(".", "__") + ".__log__"

    def link(src, dst):
        if log in dst:
            raise OSError("injected crash at the claim")
        return real(src, dst)

    monkeypatch.setattr(S.os, "link", link)


def _no_stages(store):
    return not [d for d in os.listdir(store.root) if ".__stage__" in d]


def test_txn_replay_discards_uncommitted_residue(spark, tmp_path, monkeypatch):
    """Crash BETWEEN an index append's data write and its commit claim:
    the written files sit in a stage dir no commit names, so the
    replay neither sees nor adopts them — it re-appends once and lands
    a clean-run state, and vacuum removes the dead stage."""
    b1 = [(1, A), (2, B)]
    b2 = [(13, D), (14, C)]
    store = TableStore(spark, str(tmp_path / "wh_txn_residue"))
    corpus.ingest_batch(store, _df(spark, b1), txn=("app", 0))

    _fail_claims_of(monkeypatch, corpus.SIGS)
    with pytest.raises(OSError, match="injected"):
        corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    monkeypatch.undo()
    assert not _no_stages(store)
    assert (store.last_txn_version(corpus.SIGS, "app") or 0) == 0

    r = corpus.ingest_batch(store, _df(spark, b2), txn=("app", 1))
    assert r["accepted"] == 2
    assert any(".__stage__" in p for p in store.vacuum())
    assert _no_stages(store)

    ref = _clean_reference(spark, tmp_path, [b1, b2])
    assert _tables_snapshot(store) == _tables_snapshot(ref)
    assert _bucket_counts(store) == _bucket_counts(ref)


def test_txn_fully_applied_batch_skips_in_o1(spark, tmp_path):
    """A replayed batch whose DOCS marker is present returns without
    touching any table — the O(1) fast path."""
    store = TableStore(spark, str(tmp_path / "wh_txn_skip"))
    corpus.ingest_batch(store, _df(spark, [(1, A), (2, B)]), txn=("app", 0))
    before = _tables_snapshot(store)
    versions = {
        t: store.current_version(t)
        for t in (corpus.DOCS, corpus.SIGS, corpus.BANDS, corpus.COUNTS)
    }

    r = corpus.ingest_batch(
        store, _df(spark, [(1, A), (2, B)]), txn=("app", 0)
    )
    assert r["replayed"] is True and r["corpus_size"] == 2
    assert _tables_snapshot(store) == before
    assert versions == {
        t: store.current_version(t)
        for t in (corpus.DOCS, corpus.SIGS, corpus.BANDS, corpus.COUNTS)
    }


def test_txn_first_batch_residue_is_removed_whole(
    spark, tmp_path, monkeypatch
):
    """Crash during the FIRST-ever batch between an index table's data
    write and its first commit claim: the table must not exist
    afterwards (no half-created table that a replay could not append
    to — r13 review), and the replay lands a clean-run state."""
    b1 = [(1, A), (2, B)]
    store = TableStore(spark, str(tmp_path / "wh_txn_first"))
    _fail_claims_of(monkeypatch, corpus.SIGS)
    with pytest.raises(OSError, match="injected"):
        corpus.ingest_batch(store, _df(spark, b1), txn=("app", 0))
    monkeypatch.undo()
    assert not store.exists(corpus.SIGS)
    assert not store.exists(corpus.DOCS)

    r = corpus.ingest_batch(store, _df(spark, b1), txn=("app", 0))
    assert r["accepted"] == 2

    ref = _clean_reference(spark, tmp_path, [b1])
    assert _tables_snapshot(store) == _tables_snapshot(ref)
    assert _bucket_counts(store) == _bucket_counts(ref)
