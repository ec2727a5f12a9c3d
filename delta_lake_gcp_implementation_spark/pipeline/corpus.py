"""Incremental corpus deduplication: ingest document batches against
the full historical corpus WITHOUT re-processing it.

The batch-at-a-time form of the textops dedup family: a 100 TB corpus
is deduplicated once, then every new batch must join against persisted
*index* tables (content hashes, MinHash signatures, LSH band buckets)
— never against the corpus text.  The only corpus text ever re-read is
the tiny slice that LSH candidates name, for the exact verify step.

Tables (all through :class:`~.storage.TableStore`, so counts are
write-observed and spark.sql-addressable):

- ``corpus.documents``      (doc_id, text, content_hash)
- ``corpus.minhash_sigs``   (doc_id, mh_0..mh_{N-1})
- ``corpus.minhash_bands``  (doc_id, bucket)   — LSH incidence list
- ``corpus.bucket_counts``  (bucket, n_docs)   — per-bucket membership
  DELTA LOG (round 10): each batch appends its per-bucket deltas,
  readers sum per bucket, and the log compacts back to one row per
  bucket once it outgrows ``_COUNTS_COMPACT_FACTOR`` x its
  post-compaction size (invariant: the per-bucket SUM equals
  ``GROUP BY bucket`` over ``corpus.minhash_bands`` after every batch)

Per batch the plan is:

1. intra-batch W1 exact dedup (hash groupBy, lowest id wins);
2. cross-corpus exact dedup: anti-join on ``content_hash`` (an
   equi-join against an index column, not a text comparison);
3. near-dup candidates: the batch's band incidence equi-joins the
   stored incidence (corpus side) and itself (intra-batch, id_a <
   id_b) — linear in batch size, never a corpus self-join;
4. signature-agreement precision filter, then exact n-gram Jaccard
   verify over ONLY the candidate ids (corpus text semi-joined down to
   the handful of matched old docs);
5. survivors append to all three tables (write-observed counts).

Drop rule: a new doc is dropped if it near-matches any corpus doc or
any lower-id doc of the same batch — the conservative transitive
greedy rule (if b matches the corpus and c matches b, c is dropped
too: c is transitively a near-dup of corpus content).

Scale shape: every join is an equi-join on a hash/bucket/id column;
the corpus never re-shingles; index tables grow linearly with the
ACCEPTED corpus.  Only MH_N / MH_K / MH_BAND shape the PERSISTED
index, and those must equal ``plans.textops``'s module constants so
an offline rebuild of the index matches the incremental one
bit-for-bit.  MIN_AGREE and JACCARD_THRESHOLD, by contrast, are
per-run filter knobs applied at candidate-verify time — they
intentionally differ from textops' looser test-scale settings and may
be tuned without invalidating any stored table.

Hot-bucket cap (round 8): the candidate joins skip LSH buckets whose
COMBINED membership (batch + stored incidence) exceeds ``MAX_BUCKET``
— the same cap rule as
:func:`..operators.dedup.minhash_candidate_pairs` (default-ON here in
``ingest_batch``; opt-in there, where ``max_bucket`` defaults to
``None``).  The pair list is
quadratic in bucket size, and the 100x end-to-end rehearsal measured
3.17e9 candidate pairs uncapped (one boilerplate mega-bucket of 43k
docs alone contributing 9.3e8, i.e. one straggler task spill-sorting
for >30 min) vs 1.29e6 capped — 2456x less work.  The recall cost of
the cap is measured CONTINUOUSLY by the ``lsh_dedup_recall`` catalog
key; mega-bucket members the cap skips are boilerplate clusters whose
connectivity the linear incidence + connected-components path
(``dup_clusters``) recovers without ever enumerating pairs.  The cap
is applied at JOIN time only — the persisted index stays uncapped, so
tightening or loosening it never invalidates stored tables.

Incremental cap bookkeeping: the combined membership check reads the
persisted ``corpus.bucket_counts`` delta log, never the FULL stored
incidence list (O(corpus) per batch).  Each batch APPENDS its
per-bucket delta rows, and ``_add_bucket_counts`` compacts the log back
to one row per bucket once its rows OR its appends outgrow a bound.
Every COUNTS commit carries the log's sync state as a snapshot mark
(``_SYNC``), atomically with the counts it describes, so one O(1) head
read tells ``_ensure_bucket_counts`` whether the log reflects the
committed BANDS; a log without the mark, or one a crash between the
BANDS and COUNTS appends left behind, is recounted once from the
incidence list.  The invariant (per-bucket SUM
of the log == GROUP BY over the incidence list) is asserted by
``tests/test_corpus_counts.py`` after multiple batches, crashes, and
compactions.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..checkpoints import checkpoint, owned_checkpoints
from ..operators import dedup as dedup_ops
from .storage import TableStore

#: Persisted-index parameters — MUST match plans.textops
#: (_MH_N/_MH_K/_MH_BAND) so incremental and offline-rebuilt index
#: tables are bit-for-bit interchangeable.
MH_N = 8
MH_K = 5
MH_BAND = 2
#: Per-run FILTER knobs (nothing persisted depends on them): this
#: pipeline verifies near-dups at high precision, so they are
#: deliberately stricter than textops' exploratory _MH_MIN_AGREE=4 /
#: threshold 0.5 — do NOT "fix" them to match.
MIN_AGREE = 6
JACCARD_THRESHOLD = 0.8
#: Hot-bucket cap for the candidate joins (module docstring, "Hot-
#: bucket cap"): buckets whose combined batch+stored membership
#: exceeds this are skipped before any pair is formed.  Same default
#: as the offline generators' ``_LSH_MAX_BUCKET``.
MAX_BUCKET = 64

DOCS = "corpus.documents"
SIGS = "corpus.minhash_sigs"
BANDS = "corpus.minhash_bands"
COUNTS = "corpus.bucket_counts"


def _signatures(batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
    sh = dedup_ops.char_shingles(batch, text_col, id_col, k=MH_K)
    return dedup_ops.minhash_signatures(sh, id_col, n_hashes=MH_N)


def _recount_buckets(bands: DataFrame) -> DataFrame:
    return bands.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


#: COUNTS delta-log compaction trigger: compact when the log holds
#: more than this many times the rows it held right after the last
#: compaction.  Each bucket row is then rewritten once per ~3x log
#: growth — amortized O(1) write cost per appended delta row.
_COUNTS_COMPACT_FACTOR = 4
#: Secondary compaction trigger (ADVICE r10): compact after this many
#: APPENDS since the last compaction regardless of row growth.  Each
#: append adds a parquet file-set + commit, so many small
#: batches over a large bucket population would otherwise accumulate
#: thousands of small files before the row-factor trigger ever fires;
#: this bounds file/commit count independently of row count.
_COUNTS_COMPACT_APPENDS = 32


#: Snapshot mark of the COUNTS log's sync state, offered by every
#: COUNTS commit: ``[bands_version, compacted, base_rows, appends]`` —
#: the committed BANDS version the log reflects, 1 for a rewrite (0 for
#: an append), the log size at the last compaction and the appends
#: since (the two compaction triggers).  The snapshot keeps the larger
#: value: the BANDS version grows with every batch, and a batch's
#: compaction follows its append.
_SYNC = "counts_sync"


def _sync_mark(
    store: TableStore, compacted: bool, base_rows: int = 0, appends: int = 0
) -> tuple[str, list]:
    version = store.current_version(BANDS)
    return _SYNC, [version, int(compacted), base_rows, appends]


def _sync_state(store: TableStore) -> tuple[int, int, int] | None:
    """``(bands_version, base_rows, appends)`` from the COUNTS head's
    sync mark, or None.  A rewrite cannot know its size before its
    commit, so after one ``base_rows`` is the head's row count."""
    head = store.snapshot(COUNTS)
    mark = head["marks"].get(_SYNC) if head else None
    if mark is None:
        return None
    version, compacted, base_rows, appends = mark
    return version, head["row_count"] if compacted else base_rows, appends


def _stored_bucket_counts(store: TableStore) -> DataFrame:
    """Aggregated read of the COUNTS delta log: one (bucket, n_docs)
    row per bucket.  Map-side-combined sum over a table that is at
    most ``_COUNTS_COMPACT_FACTOR`` x the distinct-bucket count."""
    return store.read(COUNTS).groupBy("bucket").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs")
    )


def _ensure_bucket_counts(store: TableStore) -> None:
    """Make the COUNTS log trustworthy before it is read or appended:

    * pre-counts store (migration): recount ONCE from the incidence
      list and persist — must run before any append the recount should
      not include (call order in ``ingest_batch`` guarantees it);
    * stale log (ADVICE r9 self-heal): the log's sync mark records
      which committed BANDS version it reflects; a crash between the
      BANDS append and the counts bookkeeping leaves them out of sync,
      so a mark/head-version mismatch (both O(1) head reads) — or a
      head with no mark — triggers the same recount instead of
      silently understating the cap forever."""
    if not store.exists(BANDS):
        return
    sync = _sync_state(store)
    if sync is None or sync[0] != store.current_version(BANDS):
        store.overwrite(
            COUNTS, _recount_buckets(store.read(BANDS)),
            mark=_sync_mark(store, compacted=True),
        )


def _add_bucket_counts(store: TableStore, new_bands: DataFrame) -> None:
    """Append the per-bucket membership delta for freshly appended
    incidence rows — O(batch) bookkeeping that never reads, joins, or
    rewrites existing counts.  COUNTS is an
    LSM-style delta log — readers sum per bucket
    (``_stored_bucket_counts``) — compacted back to one row per bucket
    when it outgrows ``_COUNTS_COMPACT_FACTOR`` x its post-compaction
    size, so the full rewrite cost amortizes across batches.  Same
    persisted-bookmark shape as the reference's incremental watermark
    (`shared/write_watermark.py:59-65`: derive the new state from the
    batch, persist it, read it back next run instead of re-scanning
    history).

    (Bucket-RANGE partitioning was considered and rejected: bucket ids
    are md5-uniform, so any real batch touches every range shard and
    partition pruning never engages — the delta log is what actually
    makes the per-batch write cost flat in corpus size.)"""
    delta = _recount_buckets(new_bands)
    if not store.exists(COUNTS):
        # first-ever batch: the freshly written table IS its own
        # compaction (one row per bucket) — record it as the baseline
        # and skip the trigger check (ADVICE r10: defaulting base to 1
        # made any >4-bucket first batch immediately rewrite the table
        # it just wrote, a no-op compaction on every fresh store)
        store.overwrite(COUNTS, delta, mark=_sync_mark(store, compacted=True))
        return
    _, base, appends = _sync_state(store)  # _ensure_bucket_counts ran
    appends += 1
    store.append(COUNTS, delta, mark=_sync_mark(store, False, base, appends))
    if (
        store.count(COUNTS) > _COUNTS_COMPACT_FACTOR * max(base, 1)
        or appends >= _COUNTS_COMPACT_APPENDS
    ):
        store.overwrite(
            COUNTS, _stored_bucket_counts(store),
            mark=_sync_mark(store, compacted=True),
        )


def ingest_batch(
    store: TableStore,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = MAX_BUCKET,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Dedup ``batch`` against itself and the persisted corpus, append
    the survivors + their index rows, return the accounting dict.

    Constant-memory contract: the batch owns the intermediates
    it checkpoints and frees them before returning, even when it
    fails (``checkpoints``).

    ``doc_id`` values must be globally unique across batches (the
    caller's ingest contract, same as any CDC key).

    ``max_bucket``: hot-bucket cap for the candidate joins (see the
    module docstring); ``None`` restores the uncapped quadratic
    semantics (rehearsal baselines only — never at scale).

    ``txn=(app_id, batch_id)`` — the streaming replay contract
    (r12 verdict item 8): without it, a crash between the DOCS append
    and the index appends leaves the batch's docs PERMANENTLY
    unindexed on replay (the re-delivered rows are absorbed as exact
    corpus dups, so their signature/band rows are never recomputed —
    the silent hole the old absorb-only idempotency hid).  With it:

    * fully-applied batches (DOCS txn marker) return in O(1);
    * appends run INDEX-FIRST / DOCS-LAST, each marker-skipped, so
      every crash window replays to the same final state: the compute
      is deterministic given the batch + committed DOCS, and DOCS —
      the input every stage depends on — only advances at the final,
      marker-carrying commit (transient orphan index rows are
      invisible: candidate verification joins back to DOCS text);
    * the COUNTS log needs no marker of its own — it is derived state
      whose commits record the BANDS version they reflect, and it
      recounts from BANDS whenever the two diverge.

    A crashed append leaves no residue to clean up: before its commit
    claim the table is untouched, after it the table store rolls the
    commit forward on the next access."""
    with owned_checkpoints():
        return _ingest_batch_impl(
            store, batch, id_col=id_col, text_col=text_col,
            max_bucket=max_bucket, txn=txn,
        )


def _ingest_batch_impl(
    store: TableStore,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int | None,
    txn: tuple[str, int] | None,
) -> dict:
    """Body of :func:`ingest_batch` (see its docstring), run inside
    the batch's checkpoint-owning scope."""
    sigs_applied = bands_applied = False
    if txn is not None:
        app_id, ver = txn[0], int(txn[1])

        def _applied(t: str) -> bool:
            v = store.last_txn_version(t, app_id)
            return v is not None and v >= ver

        if _applied(DOCS):
            return {
                "batch": 0, "exact_batch_dups": 0, "exact_corpus_dups": 0,
                "near_dups": 0, "accepted": 0,
                "corpus_size": store.count(DOCS), "replayed": True,
            }
        # a replay whose index appends already committed must see the
        # PRE-BATCH index (its own committed rows filtered back out),
        # or the recompute diverges from the original attempt — e.g.
        # the batch's own hot buckets double-counted against the cap
        sigs_applied = _applied(SIGS)
        bands_applied = _applied(BANDS)
    batch = batch.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    batch_ids = batch.select("doc_id").distinct()

    # 1. intra-batch exact dedup: lowest id per content hash survives.
    # The winners table is checkpointed with BOTH batch-level counts
    # observed on that same action (r15): n_batch = sum of per-hash
    # group sizes, n_uniq = group count — the previous separate
    # batch.count() and uniq.count() jobs (each a full recompute of
    # this subtree) ride along for free.
    obs_w = Observation()
    winners = (
        batch.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("__n"),
        )
        .observe(
            obs_w,
            F.sum("__n").alias("n_batch"),
            F.count(F.lit(1)).alias("n_uniq"),
        )
        .transform(checkpoint)
    )
    n_batch = int(obs_w.get["n_batch"] or 0)
    n_exact_batch = n_batch - int(obs_w.get["n_uniq"] or 0)
    uniq = batch.join(
        winners.select("doc_id"), "doc_id", "left_semi"
    ).withColumn("content_hash", F.md5("text"))

    # 2. cross-corpus exact dedup: anti-join on the stored hash column
    if store.exists(DOCS):
        fresh = uniq.join(
            store.read(DOCS).select("content_hash"), "content_hash", "left_anti"
        )
    else:
        fresh = uniq
    # materialize: signatures, bands, the near-dup verify, and the
    # final appends all consume this slice; the survivor count rides
    # the checkpoint action as an observed metric (r15)
    obs_f = Observation()
    fresh = fresh.observe(
        obs_f, F.count(F.lit(1)).alias("n")
    ).transform(checkpoint)
    n_exact_corpus = n_batch - n_exact_batch - int(obs_f.get["n"] or 0)

    # 3. near-dup candidates via LSH band incidence
    sigs_new = _signatures(fresh, "doc_id", "text").transform(checkpoint)
    bands_new = dedup_ops.minhash_band_incidence(
        sigs_new, "doc_id", n_hashes=MH_N, band_size=MH_BAND
    ).transform(checkpoint)

    stored_bands = store.read(BANDS) if store.exists(BANDS) else None
    if bands_applied and stored_bands is not None:
        stored_bands = stored_bands.join(batch_ids, "doc_id", "left_anti")

    # hot-bucket cap: combined (batch + stored) membership per bucket,
    # batch side semi-joined down to in-cap buckets — every pair
    # requires a batch-side row, so filtering one join side kills the
    # whole bucket.  Stored membership comes from the INCREMENTAL
    # counts table (one row per distinct bucket), never from
    # re-aggregating the full incidence list: the check is O(batch)
    # work regardless of how many batches preceded it.
    bands_joinable = bands_new
    if max_bucket is not None:
        batch_counts = _recount_buckets(bands_new).withColumnRenamed(
            "n_docs", "n_batch"
        )
        if stored_bands is not None:
            _ensure_bucket_counts(store)
            stored_counts = _stored_bucket_counts(store)
            if bands_applied:
                # subtract the replayed batch's own committed band
                # rows so the cap sees the pre-batch corpus (O(batch):
                # the residue is the batch's bucket incidence)
                residue = _recount_buckets(
                    store.read(BANDS).join(batch_ids, "doc_id", "left_semi")
                ).withColumnRenamed("n_docs", "n_res")
                stored_counts = stored_counts.join(
                    residue, "bucket", "left"
                ).select(
                    "bucket",
                    (
                        F.col("n_docs")
                        - F.coalesce(F.col("n_res"), F.lit(0).cast("bigint"))
                    ).alias("n_docs"),
                )
            combined_n = F.col("n_batch") + F.coalesce(
                F.col("n_docs"), F.lit(0).cast("bigint")
            )
            small = (
                batch_counts.join(stored_counts, "bucket", "left")
                .filter(combined_n <= max_bucket)
                .select("bucket")
            )
        else:
            small = batch_counts.filter(
                F.col("n_batch") <= max_bucket
            ).select("bucket")
        # materialize: the intra self-join consumes this subtree twice
        # and the cross join a third time — without a checkpoint each
        # consumer re-runs the counts join (bands_new itself is
        # already checkpointed above)
        bands_joinable = bands_new.join(
            small, "bucket", "left_semi"
        ).transform(checkpoint)

    # batch-vs-corpus: equi-join against the STORED incidence list.
    # The id inequality is a no-op under the unique-id contract but
    # load-bearing on txn replay: with the batch's own BANDS rows
    # already committed (crash before the DOCS commit), (x, x)
    # self-pairs would otherwise verify at Jaccard 1.0 and absorb the
    # whole batch as near-dups of itself
    if stored_bands is not None:
        cross = (
            bands_joinable.withColumnRenamed("doc_id", "id_a")
            .join(
                stored_bands.withColumnRenamed("doc_id", "id_b"),
                "bucket",
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        cross = None
    # batch-vs-batch: incidence self-join, higher id is the candidate
    intra = (
        bands_joinable.withColumnRenamed("doc_id", "id_a")
        .join(
            bands_joinable.withColumnRenamed("doc_id", "id_b"), "bucket"
        )
        .filter(F.col("id_a") > F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # materialize: the pair list feeds TWO subtrees (old_ids and the
    # agreement filter) — without a checkpoint each consumer re-runs
    # the incidence joins + DISTINCT (r15)
    candidates = (
        intra if cross is None else intra.unionByName(cross).distinct()
    ).transform(checkpoint)

    # 4. precision filter + exact verify on the candidate slice only
    if store.exists(SIGS):
        old_ids = candidates.select(F.col("id_b").alias("doc_id")).distinct()
        stored_sigs = store.read(SIGS)
        if sigs_applied:
            # replayed batch's committed sig rows would duplicate
            # sigs_new in the agreement filter — pre-batch view only
            stored_sigs = stored_sigs.join(batch_ids, "doc_id", "left_anti")
        sigs_all = sigs_new.unionByName(
            stored_sigs.join(old_ids, "doc_id", "left_semi")
        )
        texts_old = (
            store.read(DOCS)
            .join(old_ids, "doc_id", "left_semi")
            .select("doc_id", "text")
        )
        texts_all = fresh.select("doc_id", "text").unionByName(texts_old)
    else:
        sigs_all = sigs_new
        texts_all = fresh.select("doc_id", "text")
    filtered = dedup_ops.minhash_agreement_filter(
        candidates, sigs_all, "doc_id", MH_N, min_agree=MIN_AGREE
    )
    verified = dedup_ops.ngram_jaccard_pairs(
        texts_all,
        "text",
        "doc_id",
        k=MH_K,
        threshold=JACCARD_THRESHOLD,
        candidates=filtered,
    )
    near_ids = verified.select(F.col("id_a").alias("doc_id")).distinct()
    obs_a = Observation()
    accepted = (
        fresh.join(near_ids, "doc_id", "left_anti")
        .observe(obs_a, F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )
    n_near = n_batch - n_exact_batch - n_exact_corpus - int(
        obs_a.get["n"] or 0
    )

    # 5. append survivors + index rows (write-observed counts); the
    # counts log migrates/self-heals (pre-append, so the recount
    # excludes this batch) then appends the delta so its per-bucket
    # sum vs the incidence list holds per batch
    keep_ids = accepted.select("doc_id")
    kept_sigs = sigs_new.join(keep_ids, "doc_id", "left_semi")
    kept_bands = bands_new.join(keep_ids, "doc_id", "left_semi").transform(checkpoint)
    _ensure_bucket_counts(store)

    # the per-table appends are independent Spark jobs on distinct
    # tables (separate dirs and commit logs), so they
    # overlap from driver threads (guide §2.6): each append's write
    # job back-fills the executor tail of the others', and the
    # driver-side commit bookkeeping (footer reads, commit claim)
    # interleaves instead of serializing — the batch was ~12 s of
    # ~50 sub-second driver-latency-bound jobs at sf0.1.
    def _append_sigs() -> None:
        store.append(SIGS, kept_sigs, txn=None if txn is None else (app_id, ver))

    def _append_bands() -> None:
        store.append(BANDS, kept_bands, txn=None if txn is None else (app_id, ver))
        # delta only for a band append made BY THIS CALL: a
        # marker-skipped append either already added its delta or
        # the version-keyed sync recounted it in above
        _add_bucket_counts(store, kept_bands)

    docs_df = accepted.select("doc_id", "text", "content_hash")
    if txn is None:
        # no replay contract: all three appends are order-free
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_sigs = pool.submit(_append_sigs)
            f_bands = pool.submit(_append_bands)
            n_accepted = store.append(DOCS, docs_df)
            f_sigs.result()
            f_bands.result()
    else:
        # index-first / DOCS-last, each append marker-skipped: the
        # DOCS commit is the batch's single commit point (docstring).
        # SIGS and BANDS never had a mutual order — replay checks
        # their markers independently and handles every committed
        # subset — so they run concurrently; only DOCS must follow.
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = []
            if not sigs_applied:
                futs.append(pool.submit(_append_sigs))
            if not bands_applied:
                futs.append(pool.submit(_append_bands))
            for f in futs:
                f.result()
        n_accepted = store.append(DOCS, docs_df, txn=(app_id, ver))

    return {
        "batch": n_batch,
        "exact_batch_dups": n_exact_batch,
        "exact_corpus_dups": n_exact_corpus,
        "near_dups": n_near,
        "accepted": n_accepted,
        "corpus_size": store.count(DOCS),
    }


def ingest_stream(
    store: TableStore,
    stream_df: DataFrame,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    app_id: str | None = None,
) -> None:
    """Streaming form of :func:`ingest_batch`: checkpointed offsets
    deliver each micro-batch at-least-once into ``foreachBatch``, and
    the ``txn=(app_id, batch_id)`` marker chain inside ``ingest_batch``
    turns the replay into exactly-once: a fully-committed batch is
    skipped in O(1), and every partial crash window replays to the
    same final corpus + index + counts state (r13 — previously the
    stream relied on content absorption alone, which silently left
    replayed docs unindexed when the crash fell between the DOCS and
    index appends).

    Caveat (same as Delta's txnAppId contract and ``streaming_agg``):
    batch_ids are monotonic per CHECKPOINT — wiping the checkpoint
    while keeping the corpus store resets them and the marker guard
    would skip the replayed prefix; pair a fresh store with a fresh
    checkpoint.

    ``app_id`` defaults to a value DERIVED from the checkpoint
    location (Delta's per-query txnAppId convention, r13 ADVICE): the
    marker chain's identity must follow the batch_id sequence, which
    lives in the checkpoint — a hardcoded app_id made any second
    streaming query (new checkpoint, batch_ids restarting at 0)
    pointed at the same store silently marker-skip its first batches
    against the first query's markers.  Pass ``app_id`` explicitly to
    RESUME an existing marker chain from a relocated checkpoint
    directory (same offsets, new path)."""
    if app_id is None:
        digest = hashlib.sha256(
            os.path.abspath(checkpoint_dir).encode()
        ).hexdigest()[:16]
        app_id = f"stream::corpus_ingest::{digest}"
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ingest_batch(
            store, batch_df, id_col=id_col, text_col=text_col,
            txn=(app_id, int(batch_id)),
        )

    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def rebuild_index(store: TableStore) -> dict:
    """Offline rebuild of the signature/band index from the corpus
    text (disaster recovery / constant migration).  Produces exactly
    the rows the incremental path would have written — the constants
    are shared module-level literals."""
    docs = store.read(DOCS)
    sigs = _signatures(docs, "doc_id", "text").transform(checkpoint)
    n_sigs = store.overwrite(SIGS, sigs)
    n_bands = store.overwrite(
        BANDS,
        dedup_ops.minhash_band_incidence(
            sigs, "doc_id", n_hashes=MH_N, band_size=MH_BAND
        ),
    )
    n_counts = store.overwrite(
        COUNTS, _recount_buckets(store.read(BANDS)),
        mark=_sync_mark(store, compacted=True),
    )
    return {
        "docs": store.count(DOCS),
        "sigs": n_sigs,
        "bands": n_bands,
        "buckets": n_counts,
    }
