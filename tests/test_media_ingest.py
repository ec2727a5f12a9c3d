"""Exactly-once multimodal ingest scenarios (r13 verdict item 8):
binary columns + codec metadata through the txn path, batch and
streaming, including crash-resume."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.operators import codecs
from delta_lake_gcp_implementation_spark.operators import multimodal as mm
from delta_lake_gcp_implementation_spark.pipeline import media
from delta_lake_gcp_implementation_spark.pipeline.storage import TableStore


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "media_wh"))


def _gradient_bmp(w: int, h: int, shade: int = 1) -> bytes:
    import numpy as np

    px = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            px[y, x] = ((x * shade) % 256, (y * shade) % 256, (x + y) % 256)
    return codecs.encode_bmp(px)


def _tone_wav(freq_step: int) -> bytes:
    import numpy as np

    t = np.arange(4000)
    return codecs.encode_wav(
        (8000 * np.sin(t * freq_step / 100.0)).astype(np.int16)
    )


def _media_df(spark, rows):
    """rows: [(media_id, blob, fmt)] -> MEDIA_SCHEMA frame."""
    return spark.createDataFrame(
        [
            (mid, blob, {"format": fmt, "n_bytes": len(blob), "source": "t"})
            for mid, blob, fmt in rows
        ],
        mm.MEDIA_SCHEMA,
    )


def test_media_ingest_dedups_and_decodes(spark, store):
    bmp = _gradient_bmp(8, 6)
    wav = _tone_wav(3)
    r1 = media.ingest_media_batch(
        store, _media_df(spark, [(1, bmp, "bmp"), (2, wav, "wav")])
    )
    assert r1 == {
        "batch": 2, "exact_batch_dups": 0, "exact_corpus_dups": 0,
        "accepted": 2, "corpus_size": 2,
    }
    # batch 2: exact blob dup of 1 (new id), intra-batch dup pair, one new
    bmp2 = _gradient_bmp(8, 6, shade=5)
    r2 = media.ingest_media_batch(
        store,
        _media_df(
            spark, [(11, bmp, "bmp"), (12, bmp2, "bmp"), (13, bmp2, "bmp")]
        ),
    )
    assert r2["exact_corpus_dups"] == 1 and r2["exact_batch_dups"] == 1
    assert r2["accepted"] == 1 and r2["corpus_size"] == 3

    blobs = store.read(media.BLOBS)
    assert {r.media_id for r in blobs.select("media_id").collect()} == {1, 2, 12}
    # features exist for exactly the accepted blobs, real-decoded
    feats = store.read(media.FEATS)
    assert {r.media_id for r in feats.select("media_id").collect()} == {1, 2, 12}
    got = {r.media_id: r.features for r in feats.collect()}
    assert got[1] == pytest.approx(codecs.bmp_features(bmp))
    assert got[2] == pytest.approx(codecs.wav_features(wav))
    # the dedup digest matches the python reference
    row = blobs.filter(F.col("media_id") == 1).first()
    assert row.sha256 == mm.python_digest(bmp)


def test_media_batch_replay_is_marker_skipped(spark, store):
    bmp = _gradient_bmp(6, 4)
    r1 = media.ingest_media_batch(
        store, _media_df(spark, [(1, bmp, "bmp")]), txn=("app", 0)
    )
    assert r1["accepted"] == 1
    # re-delivery of the SAME batch id under the same app: O(1) skip,
    # even though the content would also be absorbed as a corpus dup
    r2 = media.ingest_media_batch(
        store, _media_df(spark, [(1, bmp, "bmp")]), txn=("app", 0)
    )
    assert r2["replayed"] is True and r2["corpus_size"] == 1
    assert store.count(media.FEATS) == 1


def test_media_stream_crash_between_feats_and_blobs_replays_clean(
    spark, store, tmp_path
):
    """The worst crash window: FEATURES committed, BLOBS (the commit
    point) not yet — the restart must replay the batch to the same
    final state with no duplicate feature rows and no unindexed
    blobs."""
    drops = str(tmp_path / "media_drops")
    b0 = [(1, _gradient_bmp(8, 6), "bmp"), (2, _tone_wav(3), "wav")]
    b1 = [(11, _gradient_bmp(8, 6), "bmp"), (12, _tone_wav(7), "wav")]
    _media_df(spark, b0).write.mode("append").parquet(drops)
    _media_df(spark, b1).write.mode("append").parquet(drops)

    real_append = TableStore.append
    state = {"crashed": False}

    def crashing_append(self, name, df, *a, **kw):
        n = real_append(self, name, df, *a, **kw)
        if name == media.FEATS and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash between FEATS and BLOBS")
        return n

    def make_stream():
        return (
            spark.readStream.schema(mm.MEDIA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(drops)
        )

    ckpt = str(tmp_path / "media_ckpt")
    TableStore.append = crashing_append
    try:
        with pytest.raises(Exception, match="injected crash"):
            media.ingest_media_stream(store, make_stream(), ckpt)
    finally:
        TableStore.append = real_append

    media.ingest_media_stream(store, make_stream(), ckpt)

    # final state == clean run: 11 is an exact dup of 1, all else in
    blob_ids = {
        r.media_id for r in store.read(media.BLOBS).select("media_id").collect()
    }
    assert blob_ids == {1, 2, 12}
    feat_ids = [
        r.media_id for r in store.read(media.FEATS).select("media_id").collect()
    ]
    assert sorted(feat_ids) == [1, 2, 12]  # no duplicate feature rows
    # committed bookkeeping agrees with readers, and each live dir
    # holds exactly its snapshot's files
    assert store.count(media.BLOBS) == 3
    for t in (media.BLOBS, media.FEATS):
        live = store.path(t)
        assert {
            f for f in os.listdir(live) if f.endswith(".parquet")
        } == set(store.snapshot(t)["files"])
        assert store.count(t) == store.read(t).count()


def test_two_media_streams_have_distinct_marker_chains(spark, store, tmp_path):
    d1 = str(tmp_path / "m_d1")
    _media_df(spark, [(1, _gradient_bmp(6, 4), "bmp")]).write.parquet(d1)
    media.ingest_media_stream(
        store,
        spark.readStream.schema(mm.MEDIA_SCHEMA).parquet(d1),
        str(tmp_path / "m_ck1"),
    )
    d2 = str(tmp_path / "m_d2")
    _media_df(spark, [(21, _tone_wav(5), "wav")]).write.parquet(d2)
    media.ingest_media_stream(
        store,
        spark.readStream.schema(mm.MEDIA_SCHEMA).parquet(d2),
        str(tmp_path / "m_ck2"),
    )
    assert store.count(media.BLOBS) == 2
