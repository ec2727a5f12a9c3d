"""Catalog surface for the incremental corpus-dedup pipeline
(:mod:`..pipeline.corpus`): a deterministic two-batch ingest whose
per-document accept/drop verdict is replayed by a DuckDB oracle.

The pipeline itself is stateful (it appends to TableStore-managed
index tables), so the catalog query runs the REAL pipeline against a
throwaway store root, materializes the verdict, and removes the root —
the same replay-the-semantics pattern as ``ORACLE_DUP_CLUSTERS``: the
oracle re-derives every drop decision (intra-batch exact, cross-corpus
exact, hot-bucket-capped LSH -> agreement -> exact-Jaccard near-dup,
transitive-greedy rule) from the base ``documents`` table in pure SQL,
including the ``MAX_BUCKET`` candidate cap (r8 — the uncapped
composition measured 3.17e9 pairs at 100x; see the pipeline module
docstring).

Batch split: ``doc_id % 2`` — batch 0 (even ids) ingests into an empty
corpus, batch 1 (odd ids) ingests against batch 0's survivors, which
exercises every code path of :func:`..pipeline.corpus.ingest_batch`
(empty-store branch, stored-incidence join, corpus-text semi-join).
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import checkpoint
from ..operators import dedup as dedup_ops
from ..pipeline.corpus import (
    DOCS,
    JACCARD_THRESHOLD,
    MAX_BUCKET,
    MH_BAND,
    MH_K,
    MH_N,
    MIN_AGREE,
    ingest_batch,
)
from ..pipeline.storage import TableStore
from ..tables import load_table


def q_corpus_ingest_verdict(spark: SparkSession, sf: str) -> DataFrame:
    """Run the real two-batch incremental ingest and return one row per
    source document: ``(doc_id, batch_no, accepted)``.

    The verdict frame is localCheckpoint-materialized before the
    throwaway store root is deleted, so the returned DataFrame stays
    valid for the caller (driver counts/collects later)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="corpus_verdict_")
    try:
        store = TableStore(spark, root)
        ingest_batch(store, docs.filter(F.col("doc_id") % 2 == 0))
        ingest_batch(store, docs.filter(F.col("doc_id") % 2 == 1))
        acc = store.read(DOCS).select(
            "doc_id", F.lit(True).alias("accepted")
        )
        return (
            docs.select("doc_id")
            .join(acc, "doc_id", "left")
            .select(
                "doc_id",
                (F.col("doc_id") % 2).cast("int").alias("batch_no"),
                F.coalesce("accepted", F.lit(False)).alias("accepted"),
            )
            .transform(checkpoint)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_shingles(name: str, src: str) -> str:
    """Char-K shingle CTE over ``src(doc_id, text)`` — same expression
    as textops._SQL_SHINGLES, parameterized on the source CTE."""
    return f"""{name} AS (
    SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {MH_K}) AS shingle
    FROM {src}, unnest(range(1, greatest(len(text) - {MH_K - 1}, 1) + 1)) AS t(i)
)"""


def _sql_sig(name: str, sh: str) -> str:
    mins = ", ".join(
        f"min(({a} * hx + {b}) % {dedup_ops.MH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup_ops.minhash_seeds(MH_N))
    )
    return (
        f"{name} AS (\n    SELECT doc_id, {mins}"
        f"\n    FROM (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT"
        f" AS hx FROM {sh}) GROUP BY doc_id\n)"
    )


def _sql_bands(name: str, sig: str) -> str:
    selects = []
    for b in range(MH_N // MH_BAND):
        cols = " || '|' || ".join(
            f"mh_{b * MH_BAND + j}" for j in range(MH_BAND)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, {cols} AS band_key FROM {sig}"
        )
    return f"{name} AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


def _sql_agree(name: str, cands: str, sig: str) -> str:
    terms = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
        for i in range(MH_N)
    )
    return f"""{name} AS (
    SELECT c.id_a, c.id_b
    FROM {cands} c
    JOIN {sig} sa ON sa.doc_id = c.id_a
    JOIN {sig} sb ON sb.doc_id = c.id_b
    WHERE ({terms}) >= {MIN_AGREE}
)"""


def _sql_drops(name: str, filtered: str, sh: str) -> str:
    """Exact-Jaccard verify over raw shingle sets; a candidate's HIGHER
    /newer id (``id_a``) is dropped when jaccard >= threshold — the
    pipeline's transitive-greedy rule (drop regardless of id_b's own
    fate)."""
    return f"""{name} AS (
    SELECT DISTINCT i.id_a
    FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM {sh} a JOIN {sh} b ON a.shingle = b.shingle
        GROUP BY a.doc_id, b.doc_id
    ) i
    JOIN {filtered} c ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN (SELECT doc_id, count(*) AS n_sh FROM {sh} GROUP BY doc_id) sa
      ON sa.doc_id = i.id_a
    JOIN (SELECT doc_id, count(*) AS n_sh FROM {sh} GROUP BY doc_id) sb
      ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {JACCARD_THRESHOLD}
)"""


ORACLE_CORPUS_INGEST_VERDICT = (
    """WITH b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
b2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
-- batch 0: intra-batch exact dedup (lowest id per content hash)
u1 AS (
    SELECT doc_id, text, md5(text) AS h FROM b1
    WHERE doc_id IN (SELECT min(doc_id) FROM b1 GROUP BY md5(text))
),
"""
    + _sql_shingles("sh1", "u1")
    + ",\n"
    + _sql_sig("sig1", "sh1")
    + ",\n"
    + _sql_bands("bands1", "sig1")
    + f""",
-- hot-bucket cap (pipeline.corpus.MAX_BUCKET): batch 0 ingests into
-- an empty store, so combined membership = bands1 alone
cap1 AS (
    SELECT band_idx, band_key FROM bands1
    GROUP BY band_idx, band_key HAVING count(*) <= {MAX_BUCKET}
),
cand1 AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands1 a
    JOIN cap1 s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands1 b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id > b.doc_id
),
"""
    + _sql_agree("filt1", "cand1", "sig1")
    + ",\n"
    + _sql_drops("drop1", "filt1", "sh1")
    + """,
acc1 AS (
    SELECT doc_id, text, h FROM u1
    WHERE doc_id NOT IN (SELECT id_a FROM drop1)
),
-- batch 1: intra-batch exact, then cross-corpus exact vs acc1 hashes
u2 AS (
    SELECT doc_id, text, md5(text) AS h FROM b2
    WHERE doc_id IN (SELECT min(doc_id) FROM b2 GROUP BY md5(text))
),
f2 AS (
    SELECT u2.* FROM u2
    WHERE NOT EXISTS (SELECT 1 FROM acc1 WHERE acc1.h = u2.h)
),
"""
    + _sql_shingles("sh2", "f2")
    + ",\n"
    + _sql_sig("sig2", "sh2")
    + ",\n"
    + _sql_bands("bands2", "sig2")
    + f""",
-- stored incidence = batch-0 survivors' bands only
bands_acc1 AS (
    SELECT * FROM bands1 WHERE doc_id IN (SELECT doc_id FROM acc1)
),
-- hot-bucket cap over the COMBINED batch-2 + stored incidence; a
-- batch-side semi-join kills the whole bucket (every pair needs a
-- batch row), mirroring ingest_batch's bands_joinable
cap2 AS (
    SELECT band_idx, band_key FROM (
        SELECT band_idx, band_key FROM bands2
        UNION ALL
        SELECT band_idx, band_key FROM bands_acc1
    ) GROUP BY band_idx, band_key HAVING count(*) <= {MAX_BUCKET}
),
cand2 AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands2 a
    JOIN cap2 s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands2 b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id > b.doc_id
    UNION
    SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
    FROM bands2 a
    JOIN cap2 s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands_acc1 c
      ON a.band_idx = c.band_idx AND a.band_key = c.band_key
),
sig_all2 AS (
    SELECT * FROM sig2
    UNION ALL
    SELECT * FROM sig1 WHERE doc_id IN (SELECT doc_id FROM acc1)
),
sh_all2 AS (
    SELECT * FROM sh2
    UNION ALL
    SELECT * FROM sh1 WHERE doc_id IN (SELECT doc_id FROM acc1)
),
"""
    + _sql_agree("filt2", "cand2", "sig_all2")
    + ",\n"
    + _sql_drops("drop2", "filt2", "sh_all2")
    + """,
acc2 AS (
    SELECT doc_id FROM f2
    WHERE doc_id NOT IN (SELECT id_a FROM drop2)
)
SELECT d.doc_id,
       CAST(d.doc_id % 2 AS INT) AS batch_no,
       (d.doc_id IN (SELECT doc_id FROM acc1)
        OR d.doc_id IN (SELECT doc_id FROM acc2)) AS accepted
FROM documents d
"""
)
