"""Training-data pipeline query catalog: text analysis, dedup family,
similarity search, multimodal plumbing (SURVEY.md section 7 Phase 4).

These operators go beyond the reference (which has no text/vector
processing) and cover what a 100 TB LLM-training-data pipeline needs.
Every query pairs a Spark builder with DuckDB oracle SQL; the oracle
strings for MinHash / SimHash / ANN are *generated from the same Python
constants* as the Spark plan, so both engines evaluate literally the
same algorithm.

Cross-engine hash basis: md5 (identical hex both engines); hex->int via
at most 15 hex chars so values fit signed BIGINT; token/shingle
generation uses only ASCII regex classes (identical in Java regex and
RE2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpoints import checkpoint
from ..functions import similarity as sim
from ..functions import text as T
from ..operators import bloom as bloom_ops
from ..operators import dedup as dedup_ops
from ..tables import load_table

# ---------------------------------------------------------------- text analysis


def q_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex subword proxy
    (token-budget estimation over a document corpus)."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("bigint").alias("bpe_ish_tokens"),
    )


ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS BIGINT)
           AS ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '{T.BPE_ISH_PATTERN}')) AS BIGINT)
           AS bpe_ish_tokens
FROM documents
"""

_SW_LIST = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)

# shared oracle fragments (must mirror functions.text exactly)
_SQL_TOKS = "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')"
_SQL_TOKS_LOWER = "regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')"
_SQL_NTOK = f"CASE WHEN trim(text) = '' THEN 0 ELSE len({_SQL_TOKS}) END"
_SQL_SW_RATIO = f"""CASE WHEN len({_SQL_TOKS_LOWER}) = 0 THEN 0.0
       ELSE len(list_filter({_SQL_TOKS_LOWER}, t -> t IN ({_SW_LIST})))
            / len({_SQL_TOKS_LOWER}) END"""


def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Document quality scoring: length / token stats / punctuation
    ratio / stopword ratio + CASE-ladder quality bucket."""
    d = load_table(spark, sf, "documents")
    return d.select("doc_id", *T.quality_metrics(F.col("text")))


_SQL_BUCKET = f"""CASE WHEN ({_SQL_NTOK}) < 5
                 OR (CASE WHEN {_SQL_NTOK} = 0 THEN 0.0
                          ELSE CAST(len(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE)
                               / ({_SQL_NTOK}) END) < 2.0 THEN 'LOW'
            WHEN ({_SQL_SW_RATIO}) >= 0.05
                 AND (CASE WHEN len(text) = 0 THEN 0.0
                           ELSE CAST(len(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE)
                                / len(text) END) < 0.2 THEN 'HIGH'
            ELSE 'MEDIUM' END"""

ORACLE_QUALITY_SCORE = f"""
SELECT doc_id,
       CAST(len(text) AS BIGINT) AS n_chars_measured,
       CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
       CASE WHEN {_SQL_NTOK} = 0 THEN 0.0
            ELSE CAST(len(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE)
                 / ({_SQL_NTOK}) END AS mean_token_len,
       CASE WHEN len(text) = 0 THEN 0.0
            ELSE CAST(len(regexp_replace(text, '[a-zA-Z0-9 \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE)
                 / len(text) END AS punct_ratio,
       {_SQL_SW_RATIO} AS stopword_ratio,
       {_SQL_BUCKET} AS quality_bucket
FROM documents
"""


def _lang_score_sql(words: list[str]) -> str:
    wl = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_SQL_TOKS_LOWER}, t -> t IN ({wl})))"


def _lang_ladder_sql() -> str:
    langs = list(T.LANG_PROFILES)
    scores = {m: _lang_score_sql(ws) for m, ws in T.LANG_PROFILES.items()}
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"({scores[lang]}) >= ({scores[other]})" for other in langs[i + 1 :]
        )
        clauses.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID by n-gram (token-profile) heuristic: per-language
    stopword hit counts, argmax with deterministic ladder tie-break."""
    d = load_table(spark, sf, "documents")
    scores = T.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_labeled"),
        T.lang_id(F.col("text")).alias("lang_pred"),
        scores["en"].cast("bigint").alias("score_en"),
        scores["de"].cast("bigint").alias("score_de"),
    )


ORACLE_LANG_ID = f"""
SELECT doc_id,
       lang AS lang_labeled,
       {_lang_ladder_sql()} AS lang_pred,
       CAST({_lang_score_sql(T.LANG_PROFILES["en"])} AS BIGINT) AS score_en,
       CAST({_lang_score_sql(T.LANG_PROFILES["de"])} AS BIGINT) AS score_de
FROM documents
"""


def q_doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: normalized-content md5, compact 60-bit
    integer form, and a winnowing-style rolling min-hash over char
    8-grams (shift-resistant)."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    # the rolling min-hash evaluates md5 per char 8-gram per row — CPU
    # cost that a 1-file local scan would serialize on one core
    return scale_out(d).select(
        "doc_id",
        T.fingerprint_md5(F.col("text")).alias("fp_md5"),
        T.fingerprint_int60(F.col("text")).alias("fp60"),
        T.rolling_min_fingerprint(F.col("text"), k=8).alias("fp_rolling_min"),
    )


ORACLE_DOC_FINGERPRINT = """
WITH base AS (
    SELECT doc_id, text,
           md5(regexp_replace(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS fp_md5
    FROM documents
)
SELECT doc_id, fp_md5,
       ('0x' || substr(fp_md5, 1, 15))::BIGINT AS fp60,
       list_min([('0x' || substr(md5(g), 1, 15))::BIGINT
                 FOR g IN list_distinct([substr(text, CAST(i AS INT), 8)
                                         FOR i IN range(1, greatest(len(text) - 7, 1) + 1)])])
           AS fp_rolling_min
FROM base
"""


# ---------------------------------------------------------------- dedup family


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), lowest doc_id
    survives (single shuffle of (hash, id) pairs — not documents)."""
    d = load_table(spark, sf, "documents")
    return dedup_ops.dedup_exact_content(d, "text", "doc_id")


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
FROM documents GROUP BY md5(text)
"""

_MH_N = 8  # hash functions
_MH_K = 5  # char shingle width
_MH_BAND = 2  # hashes per LSH band

_SQL_SHINGLES = f"""
sh AS (
    SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {_MH_K}) AS shingle
    FROM documents, unnest(range(1, greatest(len(text) - {_MH_K - 1}, 1) + 1)) AS t(i)
)"""

_SQL_SIG = (
    "sig AS (\n    SELECT doc_id, "
    + ", ".join(
        f"min(({a} * hx + {b}) % {dedup_ops.MH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup_ops.minhash_seeds(_MH_N))
    )
    + "\n    FROM (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT"
    " AS hx FROM sh) GROUP BY doc_id\n)"
)


def q_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures over char-5 shingles (8 hash fns): the
    fixed-size sketch for near-dup detection at corpus scale."""
    d = load_table(spark, sf, "documents")
    sh = dedup_ops.char_shingles(d, "text", "doc_id", k=_MH_K)
    return dedup_ops.minhash_signatures(sh, "doc_id", n_hashes=_MH_N)


ORACLE_MINHASH_SIGNATURES = (
    "WITH " + _SQL_SHINGLES + ",\n" + _SQL_SIG + "\nSELECT * FROM sig"
)


def _sql_bands() -> str:
    n_bands = _MH_N // _MH_BAND
    selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"mh_{b * _MH_BAND + j}" for j in range(_MH_BAND)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band_idx, {cols} AS band_key FROM sig"
        )
    return "bands AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


_LSH_MAX_BUCKET = 64


def q_minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidate pairs: band the signature (4 bands x 2),
    equi-join on (band_idx, band_key) — hash-partitioned, no cross
    join, scales with executors — WITH the production hot-bucket guard:
    band buckets above ``_LSH_MAX_BUCKET`` docs are skipped before the
    self-join, and the oracle replays the same count-based truncation
    (the cap is deterministic, so parity is exact).

    Round-7 resolution of the r6 verdict's item 2 (simhash precedent):
    the uncapped pair list is quadratic in bucket size — a 10x corpus
    rehearsal measured 99x pair growth / 89x wall-clock, all of it
    inside a few mega-buckets (boilerplate clusters).  Capping bounds
    the fan-out to ``max_bucket^2 / 2`` per bucket, i.e. linear in
    bucket COUNT; the dropped mega-buckets are exactly the
    trivially-duplicative content the linear incidence +
    connected-components path (``q_dup_clusters``) already handles
    without pair expansion.  The uncapped form survives as a fuzz-test
    device only (``max_bucket=None`` on the operator)."""
    # eagerly materialized: the band self-join consumes the signature
    # subtree twice, and lazy .cache() still races when concurrent
    # broadcast jobs all find it cold (measured recompute at sf0.1)
    sig = q_minhash_signatures(spark, sf).transform(checkpoint)
    return dedup_ops.minhash_candidate_pairs(
        sig,
        "doc_id",
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        max_bucket=_LSH_MAX_BUCKET,
    )


ORACLE_MINHASH_LSH_PAIRS = (
    "WITH "
    + _SQL_SHINGLES
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + f""",
small AS (
    SELECT band_idx, band_key FROM bands
    GROUP BY band_idx, band_key
    HAVING count(*) <= {_LSH_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a
JOIN small s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
)


def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-cluster resolution: MinHash+LSH candidate pairs ->
    connected components -> (doc_id, cluster_id, is_canonical), the
    keep/drop verdict of a corpus dedup pass (cluster_id = smallest
    reachable doc_id; the canonical doc is the one kept).

    Scale shape: label propagation runs over the (doc, band-bucket)
    INCIDENCE list — linear in corpus size — not the clique-expanded
    candidate pairs, so the quadratic-in-bucket band self-join never
    runs; identical components by construction (a bucket is a clique)."""
    d = load_table(spark, sf, "documents")
    sig = q_minhash_signatures(spark, sf)
    inc = dedup_ops.minhash_band_incidence(
        sig, "doc_id", n_hashes=_MH_N, band_size=_MH_BAND
    )
    cc = dedup_ops.connected_components_groups(
        inc, d.select("doc_id"), "doc_id", "bucket"
    )
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


# Oracle: transitive closure via recursive CTE — exact same component
# definition (min reachable id) as the Spark label propagation.
ORACLE_DUP_CLUSTERS = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES.lstrip()
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id,
       min(dst) AS cluster_id,
       (min(dst) = src) AS is_canonical
FROM reach GROUP BY src
"""
)


def q_corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus curation verdict — the composite every
    training-data pipeline runs per document: language filter (en) +
    quality filter (bucket != LOW) + near-dup resolution (keep only
    cluster canonicals).  Returns the KEPT set with the evidence
    columns.  One pass over documents for the scalar filters plus the
    CC label join — no extra shuffles beyond the dedup stage itself.

    The scalar frame is ``localCheckpoint``-ed: without it Catalyst
    substitutes the full lang/quality regexp ladder into the en/LOW
    predicate and pushes it below the ``scale_out`` exchange into the
    scan stage (r13 profile: the whole 500k-row ladder serialized on
    the one-row-group file, 64 s of the key's 90.6 s at 100x), then
    the Project above the exchange evaluates the ladder AGAIN on the
    survivors.  Materializing the per-doc scalars once — the curation
    metadata a production pipeline persists as a table — computes the
    ladder exactly once, parallel, in both regimes."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    scalars = (
        scale_out(d)
        .select(
            "doc_id",
            T.lang_id(F.col("text")).alias("lang_pred"),
            *T.quality_metrics(F.col("text")),
        )
        .select("doc_id", "lang_pred", "quality_bucket")
        .transform(checkpoint)
    )
    clusters = q_dup_clusters(spark, sf)
    return (
        scalars.join(clusters, "doc_id")
        .filter(
            (F.col("lang_pred") == "en")
            & (F.col("quality_bucket") != "LOW")
            & F.col("is_canonical")
        )
        .select("doc_id", "lang_pred", "quality_bucket", "cluster_id")
    )


ORACLE_CORPUS_CURATION = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES.lstrip()
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + f""",
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, min(dst) AS cluster_id,
           (min(dst) = src) AS is_canonical
    FROM reach GROUP BY src
),
scalars AS (
    SELECT doc_id,
           {_lang_ladder_sql()} AS lang_pred,
           {_SQL_BUCKET} AS quality_bucket
    FROM documents
)
SELECT s.doc_id, s.lang_pred, s.quality_bucket, c.cluster_id
FROM scalars s JOIN clusters c ON s.doc_id = c.doc_id
WHERE s.lang_pred = 'en' AND s.quality_bucket <> 'LOW' AND c.is_canonical
"""
)


_MH_MIN_AGREE = 4  # sketch precision filter: >=4/8 signature agreement


def q_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard (threshold 0.5) as the three-stage scale
    pipeline: LSH band recall -> signature-agreement precision filter
    (>=4/8) -> exact set intersection on hashed shingles, fed from the
    CAPPED candidate generator (``max_bucket=_LSH_MAX_BUCKET``) so the
    exact verify's cost is bounded by bucket count, not bucket size.

    Round-7 resolution of the r6 verdict's item 2 (simhash precedent):
    the 10x rehearsal measured the uncapped variant at 36x wall for
    10x data (inherited mega-bucket pair expansion) while capped
    generation stays ~linear; the oracle replays the same
    deterministic HAVING-count truncation.  Mega-bucket content is
    near-identical by construction and is resolved by the incidence-CC
    path (``q_dup_clusters``) without any pair expansion.  The
    uncapped form survives as a fuzz-test device only."""
    d = load_table(spark, sf, "documents")
    # eagerly materialized: the doc-sized signature table feeds THREE
    # consumers (banding, both sides of the agreement filter); Spark
    # does not share identical subtrees across joins, and lazy .cache()
    # races when concurrent broadcast jobs find it cold (measured 5x
    # wall-clock at sf0.1)
    sig = q_minhash_signatures(spark, sf).transform(checkpoint)
    cands = dedup_ops.minhash_candidate_pairs(
        sig, "doc_id", n_hashes=_MH_N, band_size=_MH_BAND,
        max_bucket=_LSH_MAX_BUCKET,
    )
    filtered = dedup_ops.minhash_agreement_filter(
        cands, sig, "doc_id", n_hashes=_MH_N, min_agree=_MH_MIN_AGREE
    )
    return dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", k=_MH_K, threshold=0.5, candidates=filtered
    )


def _sql_agree() -> str:
    terms = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(_MH_N)
    )
    return f"""filtered AS (
    SELECT c.id_a, c.id_b
    FROM cands c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE ({terms}) >= {_MH_MIN_AGREE}
)"""


ORACLE_NGRAM_JACCARD = (
    "WITH "
    + _SQL_SHINGLES
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + f""",
small AS (
    SELECT band_idx, band_key FROM bands
    GROUP BY band_idx, band_key
    HAVING count(*) <= {_LSH_MAX_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN small s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
"""
    + _sql_agree()
    + """,
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.id_a, i.id_b,
       i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
FROM inter i
JOIN filtered c ON i.id_a = c.id_a AND i.id_b = c.id_b
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
"""
)

_SH_BITS = 32
_SH_BANDS = 4
_SH_MAXHAM = 3


def _sql_simhash_sig() -> str:
    hexn = _SH_BITS // 4
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b_{b}"
        for b in range(_SH_BITS)
    )
    recon = " + ".join(
        f"CASE WHEN b_{b} > 0 THEN {2 ** b} ELSE 0 END" for b in range(_SH_BITS)
    )
    return f"""toks AS (
    SELECT doc_id, tok
    FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
          FROM documents)
    WHERE tok <> ''
),
hashed AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, {hexn}))::BIGINT AS h FROM toks
),
sums AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({recon} AS BIGINT) AS simhash FROM sums)"""


def q_simhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """32-bit SimHash signature per document (frequency-weighted token
    fingerprint; hamming distance = similarity)."""
    d = load_table(spark, sf, "documents")
    return dedup_ops.simhash_bits(d, "text", "doc_id", bits=_SH_BITS)


ORACLE_SIMHASH_SIGNATURES = (
    "WITH " + _sql_simhash_sig() + "\nSELECT doc_id, simhash FROM sig"
)


def _sql_simhash_bands() -> str:
    band_bits = _SH_BITS // _SH_BANDS
    mask = (1 << band_bits) - 1
    selects = [
        f"SELECT doc_id, simhash, {i} AS band_idx, "
        f"(simhash >> {i * band_bits}) & {mask} AS band_val FROM sig"
        for i in range(_SH_BANDS)
    ]
    return "banded AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


def q_simhash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs at scale: band-bucketed candidate join
    (pigeonhole guarantees recall for hamming < n_bands), then exact
    hamming filter — WITH the production hot-bucket guard: band buckets
    above ``_LSH_MAX_BUCKET`` docs are skipped before the self-join,
    and the oracle replays the same count-based truncation (the cap is
    deterministic, so parity is exact).

    Round-6 resolution of the r5 verdict's one scale-killer: the
    UNCAPPED form (``max_bucket=None``) hung on two mega-bucket
    straggler tasks at the 100x rehearsal (500k docs, >900 s, killed)
    while this capped default runs in 12 s.  The uncapped form remains
    available as a fuzz-test device (`tests/test_textops.py` asserts
    capped pairs are a subset, equal when no bucket exceeds the cap);
    mega-bucket members are near-identical boilerplate already resolved
    by the linear incidence-CC path (``dup_clusters``)."""
    # eagerly materialized (see q_minhash_lsh_pairs)
    sig = q_simhash_signatures(spark, sf).transform(checkpoint)
    return dedup_ops.simhash_hamming_pairs(
        sig, "doc_id", bits=_SH_BITS, n_bands=_SH_BANDS,
        max_hamming=_SH_MAXHAM, max_bucket=_LSH_MAX_BUCKET,
    )


ORACLE_SIMHASH_NEAR_DUPS = (
    "WITH "
    + _sql_simhash_sig()
    + ",\n"
    + _sql_simhash_bands()
    + f""",
small AS (
    SELECT band_idx, band_val FROM banded
    GROUP BY band_idx, band_val
    HAVING count(*) <= {_LSH_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a
JOIN small s ON a.band_idx = s.band_idx AND a.band_val = s.band_val
JOIN banded b
  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAXHAM}
"""
)


# ---------------------------------------------------------------- similarity search

_ANN_PLANES = 8
_ANN_DIM = 64
_Q_CUT = 8  # vec_id < _Q_CUT are the query vectors


def q_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the query set (vec_id <
    8): broadcast queries x corpus scan, per-query window rank.  The
    exactness baseline for ANN."""
    e = load_table(spark, sf, "embeddings")
    return sim.brute_force_topk(
        e, e.filter(F.col("vec_id") < _Q_CUT), "vec_id", "embedding", k=5
    )


ORACLE_COSINE_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
pairs AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.vec_id <> e.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 5
"""


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _sql_bucket_expr(vec_expr: str, n_planes: int = _ANN_PLANES) -> str:
    planes = sim.hyperplanes(n_planes, _ANN_DIM)
    terms = [
        f"CASE WHEN list_dot_product({vec_expr}, {_sql_plane_literal(p)}) > 0 "
        f"THEN {2 ** j} ELSE 0 END"
        for j, p in enumerate(planes)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate nearest neighbors: random-hyperplane LSH bucket
    equi-join (no cross join) + in-bucket cosine top-3.  The scale path:
    bucket join hash-partitions over the cluster."""
    e = load_table(spark, sf, "embeddings")
    return sim.lsh_topk(
        e,
        e.filter(F.col("vec_id") < _Q_CUT),
        "vec_id",
        "embedding",
        k=3,
        n_planes=_ANN_PLANES,
        dim=_ANN_DIM,
    )


ORACLE_ANN_LSH_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id, v, {_sql_bucket_expr("v")} AS bucket FROM e),
q AS (SELECT * FROM c WHERE vec_id < {_Q_CUT}),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(q.v, c.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cosine
    FROM c JOIN q ON c.bucket = q.bucket
    WHERE q.vec_id <> c.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
"""


_IVF_K = 16  # coarse-quantizer cells (centroids = first K corpus vectors)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat approximate nearest neighbors: a coarse quantizer
    assigns every vector to its best cell (argmax inner product against
    K centroid vectors — deterministic: centroids are the first K
    corpus vectors, ties break on centroid id), then top-3 cosine is
    searched within the query's cell only (nprobe=1).

    Scale shape: the K centroid rows are read driver-side (scalar
    control flow, like watermark reads) and embedded as a literal
    array; assignment is a per-row argmax over it — map-only, zero
    shuffle, no n*K row blowup (the earlier broadcast-join + window
    argmin pushed n*K scored rows through an exchange).  The search is
    an equi-join on cell id that hash-partitions over the cluster.  A
    learned k-means codebook drops in without changing the plan
    (:func:`q_ann_ivf_trained`); seeded centroids keep the oracle
    exact — centroid doubles re-embedded as literals are bit-identical
    to the oracle's join, so the IP values match exactly.

    The assignment frame is ``localCheckpoint``-ed before the cell
    self-join: the equi-join on the COMPUTED ``cell`` column adds an
    implicit ``isnotnull(cell)`` filter that Catalyst pushes below the
    ``scale_out`` repartition into the raw scan stage, where the
    one-row-group embeddings file serializes every argmin evaluation
    into a single non-empty split task (the r12 ``ann_ivf_trained``
    straggler, BENCH_NOTES round-12).  The checkpoint is also the
    honest production shape — the assignment IS the IVF index,
    persisted once and amortized across probes, not recomputed inside
    every probe's pushed-down filter."""
    from pyspark.sql import Window

    from ..tables import scale_out

    e = load_table(spark, sf, "embeddings")
    # the query side broadcasts, so the scan's partitioning carries all
    # per-row assignment + scoring work: spread a one-file scan first
    v = scale_out(e).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("v")
    )
    # centroid collect reads the UN-spread projection: scale_out is
    # row-preserving, so the doubles are identical, and the K-row
    # collect skips the round-robin exchange stage (r16)
    cent_rows = sorted(
        e.select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
        .filter(F.col("vec_id") < _IVF_K)
        .collect(),
        key=lambda r: r.vec_id,
    )
    # one py4j round-trip for the k*dim codebook literal (r15; see
    # sim.lit_cent_structs — the per-element form cost ~1 s of driver
    # time per construction)
    cent_arr = sim.lit_cent_structs(
        [int(r.vec_id) for r in cent_rows], [r.v for r in cent_rows]
    )
    scored_arr = F.transform(
        cent_arr,
        lambda c: F.struct(
            (-sim.dot(F.col("v"), c["cv"])).alias("neg_ip"),
            c["cid"].alias("cid"),
        ),
    )
    # array_min over (neg_ip, cid) = max inner product, ties to the
    # lower cent_id — the exact ordering of the oracle's window
    best = F.array_min(scored_arr)
    assigned = (
        v.select("vec_id", "v", best["cid"].alias("cell"))
        .withColumn("nrm", sim.norm(F.col("v")))
        .transform(checkpoint)
    )
    q = assigned.filter(F.col("vec_id") < _Q_CUT).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("cell"), F.col("nrm").alias("qn"),
    )
    pairs = assigned.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored2 = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (sim.dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored2.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
    )


ORACLE_ANN_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_IVF_K}),
scored AS (
    SELECT e.vec_id, e.v, c.cent_id, list_dot_product(e.v, c.cv) AS ip
    FROM e, cents c
),
assigned AS (
    SELECT vec_id, v, cent_id AS cell,
           sqrt(list_dot_product(v, v)) AS nrm
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY ip DESC, cent_id) AS rn
          FROM scored)
    WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv, cell, nrm AS qn
      FROM assigned WHERE vec_id < {_Q_CUT}),
pairs AS (
    SELECT q.query_id, a.vec_id AS neighbor_id,
           list_dot_product(q.qv, a.v) / (q.qn * a.nrm) AS cosine
    FROM assigned a JOIN q ON a.cell = q.cell
    WHERE q.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= 3
"""


def q_ann_ivf_trained(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat ANN with a *trained* k-means codebook (3 Lloyd's
    iterations, nprobe=2): the production shape of the IVF index —
    :func:`q_ann_ivf_topk` keeps the seeded-codebook variant whose
    neighbor lists the SQL oracle reproduces exactly.

    Verdict-query shape (the trained codebook's float means are
    partition-order-dependent in the last ULPs, so its neighbor lists
    cannot be replayed in SQL): run the trained index AND the exact
    brute-force arm, count per-query hits with a semi-join, and emit
    ONE row of exact integers (``n_queries``, ``n_exact_pairs`` —
    fully oracle-checked) plus ``recall_ok`` = corpus recall@3 >= 0.5.
    Measured recall is 0.875 at sf0.001 and sf0.01, so the margin only
    trips on structural breakage (bad fit, empty probes, wrong join),
    which is exactly what a rows-only check missed.  The k-means fit
    itself stays numpy-parity-tested (``test_kmeans_*``)."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < _Q_CUT)
    # project the corpus ONCE and share it between the fit and the
    # index build — two separate checkpoints would scan, cast, and pin
    # the corpus twice (r12 review finding)
    pv = sim.project_vectors(e, "vec_id", "embedding")
    cents = sim.kmeans_fit(
        e, "vec_id", "embedding", k=_IVF_K, iters=3, projected=pv
    )
    # both arms are materialized once: `exact` feeds the recall
    # semi-join AND the final agg, and Spark re-runs the full top-k
    # window per consumer (executed plan at r7 HEAD: 6 parquet scans /
    # 0 ReusedExchange / 12 Window nodes — BENCH_NOTES round-8 item 1)
    approx = sim.ivf_topk(
        e, q, cents, "vec_id", "embedding", k=3, nprobe=2,
        corpus_projected=pv,
    ).select("query_id", "neighbor_id").transform(checkpoint)
    exact = sim.brute_force_topk(
        e, q, "vec_id", "embedding", k=3
    ).select("query_id", "neighbor_id").transform(checkpoint)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact_pairs"),
        )
        .crossJoin(
            hits.agg(F.count(F.lit(1)).cast("bigint").alias("_n_hit"))
        )
        .select(
            "n_queries",
            "n_exact_pairs",
            (
                F.col("_n_hit").cast("double")
                / F.col("n_exact_pairs").cast("double")
                >= 0.5
            ).alias("recall_ok"),
        )
    )


ORACLE_ANN_IVF_TRAINED = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
exact_pairs AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.vec_id <> e.vec_id
),
exact_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact_pairs) WHERE rn <= 3
)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok
FROM exact_top
"""


_NEAR_DUP_COS = 0.35  # cosine threshold (driver embeddings are near-random;
# real semantic dedup would use ~0.9 on model embeddings)


def q_embedding_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup detection: LSH bucket the corpus,
    compare only within-bucket pairs, keep high-cosine pairs — the
    candidate stage of the semantic-dedup pass, exposed with the
    cosine value.

    Since round 7 this shares the PRODUCTION candidate generator with
    ``q_semantic_dedup`` (``_tuned_near_dup_pairs``): corpus-derived
    plane count + hub-star mega-bucket topology.  The previous fixed
    8-plane all-pairs form measured 126x wall for 100x data (the same
    quadratic-in-bucket shape as the retired semantic_dedup pin); the
    tuned generator is bounded by ``_SEM_CAP^2/2`` per small bucket and
    linear in mega-bucket members.  ORACLE_EMBEDDING_NEAR_DUPS replays
    the plane-count derivation, the hub-star predicate, and the cosine
    expression verbatim (single divisions of exact operands)."""
    return _tuned_near_dup_pairs(spark, sf)


# SemDeDup production knob (round-6, VERDICT r5 item 3; promoted to
# THE catalog definition in round 7 per the r6 verdict's item 2): a
# fixed-plane variant is oracle-parity-friendly but quadratic-ish at
# scale (within-bucket pairs grow n^2/2^p — measured 97x at 100x data
# for the retired 8-plane pin).  The production form derives the plane
# count FROM corpus size so expected bucket occupancy stays ~constant:
# smallest p with 2^p * TARGET >= n.
# Pure integer arithmetic on both engines (no float log2 whose ceil()
# could disagree at exact powers of two).
_SEM_BUCKET_TARGET = 64  # expected vectors per LSH bucket
_SEM_COUNT_CACHE: dict[str, int] = {}  # sf dir -> corpus row count
_SEM_MIN_PLANES = 4
_SEM_MAX_PLANES = 24
# buckets above this are near-dup MEGA-CLUSTERS (adding planes barely
# splits them — their members genuinely co-sign every hyperplane, the
# 100x skew probe measured max_bucket 3653 -> 2140 from p=12 -> p=18):
# inside them pair generation switches from all-pairs to a hub star
# (every member verified against the bucket's min-id), linear in
# bucket size.  For true near-identical clusters the star IS the
# SemDeDup verdict (one canonical, rest dropped); only borderline
# members that fail vs the hub but pass vs each other can split —
# the documented precision trade of every capped candidate generator
# in this file.
_SEM_CAP = 512


def tuned_plane_count(n: int) -> int:
    """Smallest p with 2**p * _SEM_BUCKET_TARGET >= n, clamped to
    [_SEM_MIN_PLANES, _SEM_MAX_PLANES] — keeps E[bucket size] <=
    _SEM_BUCKET_TARGET, so within-bucket pair work stays linear in n
    instead of n^2/2^const."""
    p = next(
        (
            i
            for i in range(_SEM_MAX_PLANES + 1)
            if (1 << i) * _SEM_BUCKET_TARGET >= max(n, 1)
        ),
        _SEM_MAX_PLANES,
    )
    return max(_SEM_MIN_PLANES, min(_SEM_MAX_PLANES, p))


def _tuned_near_dup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Shared production candidate generator for the embedding near-dup
    family (``q_embedding_near_dups`` emits it with the cosine value;
    ``q_semantic_dedup`` feeds it to connected components): LSH buckets
    with the corpus-derived plane count, all-pairs inside buckets
    <= ``_SEM_CAP``, hub-star (member vs bucket-min-id) above it, then
    the exact cosine threshold.  Returns (id_a, id_b, cosine).

    NOTE for the definition-hash staleness guard: edits HERE change
    both consumers' semantics but are invisible to their builder-source
    hashes — list both names in FORCE_STALE when touching this."""
    from ..tables import scale_out

    e = load_table(spark, sf, "embeddings")
    if sf not in _SEM_COUNT_CACHE:
        _SEM_COUNT_CACHE[sf] = e.count()
    p = tuned_plane_count(_SEM_COUNT_CACHE[sf])
    planes = sim.hyperplanes(p, _ANN_DIM)
    c = (
        scale_out(e)
        .select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
        .withColumn("bucket", sim.lsh_bucket("v", planes))
        .withColumn("nrm", sim.norm(F.col("v")))
    )
    sizes = c.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("bn"), F.min("vec_id").alias("hub_id")
    )
    # materialize: four consumers below (small a/b sides, hubs, star
    # members) — unchecked, each re-ran the embeddings scan +
    # projection + bucket/norm compute (8 parquet scans, 0 reuse in
    # the executed plan; the r8 plan-audit scans/reused columns)
    cs = c.join(sizes, "bucket").transform(checkpoint)
    a_cols = [
        F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
        F.col("bucket"), F.col("nrm").alias("na"),
    ]
    b_cols = [
        F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
        F.col("bucket"), F.col("nrm").alias("nb"),
    ]
    small = cs.filter(F.col("bn") <= _SEM_CAP)
    pairs_small = (
        small.select(*a_cols)
        .join(small.select(*b_cols), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # mega buckets: hub row joined to every other member — the join
    # OUTPUT is linear in members (all-pairs rows are never generated)
    big = cs.filter(F.col("bn") > _SEM_CAP)
    hubs = big.filter(F.col("vec_id") == F.col("hub_id")).select(*a_cols)
    pairs_star = (
        big.filter(F.col("vec_id") != F.col("hub_id"))
        .select(*b_cols)
        .join(hubs, "bucket")
    )
    return (
        pairs_small.unionByName(pairs_star.select(pairs_small.columns))
        .select(
            "id_a",
            "id_b",
            (
                sim.dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_COS)
    )


def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic deduplication verdict with the
    production planes knob: LSH-bucketed cosine near-dup pairs
    -> connected components -> min-id canonical, where ``n_planes``
    grows with the corpus (``tuned_plane_count``) so bucket occupancy
    — and therefore candidate-pair work — stays linear at any scale.
    The corpus count is one cheap Spark count job (count-star over
    parquet usually folds to footer row counts, but that is an
    optimization, not a guarantee), memoized per sf dir so bench's
    best-of-2 loop pays it once; the first p deterministic hyperplanes
    are a prefix of the 24-plane family, which is how the oracle
    replays the same buckets by masking a fixed 24-plane bucket to the
    low p bits.

    Pair topology is HYBRID (the actual 100x fix — the planes knob
    alone left 114 s at 200k vectors because mega-clusters of
    near-identical vectors resist splitting): buckets <= _SEM_CAP do
    all-pairs; larger buckets verify each member against the bucket's
    min-id hub only, so their cost is linear in members instead of
    n_bucket^2.  Both regimes are one deterministic predicate
    (``n <= cap OR id_a = hub``, hub = bucket min id), which the
    oracle replays verbatim."""
    e = load_table(spark, sf, "embeddings")
    pairs = _tuned_near_dup_pairs(spark, sf).select("id_a", "id_b")
    cc = dedup_ops.connected_components(pairs, e.select("vec_id"), "vec_id")
    return cc.select(
        F.col("id").alias("vec_id"),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


ORACLE_SEMANTIC_DEDUP = f"""
WITH RECURSIVE
p AS (
    SELECT greatest({_SEM_MIN_PLANES}, least({_SEM_MAX_PLANES},
        coalesce((SELECT min(CAST(t.i AS INT))
                  FROM range(0, {_SEM_MAX_PLANES + 1}) t(i)
                  WHERE (1::BIGINT << CAST(t.i AS INT))
                        * {_SEM_BUCKET_TARGET}
                        >= (SELECT count(*) FROM embeddings)),
                 {_SEM_MAX_PLANES}))) AS np
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id, v,
             ({_sql_bucket_expr("v", _SEM_MAX_PLANES)})
               % (1::BIGINT << (SELECT np FROM p)) AS bucket,
             sqrt(list_dot_product(v, v)) AS nrm FROM e),
sizes AS (
    SELECT bucket, count(*) AS bn, min(vec_id) AS hub_id
    FROM c GROUP BY bucket
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM c a
    JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN sizes s ON s.bucket = a.bucket
    WHERE (s.bn <= {_SEM_CAP} OR a.vec_id = s.hub_id)
      AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_NEAR_DUP_COS}
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON r.dst = e2.src
)
SELECT src AS vec_id,
       min(dst) AS cluster_id,
       (min(dst) = src) AS is_canonical
FROM reach GROUP BY src
"""


# The candidate stage of the semantic-dedup pass exposed with the
# cosine value: same plane-count derivation, bucketing, and hub-star
# predicate as ORACLE_SEMANTIC_DEDUP, minus the connected components.
ORACLE_EMBEDDING_NEAR_DUPS = f"""
WITH
p AS (
    SELECT greatest({_SEM_MIN_PLANES}, least({_SEM_MAX_PLANES},
        coalesce((SELECT min(CAST(t.i AS INT))
                  FROM range(0, {_SEM_MAX_PLANES + 1}) t(i)
                  WHERE (1::BIGINT << CAST(t.i AS INT))
                        * {_SEM_BUCKET_TARGET}
                        >= (SELECT count(*) FROM embeddings)),
                 {_SEM_MAX_PLANES}))) AS np
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id, v,
             ({_sql_bucket_expr("v", _SEM_MAX_PLANES)})
               % (1::BIGINT << (SELECT np FROM p)) AS bucket,
             sqrt(list_dot_product(v, v)) AS nrm FROM e),
sizes AS (
    SELECT bucket, count(*) AS bn, min(vec_id) AS hub_id
    FROM c GROUP BY bucket
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
FROM c a
JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN sizes s ON s.bucket = a.bucket
WHERE (s.bn <= {_SEM_CAP} OR a.vec_id = s.hub_id)
  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {_NEAR_DUP_COS}
"""


# ---------------------------------------------------------------- multimodal plumbing


def q_multimodal_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Opaque-binary column plumbing: materialize content as a binary
    column (here utf-8 bytes of text — stands in for image/audio blobs)
    with typed metadata: byte length, content digest, format sniff.
    The decode/feature stages live in ``operators.multimodal`` as
    mapInPandas stubs."""
    d = load_table(spark, sf, "documents")
    content = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(content).cast("bigint").alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.when(F.substring("text", 1, 1).between("a", "m"), "formatA")
        .otherwise("formatB")
        .alias("sniffed_format"),
    )


ORACLE_MULTIMODAL_METADATA = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CASE WHEN substr(text, 1, 1) BETWEEN 'a' AND 'm' THEN 'formatA'
            ELSE 'formatB' END AS sniffed_format
FROM documents
"""


# ---------------------------------------------------------------- chunking / vocab / centroids

_CHUNK = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # overlap = _CHUNK - _CHUNK_STRIDE = 8 tokens


def q_doc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window token chunking with overlap (LLM context-window
    prep): whitespace tokens -> 32-token windows at stride 24, emitting
    per-chunk token count + content hash.  ``explode(sequence(...))``
    keeps chunk generation fully JVM-side (no Python in the row path);
    the fan-out is bounded by ceil(n_tokens/stride) per document, so
    the exploded row count — and therefore every downstream shuffle —
    scales linearly with corpus token count, never quadratically."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    toks = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
    # per-chunk md5 is CPU work a 1-file local scan would serialize
    base = scale_out(d).select("doc_id", toks.alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    chunked = base.select("doc_id", "toks", F.explode(starts).alias("s"))
    chunk = F.slice("toks", F.col("s") + 1, _CHUNK)
    return chunked.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("token_start"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


ORACLE_DOC_CHUNKING = f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+') END AS t
    FROM documents
),
st AS (
    SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), {_CHUNK_STRIDE})) AS s
    FROM toks
)
SELECT doc_id,
       CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS token_start,
       CAST(len(list_slice(t, s + 1, s + {_CHUNK})) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(list_slice(t, s + 1, s + {_CHUNK}), ' ')) AS chunk_hash
FROM st
"""

_VOCAB_K = 100


def q_vocab_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary: top-100 whitespace tokens by frequency.  The
    classic two-phase count: map-side partial aggregation shrinks the
    shuffle to distinct-tokens-per-partition, and the final top-k is a
    TakeOrdered over the aggregated set, not a global sort of the
    token stream.  Deterministic (freq DESC, token ASC) tie-break makes
    the limit boundary stable cross-engine."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    nonempty = d.filter(F.trim(F.col("text")) != "")
    toks = scale_out(nonempty).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(_VOCAB_K)
    )


ORACLE_VOCAB_TOPK = f"""
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS token
      FROM documents WHERE trim(text) <> '')
GROUP BY token
ORDER BY freq DESC, token
LIMIT {_VOCAB_K}
"""

_CENTROID_SCALE = 1_000_000


def q_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label embedding centroid in long form (label, dim_idx,
    centroid): posexplode -> grouped mean.  Components are quantized to
    a 1e-6 grid (floor(v * 1e6) as BIGINT) before summing, so the
    grouped sum is exact integer arithmetic — associative, immune to
    partition/shuffle order, and bit-identical to the DuckDB oracle (a
    raw double sum diverges in the last ULPs between engines).  Long
    form keeps the shuffle rows narrow ((label, dim) pairs, not whole
    vectors) and lets the centroid agg scale out across dims."""
    e = load_table(spark, sf, "embeddings")
    expl = e.select("label", F.posexplode("embedding").alias("dim_idx", "v"))
    q = F.floor(F.col("v").cast("double") * F.lit(float(_CENTROID_SCALE))).cast(
        "bigint"
    )
    return expl.groupBy(
        "label", F.col("dim_idx").cast("bigint").alias("dim_idx")
    ).agg(
        (
            F.sum(q).cast("double")
            / F.count(F.lit(1))
            / F.lit(float(_CENTROID_SCALE))
        ).alias("centroid")
    )


ORACLE_LABEL_CENTROIDS = f"""
WITH expl AS (
    SELECT label,
           generate_subscripts(embedding, 1) - 1 AS dim_idx,
           unnest(CAST(embedding AS DOUBLE[])) AS v
    FROM embeddings
)
SELECT label, CAST(dim_idx AS BIGINT) AS dim_idx,
       CAST(SUM(CAST(floor(v * CAST({_CENTROID_SCALE} AS DOUBLE)) AS BIGINT))
            AS DOUBLE)
         / COUNT(*) / CAST({_CENTROID_SCALE} AS DOUBLE) AS centroid
FROM expl
GROUP BY label, dim_idx
"""

_TFIDF_K = 3


def q_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.  Plan: one
    (doc, token) aggregation for TF, a vocab-sized DF aggregation
    joined back (broadcast — vocabulary is orders of magnitude smaller
    than the token stream), and a per-doc window for the top-k.  Uses
    the linear IDF variant (N/df instead of ln(N/df)): IEEE division
    and multiplication are bit-identical across engines, so ranking and
    the oracle hash stay exact, while term ordering is unchanged for
    fixed tf (both are monotone decreasing in df).  Swap in
    ``F.log(N/df)`` for the classic variant when cross-engine
    bit-parity is not required.

    Single-source fusion (r10 recipe 2, landed r13): the per-(doc,
    token) counts are checkpointed once and every other input derives
    from them — df is a plain count over tf rows (one row per (doc,
    token) pair, so count == countDistinct(doc)), and n_docs is the
    distinct doc count of tf (every kept doc yields >= 1 token).  The
    token explode and corpus scan run exactly once instead of three
    times — at 100 TB the removed re-reads ARE the cost."""
    from pyspark.sql import Window

    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    tok = scale_out(d).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")).alias("token"),
    )
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(checkpoint)
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TFIDF_K)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            "tfidf",
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


ORACLE_TFIDF_TOPK = f"""
WITH d AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT doc_id, unnest(t) AS token FROM d),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM d),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE)
             * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
    FROM tf JOIN df USING (token) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) AS rn
    FROM scored
)
SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= {_TFIDF_K}
"""


# ---------------------------------------------------------------- BM25 retrieval (round 3)

BM25_TERMS = ("spark", "hash", "stream")
_BM25_K = 20
# Okapi BM25 with k1 = 6/5 and b = 3/4, evaluated in exact rational
# form so both engines compute bit-identical doubles:
#   idf(t)      = (N - df + 0.5) / (df + 0.5)      [linear idf, same
#                 dodge as tfidf_topk: no cross-engine log()]
#               = (2N - 2df + 1) / (2df + 1)        ... bigint / bigint
#   tfnorm(t,d) = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
#               with avgdl = total/N:
#               = 22*tf*total / (10*tf*total + 3*total + 9*dl*N)
#                                                   ... bigint / bigint
#   score term  = idf * tfnorm  — each factor is a single correctly-
#   rounded bigint division, and the product of two doubles is one
#   correctly-rounded multiply: deterministic cross-engine.  (At a
#   10^13-token corpus the tfnorm numerator would overflow BIGINT;
#   there the plain double form is the right call — the rational form
#   exists for oracle-grade determinism at test scale.)


def q_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed conjunctive term set.
    Plan shape built for corpus scale (round-10 fusion; the r3 form
    re-derived the token explode for each of per-doc-length, per-term
    tf, corpus stats, and df — 4 scans of documents per run): ONE token
    explode feeds ONE map-side-combined hash agg computing the per-doc
    length AND each query term's tf as conditional counts in the same
    pass; that per-doc frame is ``localCheckpoint``-ed once and every
    downstream input — the 1-row corpus-stats frame, the unpivoted
    per-(doc, term) tf relation, the 3-row document-frequency table —
    derives from it without touching the source again.  The only
    full-corpus shuffle is the per-doc aggregation; scoring sums the
    per-term BM25 contributions in fixed syntactic order (conditional
    sums), so no shuffle-order float drift exists anywhere."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    toks = scale_out(d).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")).alias("token"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("token") == t, F.lit(1))).alias(f"tf_{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    ).transform(checkpoint)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_tokens")
    )
    stack_args = ", ".join(f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS))
    tf = per_doc.select(
        "doc_id",
        "dl",
        F.expr(f"stack({len(BM25_TERMS)}, {stack_args}) AS (token, tf)"),
    ).filter(F.col("tf") > 0)
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_t), "token").join(F.broadcast(stats))
    idf = (
        (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast("double")
        / (2 * F.col("df") + 1).cast("double")
    )
    tfnorm = (
        (22 * F.col("tf") * F.col("total_tokens")).cast("double")
        / (
            10 * F.col("tf") * F.col("total_tokens")
            + 3 * F.col("total_tokens")
            + 9 * F.col("dl") * F.col("n_docs")
        ).cast("double")
    )
    per_term = scored.select(
        "doc_id", "token", (idf * tfnorm).alias("term_score")
    )
    def term_sum(t):
        return F.coalesce(
            F.sum(F.when(F.col("token") == t, F.col("term_score"))), F.lit(0.0)
        )

    return (
        per_term.groupBy("doc_id")
        .agg(
            (
                term_sum(BM25_TERMS[0])
                + term_sum(BM25_TERMS[1])
                + term_sum(BM25_TERMS[2])
            ).alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_K)
    )


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

ORACLE_BM25_TOPK = f"""
WITH toks AS (
    SELECT doc_id,
           unnest(regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS token
    FROM documents WHERE trim(text) <> ''
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
tf AS (
    SELECT doc_id, token, COUNT(*) AS tf FROM toks
    WHERE token IN ({_BM25_IN}) GROUP BY doc_id, token
),
df_t AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
per_term AS (
    SELECT tf.doc_id, tf.token,
           (CAST(2 * s.n_docs - 2 * df_t.df + 1 AS DOUBLE)
            / CAST(2 * df_t.df + 1 AS DOUBLE))
           * (CAST(22 * tf.tf * s.total_tokens AS DOUBLE)
              / CAST(10 * tf.tf * s.total_tokens + 3 * s.total_tokens
                     + 9 * dl.dl * s.n_docs AS DOUBLE)) AS term_score
    FROM tf
    JOIN dl USING (doc_id)
    JOIN df_t USING (token)
    CROSS JOIN stats s
)
SELECT doc_id,
       COALESCE(SUM(CASE WHEN token = '{BM25_TERMS[0]}' THEN term_score END), 0.0)
       + COALESCE(SUM(CASE WHEN token = '{BM25_TERMS[1]}' THEN term_score END), 0.0)
       + COALESCE(SUM(CASE WHEN token = '{BM25_TERMS[2]}' THEN term_score END), 0.0)
           AS bm25,
       CAST(COUNT(*) AS BIGINT) AS terms_hit
FROM per_term
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {_BM25_K}
"""


_PMI_K = 50
_PMI_MIN_PAIR = 5


def q_bigram_pmi_topk(spark: SparkSession, sf: str) -> DataFrame:
    """N-gram language-model statistics: top-50 adjacent-token bigrams
    by pointwise mutual information (collocation mining — the signal
    behind tokenizer-merge candidates and boilerplate phrase detection).

    PMI = ln(p(ab) / (p(a) p(b))); ln is monotone, so ranking by the
    raw probability ratio avoids a transcendental whose last-ULP
    rounding differs between engines.  The ratio is computed from
    exact integer counts lifted to doubles with an identical
    left-associated operation chain in both engines — IEEE mul/div are
    correctly rounded, so the result is bit-identical.

    Plan shape: tokenization explodes per doc (scale_out parallelism),
    the LEAD window partitions per doc_id (doc-sized partitions, never
    global), unigram/bigram counts are map-side-combined groupBys, and
    the two 1-row totals attach via broadcast cross join (the
    pct_breakdown pattern) — no single-partition stage anywhere.  The
    exploded token frame feeds four consumers (bigram counts, unigram
    counts, both totals); it is ``localCheckpoint``-ed once so the
    scan+explode chain runs a single time (r8 plan audit: 5 scans/0
    reuse).

    r15: the pre-explode exchange HASH-partitions on doc_id (the
    token-window recipe validated on winnowing r13 / token_pagerank
    r14) so the LEAD window's clustering requirement is satisfied
    before fan-out — one row per document moves instead of one row
    per token; the checkpoint preserves the partitioning, leaving the
    window exchange-free.  The tok-keyed groupBys still shuffle, but
    only map-side-combined partials (vocab-sized, not corpus-sized)."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    nonempty = d.filter(F.trim(F.col("text")) != "")
    toks = scale_out(nonempty, "doc_id").select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
        ).alias("pos", "tok"),
    ).transform(checkpoint)
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("tok_a"), F.col("nxt").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _PMI_MIN_PAIR)
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    totals = F.broadcast(
        uni.agg(F.sum("n_tok").cast("bigint").alias("n_tot"))
    )
    btotals = F.broadcast(
        toks.groupBy("doc_id")
        .agg((F.count(F.lit(1)) - F.lit(1)).alias("nb"))
        .agg(F.sum("nb").cast("bigint").alias("b_tot"))
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    def dbl(c):
        return F.col(c).cast("double")

    ratio = (
        dbl("n_pair") * dbl("n_tot") * dbl("n_tot")
        / (dbl("b_tot") * dbl("n_a") * dbl("n_b"))
    )
    return (
        big.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(totals)
        .crossJoin(btotals)
        .select(
            "tok_a",
            "tok_b",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            ratio.alias("pmi_ratio"),
        )
        .orderBy(F.col("pmi_ratio").desc(), "tok_a", "tok_b")
        .limit(_PMI_K)
    )


ORACLE_BIGRAM_PMI_TOPK = f"""
WITH toks AS (
    SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
    FROM (SELECT doc_id, {_SQL_TOKS_LOWER} AS t
          FROM documents WHERE trim(text) <> '')
),
big AS (
    SELECT tok AS tok_a,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS tok_b
    FROM toks
),
pc AS (
    SELECT tok_a, tok_b, COUNT(*) AS n_pair FROM big
    WHERE tok_b IS NOT NULL GROUP BY tok_a, tok_b
    HAVING COUNT(*) >= {_PMI_MIN_PAIR}
),
uni AS (SELECT tok, COUNT(*) AS n_tok FROM toks GROUP BY tok),
tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_tot FROM uni),
btot AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS b_tot FROM (
    SELECT tok_a, tok_b, COUNT(*) AS n_pair FROM big
    WHERE tok_b IS NOT NULL GROUP BY tok_a, tok_b))
SELECT pc.tok_a, pc.tok_b, CAST(pc.n_pair AS BIGINT) AS n_pair,
       CAST(pc.n_pair AS DOUBLE) * CAST(n_tot AS DOUBLE)
         * CAST(n_tot AS DOUBLE)
         / (CAST(b_tot AS DOUBLE) * CAST(ua.n_tok AS DOUBLE)
            * CAST(ub.n_tok AS DOUBLE)) AS pmi_ratio
FROM pc
JOIN uni ua ON ua.tok = pc.tok_a
JOIN uni ub ON ub.tok = pc.tok_b
CROSS JOIN tot CROSS JOIN btot
ORDER BY pmi_ratio DESC, tok_a, tok_b
LIMIT {_PMI_K}
"""


_RECALL_K = 3


def q_ann_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@3 of the LSH index
    against the exact brute-force baseline — the measurement loop any
    real ANN deployment runs before trusting an index (same shape as
    faiss/annbench recall sweeps).

    Plan shape: both arms reuse the existing operators (broadcast
    queries; bucket equi-join), the hit check is a semi-join on
    (query, neighbor), and the per-query counts are single divisions
    of exact integers — bit-identical cross-engine.  Corpus-scale
    recall sweeps sample the query set; everything here scales with
    the two arms it measures.  Both arms are ``localCheckpoint``-ed
    once (queries x k rows each) so the hit semi-join and the two
    per-query counts read the materialized top-k lists instead of
    re-running brute-force/LSH per consumer (r8 plan audit: 8 scans/0
    reuse; same device as ``q_ann_pq_recall``)."""
    e = load_table(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < _Q_CUT)
    exact = sim.brute_force_topk(e, q, "vec_id", "embedding", k=_RECALL_K).select(
        "query_id", "neighbor_id"
    ).transform(checkpoint)
    approx = sim.lsh_topk(
        e, q, "vec_id", "embedding",
        k=_RECALL_K, n_planes=_ANN_PLANES, dim=_ANN_DIM,
    ).select("query_id", "neighbor_id").transform(checkpoint)
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    ex = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    ap = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_approx")
    )
    return (
        ex.join(ap, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0).cast("bigint")).alias("n_approx"),
            F.coalesce("n_hit", F.lit(0).cast("bigint")).alias("n_hit"),
            (
                F.coalesce("n_hit", F.lit(0).cast("bigint")).cast("double")
                / F.col("n_exact").cast("double")
            ).alias("recall"),
        )
    )


ORACLE_ANN_RECALL_EVAL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id, v, {_sql_bucket_expr("v")} AS bucket FROM e),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
qb AS (SELECT * FROM c WHERE vec_id < {_Q_CUT}),
exact_pairs AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.vec_id <> e.vec_id
),
exact_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact_pairs) WHERE rn <= {_RECALL_K}
),
lsh_pairs AS (
    SELECT qb.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(qb.v, c.v)
             / (sqrt(list_dot_product(qb.v, qb.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cosine
    FROM c JOIN qb ON c.bucket = qb.bucket
    WHERE qb.vec_id <> c.vec_id
),
lsh_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM lsh_pairs) WHERE rn <= {_RECALL_K}
),
hit AS (
    SELECT et.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
    FROM exact_top et JOIN lsh_top lt
      ON et.query_id = lt.query_id AND et.neighbor_id = lt.neighbor_id
    GROUP BY et.query_id
),
ex AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
       FROM exact_top GROUP BY query_id),
ap AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_approx
       FROM lsh_top GROUP BY query_id)
SELECT ex.query_id, ex.n_exact,
       COALESCE(ap.n_approx, 0) AS n_approx,
       COALESCE(hit.n_hit, 0) AS n_hit,
       CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE)
           AS recall
FROM ex
LEFT JOIN ap ON ap.query_id = ex.query_id
LEFT JOIN hit ON hit.query_id = ex.query_id
"""


# ------------------------------------------------- corpus quality / fingerprint extensions (round 5)

_WIN_K = 8  # char-gram width (matches rolling_min_fingerprint)
_WIN_W = 4  # winnowing window: grams per window
_POS_BITS = 20  # position budget inside the packed (hash, pos) sort key
_POS_MASK = (1 << _POS_BITS) - 1


def q_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS algorithm): hash every char 8-gram, slide a 4-gram window
    over the hash sequence, select each window's minimum hash
    (ties -> rightmost position), emit the distinct selected
    ``(fingerprint, position)`` set per document.  Guarantees a match
    for any shared substring of length >= k + w - 1 = 11 chars while
    storing ~2/(w+1) of the grams — the shift-resistant dedup index
    :func:`q_doc_fingerprint`'s single global min cannot provide.

    Scale shape: explode is linear in corpus chars; the only shuffle is
    the per-doc window (partitioned by doc_id — matches the later
    dedup-index groupBy).  The (hash, rightmost-pos) argmin is packed
    into ONE bigint — ``hash40 * 2^20 + (2^20-1-pos)`` — so a plain
    ``min`` window aggregate implements the 2-key ordering identically in
    Spark and DuckDB (struct-min window frames don't exist in SQL).
    Positions are capped at 2^20-1 chars/doc at test scale; production
    docs beyond 1 MiB would widen the hash to fewer bits or chunk first.

    Delegates to ``operators.winnowing.fingerprints`` with the
    ``algo="md5"`` oracle-parity knob; production corpora switch to
    ``algo="xxhash64"`` (same selection statistics, ~one JVM intrinsic
    per gram instead of digest+hex+conv — the r5 100x rehearsal showed
    the md5 constant dominating at 75M grams)."""
    from ..operators import winnowing

    d = load_table(spark, sf, "documents")
    return winnowing.fingerprints(
        d, "text", "doc_id", k=_WIN_K, w=_WIN_W, algo="md5",
        hash_bits=40, pos_bits=_POS_BITS,
    )


ORACLE_WINNOWING_FINGERPRINTS = f"""
WITH g AS (
    SELECT doc_id, CAST(i AS INT) AS pos,
           ('0x' || substr(md5(substr(text, CAST(i AS INT), {_WIN_K})), 1, 10))::BIGINT
               AS h40
    FROM documents,
         unnest(range(1, greatest(len(text) - {_WIN_K - 1}, 1) + 1)) AS t(i)
),
p AS (
    SELECT doc_id, pos,
           h40 * {1 << _POS_BITS} + ({_POS_MASK} - pos) AS packed
    FROM g
),
sel AS (
    SELECT doc_id,
           min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS s
    FROM p
)
SELECT DISTINCT doc_id,
       CAST(s // {1 << _POS_BITS} AS BIGINT) AS fingerprint,
       CAST({_POS_MASK} - (s % {1 << _POS_BITS}) AS BIGINT) AS fp_pos
FROM sel
"""


_DNG_N = 3  # word n-gram width for the duplicate-fraction metric


def q_dup_ngram_fraction(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-n-gram fraction (the Gopher / RefinedWeb repetition-
    across-documents quality signal): for each document, the fraction
    of its DISTINCT word 3-grams that also occur in at least one other
    document.  High values flag boilerplate and templated spam that
    exact and MinHash dedup both miss (the documents differ, their
    phrasing doesn't).

    Scale shape: per-doc distinct grams are hashed to 60-bit ints
    before the corpus-wide shuffle (fixed-width keys, not strings);
    one groupBy counts gram document-frequency, one hash equi-join
    carries it back, one per-doc agg folds the fraction.  Everything
    is linear in total grams; no pair expansion anywhere.
    """
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
    base = scale_out(d).select("doc_id", toks.alias("t")).filter(
        F.size("t") >= _DNG_N
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - (_DNG_N - 1)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("t", i),
                        F.element_at("t", i + 1),
                        F.element_at("t", i + 2),
                    ),
                )
            )
        ).alias("gram"),
    )
    gh = grams.select(
        "doc_id",
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint").alias("gh"),
    # feeds the document-frequency agg AND the join probe — materialize
    # once so tokenize/explode/md5 doesn't run twice (the fixed-width
    # (doc_id, gh) table is far smaller than the text it derives from)
    ).transform(checkpoint)
    gdocs = gh.groupBy("gh").agg(F.count(F.lit(1)).alias("gdocs"))
    return (
        gh.join(gdocs, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("gdocs") > 1).cast("int")).cast("bigint").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            (
                F.col("n_dup_grams").cast("double") / F.col("n_grams").cast("double")
            ).alias("dup_frac"),
        )
    )


ORACLE_DUP_NGRAM_FRACTION = f"""
WITH d AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
b AS (SELECT doc_id, t FROM d WHERE len(t) >= {_DNG_N}),
g AS (
    SELECT doc_id,
           unnest(list_distinct([array_to_string(t[i:i + {_DNG_N - 1}], ' ')
                                 FOR i IN range(1, len(t) - {_DNG_N - 2})])) AS gram
    FROM b
),
gh AS (SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gh FROM g),
c AS (SELECT gh, count(*) AS gdocs FROM gh GROUP BY gh)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN c.gdocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       CAST(sum(CASE WHEN c.gdocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_frac
FROM gh JOIN c USING (gh)
GROUP BY doc_id
"""


#: exact-substring dedup knobs: gram width in tokens (Lee et al. use a
#: 50-token minimum at corpus scale; 8 keeps sf-test documents in
#: range) and the drop verdict's minimum duplicated-run length.
_SUBSTR_K = 8
_SUBSTR_MIN_RUN = 20


def q_substring_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact >=k-token substring dedup verdict (Lee et al.'s
    ExactSubstr, arXiv:2107.06499) — the one production dedup pass the
    set-based (MinHash/Jaccard), bit-sampled (SimHash), fingerprint
    (winnowing/CDC), embedding (SemDeDup) and block (chunk_dedup)
    families all miss: literal >=k-token spans repeated verbatim
    anywhere in the corpus, localized WITHIN each document.  Per
    document: gram-position counts, the maximal duplicated runs
    (gaps-and-islands over flagged positions — each run of g
    consecutive flagged starts is a duplicated substring of g+k-1
    tokens), and a drop verdict for any run of >= 20 tokens.

    Scale shape: one corpus scan into a fixed-width (doc, pos, hash)
    frame, one map-side-combined occurrence agg, one hash equi-join
    back (all inside :func:`...operators.dedup.substring_dup_positions`,
    checkpointed), then one per-doc window + two per-doc aggs over the
    checkpointed flag frame.  Linear in corpus tokens; no pair join
    exists to cap.
    """
    from ..operators import dedup as dedup_ops

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    flagged = dedup_ops.substring_dup_positions(
        d, "text", "doc_id", k=_SUBSTR_K
    ).transform(checkpoint)  # feeds the run window AND the per-doc totals
    runs = (
        flagged.filter(F.col("is_dup"))
        .withColumn(
            "g",
            F.col("p")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("p")),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("run_grams"))
    )
    per_run = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("run_grams").cast("bigint").alias("n_dup_grams"),
        (F.max("run_grams") + F.lit(_SUBSTR_K - 1))
        .cast("bigint")
        .alias("max_run_tokens"),
    )
    totals = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    return totals.join(per_run, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.coalesce("n_runs", F.lit(0)).cast("bigint").alias("n_runs"),
        F.coalesce("max_run_tokens", F.lit(0))
        .cast("bigint")
        .alias("max_run_tokens"),
        (F.coalesce("max_run_tokens", F.lit(0)) >= _SUBSTR_MIN_RUN).alias(
            "drop_candidate"
        ),
    )


ORACLE_SUBSTRING_DEDUP = f"""
WITH tl AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
), b AS (
    SELECT doc_id, t FROM tl WHERE len(t) >= {_SUBSTR_K}
), pos AS (
    SELECT doc_id, CAST(s AS BIGINT) AS p,
           ('0x' || substr(md5(array_to_string(
                t[CAST(s AS INT) + 1 : CAST(s AS INT) + {_SUBSTR_K}], ' ')),
                1, 15))::BIGINT AS gh
    FROM b, unnest(range(0, len(t) - {_SUBSTR_K} + 1)) AS u(s)
), occ AS (
    SELECT gh, count(*) AS n_occ FROM pos GROUP BY gh
), flagged AS (
    SELECT doc_id, p FROM pos JOIN occ USING (gh) WHERE n_occ >= 2
), grouped AS (
    SELECT doc_id, p,
           p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
    FROM flagged
), runs AS (
    SELECT doc_id, count(*) AS run_grams FROM grouped GROUP BY doc_id, g
), per_run AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(run_grams) AS BIGINT) AS n_dup_grams,
           CAST(max(run_grams) + {_SUBSTR_K - 1} AS BIGINT) AS max_run_tokens
    FROM runs GROUP BY doc_id
), totals AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM pos GROUP BY doc_id
)
SELECT totals.doc_id, n_grams,
       CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(n_runs, 0) AS BIGINT) AS n_runs,
       CAST(coalesce(max_run_tokens, 0) AS BIGINT) AS max_run_tokens,
       coalesce(max_run_tokens, 0) >= {_SUBSTR_MIN_RUN} AS drop_candidate
FROM totals LEFT JOIN per_run ON totals.doc_id = per_run.doc_id
"""


def q_unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram language-model surprisal — the KenLM-style perplexity
    quality filter reduced to exact integer arithmetic.  Token
    surprisal is approximated as ``bits(corpus_total) - bits(count)``
    (integer floor-log2 via binary-string length — bit-identical in
    both engines, per the no-cross-engine-log() rule tfidf_topk and
    bm25_topk already follow); a document's score is its mean token
    surprisal.  Low-surprisal docs are stuffed with corpus-common
    tokens (spam/templates); high-surprisal docs are heavy in rare
    tokens (noise/garble) — both ends are what an LM-perplexity filter
    trims.

    Scale shape: one token explode feeds one (token) hash agg for the
    vocabulary, a 1-row corpus total broadcast, a vocab join back
    (broadcast here; hash equi-join at real vocab scale), and one
    per-doc agg.  Linear in tokens, no windows.

    r15: pre-explode HASH-partition on doc_id (the token-window
    recipe, A/B'd on the bigram shape: 3.76 s round-robin vs 2.17 s
    hash at 100x) — the broadcast vocab join preserves partitioning,
    so the final groupBy(doc_id) needs no exchange at all; the vocab
    groupBy ships only map-side-combined partials.
    """
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    tok = scale_out(d, "doc_id").select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
        ).alias("token"),
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .join(F.broadcast(total))
        .withColumn(
            "surprisal",
            F.length(F.bin(F.col("total"))) - F.length(F.bin(F.col("cnt"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("surprisal").cast("bigint").alias("sum_surprisal"),
        (
            F.sum("surprisal").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_surprisal"),
    )


ORACLE_UNIGRAM_SURPRISAL = """
WITH d AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT doc_id, unnest(t) AS token FROM d),
vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
tot AS (SELECT sum(cnt) AS total FROM vocab),
scored AS (
    SELECT tok.doc_id,
           len(bin(tot.total)) - len(bin(vocab.cnt)) AS surprisal
    FROM tok JOIN vocab USING (token) CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(surprisal) AS BIGINT) AS sum_surprisal,
       CAST(sum(surprisal) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_surprisal
FROM scored
GROUP BY doc_id
"""


_SQ8_K = 5  # neighbors per query


def q_ann_sq8_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force top-k over SCALAR-QUANTIZED (int8-style) embeddings —
    the memory-side of the ANN trade-off space (IVF/LSH cut candidates;
    SQ cuts bytes per vector 4x, and integer dot products replace float
    ops).  The FAISS-SQ8 recipe for cosine: L2-normalize, quantize each
    coordinate symmetrically — ``round((u + m) / (2m) * 254) - 127``
    with corpus-wide ``m = max |u_i|`` — so the decoded vector is
    exactly ``delta * code`` and the INTEGER code dot product is
    proportional to the decoded cosine (an asymmetric-bias code dot,
    by contrast, is dominated by the per-vector code sum and ranks
    garbage).  Integer scoring means no ULP question anywhere — the
    oracle replays the whole pipeline, quantization included (IEEE
    sub/div/mul are exactly rounded, and round() ties-away == HALF_UP
    for the non-negative arguments here).

    Scale shape: the 1-row [m] frame broadcasts; queries broadcast
    against the corpus scan (same as cosine_topk); per-query window
    top-k.  At cluster scale the int codes column is what ships
    through the exchange — a quarter of the float payload.
    ``scale_out`` before the per-row quantize work (the one-file 100x
    rehearsal scan pinned it to a single core: 192 s vs ~20 s spread);
    the norm is computed once per row, outside the transform lambda
    (inside it, the aggregate re-evaluates per element — 64x); the
    coded table materializes once (it otherwise re-evaluates for the
    [m] stats agg, the broadcast query side, and the probe side).
    """
    from ..tables import scale_out

    e = load_table(spark, sf, "embeddings")
    v = scale_out(e).select(
        "vec_id", sim.as_double(F.col("embedding")).alias("v")
    )
    u = v.withColumn("_n", sim.norm(F.col("v"))).select(
        "vec_id",
        F.transform("v", lambda x: x / F.col("_n")).alias("u"),
    )
    stats = u.agg(
        F.max(F.array_max(F.transform("u", lambda x: F.abs(x)))).alias("m")
    )
    coded = u.join(F.broadcast(stats)).select(
        "vec_id",
        F.transform(
            "u",
            lambda x: F.round((x + F.col("m")) / (F.lit(2.0) * F.col("m")) * 254, 0).cast(
                "bigint"
            )
            - 127,
        ).alias("q"),
    ).transform(checkpoint)
    qs = coded.filter(F.col("vec_id") < _Q_CUT).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    pairs = coded.join(F.broadcast(qs)).filter(
        F.col("query_id") != F.col("vec_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with("q", "qv", lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qdot").desc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= _SQ8_K)


ORACLE_ANN_SQ8_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (
    SELECT vec_id,
           [x / sqrt(list_dot_product(v, v)) FOR x IN v] AS u
    FROM e
),
s AS (SELECT max(list_max([abs(x) FOR x IN u])) AS m FROM n),
c AS (
    SELECT vec_id,
           [CAST(round((x + s.m) / (2.0 * s.m) * 254) AS BIGINT) - 127 FOR x IN u] AS q
    FROM n, s
),
qs AS (SELECT vec_id AS query_id, q AS qv FROM c WHERE vec_id < {_Q_CUT}),
pairs AS (
    SELECT qs.query_id, c.vec_id AS neighbor_id,
           CAST(list_dot_product(qs.qv, c.q) AS BIGINT) AS qdot
    FROM c, qs WHERE qs.query_id <> c.vec_id
)
SELECT query_id, neighbor_id, qdot,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rank
FROM pairs
QUALIFY rank <= {_SQ8_K}
"""


_PQ_M = 16  # subspaces (4 dims each at _ANN_DIM=64)
_PQ_KC = 16  # codewords per subspace (4-bit codes)
_PQ_ITERS = 1  # Lloyd refinement adds nothing on these embeddings (recall
# measured equal-or-better at 1 iter vs 2: 0.75/0.79 vs 0.71/0.79)
_PQ_SHORTLIST = 32  # ADC shortlist size before exact re-rank
_PQ_RECALL_MIN = 0.4  # structural-breakage bound, see docstring


def q_ann_pq_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (PQ16x16, ADC shortlist + exact
    re-rank) evaluated against the exact brute-force arm — completes
    the ANN trade-off family: LSH / IVF cut CANDIDATES, SQ8 cuts bytes
    4x, PQ cuts them 32x (64 floats -> 16 4-bit codes) and scans in
    compressed space, fetching raw vectors only for the shortlist.

    Verdict-query shape (same contract as ann_ivf_trained: trained
    codebook means are partition-order-dependent in their last ULPs,
    so the approximate arm is not SQL-replayable): exact-arm counts are
    fully oracle-checked; ``recall_ok`` asserts corpus recall@3 over a
    floor chosen for structural breakage, not quality — measured
    recall@3 is 0.79 at sf0.001 AND sf0.01 on these near-random test
    embeddings (the hardest case for PQ: no cluster structure), so the
    0.4 floor trips only on a broken fit, wrong subspace slicing, or a
    bad code lookup — exactly what the gate is for.
    """
    from ..tables import scale_out

    e = load_table(spark, sf, "embeddings")
    # scale_out: a single-file scan would pin all per-row encode/ADC
    # work to one partition (same catch as fuzzy_name_match r4); the
    # norm is computed once per row, not inside the transform lambda
    u = (
        scale_out(e)
        .select("vec_id", sim.as_double(F.col("embedding")).alias("v"))
        .withColumn("_n", sim.norm(F.col("v")))
        .select(
            "vec_id",
            F.transform("v", lambda x: x / F.col("_n")).alias("u"),
        )
        .transform(checkpoint)
    )
    q = u.filter(F.col("vec_id") < _Q_CUT)
    # codebooks train on a deterministic 1/4 sample — the FAISS recipe:
    # PQ training cost is bounded by the sample, not the corpus, and a
    # 256-cell codebook saturates long before the full corpus sees it
    books = sim.pq_fit(
        u.filter(F.col("vec_id") % 4 == 0),
        "vec_id", "u", dim=_ANN_DIM, m_sub=_PQ_M, k=_PQ_KC, iters=_PQ_ITERS,
    ).collect()
    codes = sim.pq_encode(
        u, "vec_id", "u", books, m_sub=_PQ_M, d_sub=_ANN_DIM // _PQ_M
    )
    # both arms materialized once: each feeds the recall semi-join AND
    # the final agg, and Spark re-ran the full shortlist/top-k windows
    # per consumer (executed plan at r7 HEAD: 6 parquet scans / 8
    # Window nodes — BENCH_NOTES round-8 item 2)
    approx = sim.pq_rerank_topk(
        codes, u, q, "vec_id", "u", books,
        k=_RECALL_K, shortlist=_PQ_SHORTLIST,
        m_sub=_PQ_M, d_sub=_ANN_DIM // _PQ_M,
    ).select("query_id", "neighbor_id").transform(checkpoint)
    exact = sim.brute_force_topk(
        e, e.filter(F.col("vec_id") < _Q_CUT), "vec_id", "embedding", k=_RECALL_K
    ).select("query_id", "neighbor_id").transform(checkpoint)
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.count(F.lit(1)).cast("bigint").alias("n_exact_pairs"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).cast("bigint").alias("_n_hit")))
        .select(
            "n_queries",
            "n_exact_pairs",
            (
                F.col("_n_hit").cast("double")
                / F.col("n_exact_pairs").cast("double")
                >= _PQ_RECALL_MIN
            ).alias("recall_ok"),
        )
    )


ORACLE_ANN_PQ_RECALL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
exact_pairs AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.vec_id <> e.vec_id
),
exact_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact_pairs) WHERE rn <= {_RECALL_K}
)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS recall_ok
FROM exact_top
"""


_CONT_CAP = 32  # skip fingerprints shared by more docs (boilerplate grams)
_CONT_MIN = 0.5  # containment threshold: |fp(A) ∩ fp(B)| / |fp(A)|


def q_winnowing_containment(spark: SparkSession, sf: str) -> DataFrame:
    """ASYMMETRIC near-dup detection over the winnowing index: doc A is
    (partially) CONTAINED in doc B when >= 50% of A's selected
    fingerprints also occur in B.  This is the case symmetric-Jaccard
    dedup (minhash / ngram_jaccard) structurally misses — a short doc
    quoted whole inside a longer one has low Jaccard but containment
    ~1.0.  Output is directional: (doc_a, doc_b) and (doc_b, doc_a)
    score independently.

    Scale shape: the fingerprint self-join is an equi-join on the
    fingerprint value, fan-out bounded by dropping fingerprints shared
    by more than 32 docs BEFORE the join (boilerplate grams — the same
    hot-bucket cap as minhash_lsh_pairs_capped; docs made entirely of
    boilerplate are the symmetric family's job); the per-pair count and
    the per-doc fingerprint count are hash aggregations.  Everything is
    linear in (capped) index size — no pair expansion beyond the cap.
    """
    fp = (
        q_winnowing_fingerprints(spark, sf)
        .select("doc_id", "fingerprint")
        .distinct()
        # consumed by three subtrees below (eligibility agg, both join
        # sides, per-doc totals) — materialize once, same rule as the
        # minhash signature table
        .transform(checkpoint)
    )
    eligible = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") <= _CONT_CAP)
        .select("fingerprint")
    )
    slim = fp.join(eligible, "fingerprint")
    matches = (
        slim.select(F.col("doc_id").alias("doc_a"), "fingerprint")
        .join(
            slim.select(F.col("doc_id").alias("doc_b"), "fingerprint"),
            "fingerprint",
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    n_fp = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp_a")
    )
    return (
        matches.join(n_fp.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.col("n_fp_a").cast("double"),
        )
        .filter(F.col("containment") >= _CONT_MIN)
        .select("doc_a", "doc_b", "n_common", "n_fp_a", "containment")
    )


ORACLE_WINNOWING_CONTAINMENT = f"""
WITH g AS (
    SELECT doc_id, CAST(i AS INT) AS pos,
           ('0x' || substr(md5(substr(text, CAST(i AS INT), {_WIN_K})), 1, 10))::BIGINT
               AS h40
    FROM documents,
         unnest(range(1, greatest(len(text) - {_WIN_K - 1}, 1) + 1)) AS t(i)
),
p AS (
    SELECT doc_id, pos,
           h40 * {1 << _POS_BITS} + ({_POS_MASK} - pos) AS packed
    FROM g
),
sel AS (
    SELECT doc_id,
           min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS s
    FROM p
),
fp AS (SELECT DISTINCT doc_id, s // {1 << _POS_BITS} AS fingerprint FROM sel),
eligible AS (
    SELECT fingerprint FROM fp GROUP BY fingerprint
    HAVING count(*) <= {_CONT_CAP}
),
slim AS (SELECT fp.* FROM fp JOIN eligible USING (fingerprint)),
matches AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM slim a JOIN slim b
      ON a.fingerprint = b.fingerprint AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
n_fp AS (SELECT doc_id AS doc_a, count(*) AS n_fp_a FROM fp GROUP BY doc_id)
SELECT doc_a, doc_b,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_fp_a AS BIGINT) AS n_fp_a,
       CAST(n_common AS DOUBLE) / CAST(n_fp_a AS DOUBLE) AS containment
FROM matches JOIN n_fp USING (doc_a)
WHERE CAST(n_common AS DOUBLE) / CAST(n_fp_a AS DOUBLE) >= {_CONT_MIN}
"""


def q_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the language-ID
    heuristic against the labeled ``lang`` column — the eval-harness
    shape every heuristic quality/language filter ships with (per-cell
    counts + row-normalized rate).  One hash aggregation; the rate is
    an exact integer division per module determinism rules.

    ``scale_out`` spreads the scan before the ladder: the partial
    aggregation evaluates lang_id map-side INSIDE the scan stage, so
    a one-row-group file serializes every regexp evaluation on one
    core (r13 profile: 30.7 s single-threaded vs 0.8 s spread at
    100x — the r12 sweep's worst factor, 37.2x).  The cells frame
    (|langs|^2 rows) feeds the totals agg AND the final join, so it is
    checkpointed — without it each consumer re-runs the full scan +
    ladder (2 scans in the executed plan)."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    cells = (
        scale_out(d)
        .select(
            F.col("lang").alias("lang_labeled"),
            T.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_labeled", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .transform(checkpoint)
    )
    totals = cells.groupBy("lang_labeled").agg(
        F.sum("n_docs").cast("bigint").alias("_t")
    )
    return cells.join(totals, "lang_labeled").select(
        "lang_labeled",
        "lang_pred",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("_t").cast("double")).alias(
            "rate_within_label"
        ),
    )


ORACLE_LANG_CONFUSION = f"""
WITH cells AS (
    SELECT lang AS lang_labeled,
           {_lang_ladder_sql()} AS lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang, 2
),
totals AS (
    SELECT lang_labeled, CAST(sum(n_docs) AS BIGINT) AS t
    FROM cells GROUP BY lang_labeled
)
SELECT c.lang_labeled, c.lang_pred, c.n_docs,
       CAST(c.n_docs AS DOUBLE) / CAST(t.t AS DOUBLE) AS rate_within_label
FROM cells c JOIN totals t USING (lang_labeled)
"""


# ------------------------------------------------- hard negatives (round 5)


def q_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining: for each query embedding, the
    top-3 most-cosine-similar corpus vectors whose label DIFFERS — the
    standard near-miss negatives for embedding-model training.  Exact
    arm (``sim.hard_negative_topk``); at corpus scale the same label
    filter composes with the LSH/IVF/PQ candidate generators."""
    e = load_table(spark, sf, "embeddings")
    return sim.hard_negative_topk(
        e,
        e.filter(F.col("vec_id") < _Q_CUT),
        "vec_id",
        "embedding",
        "label",
        k=3,
    )


ORACLE_HARD_NEGATIVES = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
pairs AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           e.vec_id AS neighbor_id, e.label AS neighbor_label,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.label <> e.label
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rn
    FROM pairs
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 3
"""


# ------------------------------------------------- cluster survivor (round 5)


def q_cluster_best_doc(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup pass's SHIPPED output: for every document, its
    duplicate cluster, the cluster size, and whether it is the kept
    survivor — the best record (longest text, doc_id tiebreak) rather
    than ``q_dup_clusters``'s min-id canonical.  This is what a corpus
    pipeline actually writes: keep one high-quality exemplar per
    near-dup cluster, drop the rest.

    Scale shape: adds exactly one bounded window (partitioned on
    cluster_id) and one broadcast-size join on top of the linear
    incidence-CC plan; no pair expansion anywhere."""
    d = load_table(spark, sf, "documents")
    clusters = q_dup_clusters(spark, sf).select("doc_id", "cluster_id")
    sized = clusters.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id")
    pick = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        sized.withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("pick", F.row_number().over(pick))
        .withColumn("kept_doc_id", F.first("doc_id").over(pick))
        .select(
            "doc_id",
            "cluster_id",
            "cluster_size",
            (F.col("pick") == 1).alias("keep"),
            "kept_doc_id",
        )
    )


ORACLE_CLUSTER_BEST_DOC = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES.lstrip()
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
),
sized AS (
    SELECT c.doc_id, c.cluster_id, d.n_chars
    FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id) = 1) AS keep,
       first_value(doc_id) OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id) AS kept_doc_id
FROM sized
"""
)


# ------------------------------------------------- bloom membership (round 5)


def _sql_bloom_pos(fp_expr: str, i: int) -> str:
    return (
        f"('0x' || substr(md5({fp_expr} || ':{i}'), 1, 15))::BIGINT"
        f" % {bloom_ops.M_BITS}"
    )


def q_bloom_membership(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership verdict — the "might this new document
    collide with the corpus?" pre-filter of incremental dedup, as a
    checkable query: build a bloom over the EXISTING corpus's content
    fingerprints (doc_id % 3 != 0), probe the NEW batch (doc_id % 3 ==
    0), and emit per probe doc the bloom answer, the exact answer, and
    the no-false-negative invariant the sketch guarantees.

    Scale shape: the build is one map-side-combined bit_or aggregation
    (<= m/64 shuffled rows); the probe is a pure projection against the
    literal word array — probing 100 TB costs one scan.  The exact
    companion join exists for the oracle; production callers skip it
    (that's the sketch's point)."""
    d = load_table(spark, sf, "documents")
    fp = d.select("doc_id", F.md5("text").alias("fp"))
    build = fp.filter(F.col("doc_id") % 3 != 0).select("fp").distinct()
    words = bloom_ops.bloom_build(build, "fp")
    probe = fp.filter(F.col("doc_id") % 3 == 0)
    hit = bloom_ops.bloom_probe_expr(F.col("fp"), words)
    exact = (
        probe.join(
            build.withColumnRenamed("fp", "bfp"),
            probe["fp"] == F.col("bfp"),
            "left",
        )
        .select(
            "doc_id",
            hit.alias("bloom_hit"),
            F.col("bfp").isNotNull().alias("exact_hit"),
        )
    )
    return exact.select(
        "doc_id",
        "bloom_hit",
        "exact_hit",
        (F.col("bloom_hit") | ~F.col("exact_hit")).alias("no_false_negative"),
    )


ORACLE_BLOOM_MEMBERSHIP = f"""
WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
build AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 3 <> 0),
probes(i) AS (VALUES (0), (1), (2)),
bpos AS (
    SELECT DISTINCT
        CASE i {" ".join(f"WHEN {i} THEN {_sql_bloom_pos('fp', i)}" for i in range(3))} END AS pos
    FROM build CROSS JOIN probes
),
probe AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 0),
ppos AS (
    SELECT doc_id, fp,
        CASE i {" ".join(f"WHEN {i} THEN {_sql_bloom_pos('fp', i)}" for i in range(3))} END AS pos
    FROM probe CROSS JOIN probes
),
bh AS (
    SELECT p.doc_id, bool_and(b.pos IS NOT NULL) AS bloom_hit
    FROM ppos p LEFT JOIN bpos b ON p.pos = b.pos
    GROUP BY p.doc_id
)
SELECT p.doc_id, bh.bloom_hit,
       (p.fp IN (SELECT fp FROM build)) AS exact_hit,
       (bh.bloom_hit OR NOT (p.fp IN (SELECT fp FROM build)))
           AS no_false_negative
FROM probe p JOIN bh ON p.doc_id = bh.doc_id
"""


# ------------------------------------------------- domain divergence (round 5)


def q_domain_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-vs-corpus distribution divergence — the signal behind
    domain filtering/reweighting decisions ("how unlike the corpus is
    this source?").  KL(P_source || P_corpus) in integer bits: token
    surprisal under the corpus model minus under the source's own
    model, summed with exact integer weights (the floor-log2
    bit-length device of ``q_unigram_surprisal`` — no cross-engine
    transcendentals, no float accumulation order).

    Scale shape (round-10 fusion; the r5 form re-derived the token
    explode for each of the (source, token) counts, the vocab counts,
    and their totals — 4 scans of documents per run): ONE token
    explode feeds ONE map-side-combined hash agg over (source, token),
    ``localCheckpoint``-ed; the corpus-wide vocab distribution is then
    a second tiny agg over that frame (sums of per-source counts equal
    the corpus counts exactly — integer arithmetic, no float order),
    as are both totals.  Linear in tokens, one full-corpus shuffle,
    no windows, no pair expansion."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    tok = scale_out(d).select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
        ).alias("token"),
    )
    per_src = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt_sw")
    ).transform(checkpoint)
    vocab = per_src.groupBy("token").agg(
        F.sum("cnt_sw").cast("bigint").alias("cnt_w")
    )
    total = F.broadcast(
        vocab.agg(F.sum("cnt_w").cast("bigint").alias("n_tot"))
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("cnt_sw").cast("bigint").alias("n_src")
    )

    def bits(c):
        return F.length(F.bin(c))

    scored = (
        per_src.join(F.broadcast(vocab), "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(total)
        .select(
            "source",
            "cnt_sw",
            (F.col("cnt_sw") * (bits(F.col("n_tot")) - bits(F.col("cnt_w"))))
            .cast("bigint")
            .alias("g_bits"),
            (F.col("cnt_sw") * (bits(F.col("n_src")) - bits(F.col("cnt_sw"))))
            .cast("bigint")
            .alias("l_bits"),
        )
    )
    return scored.groupBy("source").agg(
        F.sum("cnt_sw").cast("bigint").alias("n_tokens"),
        F.sum("g_bits").cast("bigint").alias("sum_corpus_bits"),
        F.sum("l_bits").cast("bigint").alias("sum_source_bits"),
        (
            (F.sum("g_bits") - F.sum("l_bits")).cast("double")
            / F.sum("cnt_sw").cast("double")
        ).alias("kl_bits_avg"),
    )


ORACLE_DOMAIN_KL = """
WITH d AS (
    SELECT source,
           regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT source, unnest(t) AS token FROM d),
per_src AS (
    SELECT source, token, CAST(count(*) AS BIGINT) AS cnt_sw
    FROM tok GROUP BY source, token
),
vocab AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt_w FROM tok GROUP BY token
),
tot AS (SELECT CAST(sum(cnt_w) AS BIGINT) AS n_tot FROM vocab),
src_tot AS (
    SELECT source, CAST(sum(cnt_sw) AS BIGINT) AS n_src
    FROM per_src GROUP BY source
),
scored AS (
    SELECT p.source, p.cnt_sw,
           p.cnt_sw * (len(bin(t.n_tot)) - len(bin(v.cnt_w))) AS g_bits,
           p.cnt_sw * (len(bin(s.n_src)) - len(bin(p.cnt_sw))) AS l_bits
    FROM per_src p
    JOIN vocab v USING (token)
    JOIN src_tot s USING (source)
    CROSS JOIN tot t
)
SELECT source,
       CAST(sum(cnt_sw) AS BIGINT) AS n_tokens,
       CAST(sum(g_bits) AS BIGINT) AS sum_corpus_bits,
       CAST(sum(l_bits) AS BIGINT) AS sum_source_bits,
       CAST(sum(g_bits) - sum(l_bits) AS DOUBLE)
         / CAST(sum(cnt_sw) AS DOUBLE) AS kl_bits_avg
FROM scored
GROUP BY source
"""


# --------------------------------------- sparse cosine similarity (round 5)

_SC_DF_CAP = 40  # drop terms appearing in more docs (stop-term/skew cap)
_SC_THRESHOLD = 0.5


def q_sparse_cosine_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index document similarity: cosine over sparse bigram
    term-frequency vectors via a postings self-join — the lexical
    counterpart of ``embedding_near_dups``, and the classic IR join
    (documents become candidates only through shared terms, never
    all-pairs).

    Exactness device: tf weights are integers, so the dot product and
    both norms-squared are exact BIGINTs; cosine is a single final
    float expression from exact operands (the PMI rule — no float
    accumulation order to diverge on).

    Scale shape: the candidate generator is the term equi-join, and its
    cost is sum(df^2) over terms — bounded by dropping terms with df >
    {cap} (stop-term removal IS the skew control, same role as the LSH
    bucket cap).  Aggregations are map-side combined; norms attach via
    broadcast-size joins.  The postings list (``terms``/``kept``) is
    consumed by five downstream subtrees (df table, norms, both join
    sides); both are ``localCheckpoint``-ed once so the
    tokenize+window chain runs a single time instead of re-scanning
    the corpus per consumer (r8 plan audit: 8 scans/0 reuse)."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    toks = scale_out(d).select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    terms = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id", F.concat_ws(" ", "tok", "nxt").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .transform(checkpoint)
    )
    df_tbl = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    kept = terms.join(
        F.broadcast(df_tbl.filter(F.col("df") <= _SC_DF_CAP)), "term"
    ).select("doc_id", "term", "tf").transform(checkpoint)
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("norm_sq")
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("tf").alias("tf_a")
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm_sq").alias("nsq_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm_sq").alias("nsq_b"))
    cos = (
        F.col("dot").cast("double")
        / (F.sqrt(F.col("nsq_a").cast("double")) * F.sqrt(F.col("nsq_b").cast("double")))
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_shared", "dot", cos.alias("cosine"))
        .filter(F.col("cosine") >= F.lit(_SC_THRESHOLD))
    )


ORACLE_SPARSE_COSINE_PAIRS = f"""
WITH d AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT doc_id, i, t[i] AS tok, t[i + 1] AS nxt
        FROM d, unnest(range(1, len(t))) AS u(i)),
terms AS (
    SELECT doc_id, tok || ' ' || nxt AS term, CAST(count(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY term),
kept AS (
    SELECT t.doc_id, t.term, t.tf
    FROM terms t JOIN dfreq f USING (term) WHERE f.df <= {_SC_DF_CAP}
),
norms AS (
    SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS norm_sq
    FROM kept GROUP BY doc_id
),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
    FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared, dot,
       CAST(dot AS DOUBLE)
         / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE)))
           AS cosine
FROM dots
JOIN norms na ON dots.doc_a = na.doc_id
JOIN norms nb ON dots.doc_b = nb.doc_id
WHERE CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.norm_sq AS DOUBLE)) * sqrt(CAST(nb.norm_sq AS DOUBLE)))
      >= {_SC_THRESHOLD}
"""


# --------------------------------------- content-defined chunking (round 5)

_CDC_K = 8  # gram width driving boundary decisions
_CDC_DIV = 32  # boundary probability 1/DIV -> ~32-char expected chunks


def q_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking (LBFS/rsync-style): chunk boundaries
    fall where the k-gram hash ends in a zero residue, so an insertion
    near the front MOVES no later boundary — the shift-resistant
    counterpart of ``q_doc_chunking``'s fixed stride, and the basis of
    delta-style storage dedup.  Emits each chunk with its content hash
    and corpus-wide copy count (cross-document chunk dedup).

    Scale shape: one position explode (linear in chars — the same cost
    class as winnowing), per-doc windows for boundary ordering, one
    hash-partitioned window for the corpus copy count.  No pair joins:
    dedup is an equi-group on chunk_hash.

    Delegates to ``operators.winnowing.cdc_chunks`` with the
    ``algo="md5"`` oracle-parity knob; production corpora switch to
    ``algo="xxhash64"`` (same boundary statistics — uniform residues —
    without the per-gram digest cost)."""
    from ..operators import winnowing

    d = load_table(spark, sf, "documents")
    return winnowing.cdc_chunks(
        d, "text", "doc_id", k=_CDC_K, div=_CDC_DIV, algo="md5",
        hash_bits=60,
    )


ORACLE_CDC_CHUNKS = f"""
WITH d AS (
    SELECT doc_id, text, len(text) AS n FROM documents WHERE trim(text) <> ''
),
pos AS (
    SELECT doc_id, text, n, CAST(i AS INT) AS i
    FROM d, unnest(range({_CDC_K}, n + 1)) AS t(i)
),
bounds AS (
    SELECT doc_id, i FROM pos
    WHERE ('0x' || substr(md5(substr(text, i - {_CDC_K - 1}, {_CDC_K})), 1, 15))::BIGINT
          % {_CDC_DIV} = 0
    UNION
    SELECT doc_id, CAST(n AS INT) AS i FROM d
),
chunks AS (
    SELECT b.doc_id,
           CAST(row_number() OVER (PARTITION BY b.doc_id ORDER BY b.i) - 1
                AS BIGINT) AS chunk_idx,
           CAST(coalesce(lag(b.i) OVER (PARTITION BY b.doc_id ORDER BY b.i) + 1,
                         1) AS BIGINT) AS start,
           b.i AS fin
    FROM bounds b
)
SELECT c.doc_id, c.chunk_idx, c.start,
       CAST(c.fin - c.start + 1 AS BIGINT) AS chunk_len,
       md5(substr(d.text, CAST(c.start AS INT), CAST(c.fin - c.start + 1 AS INT)))
           AS chunk_hash,
       CAST(count(*) OVER (
           PARTITION BY md5(substr(d.text, CAST(c.start AS INT),
                                   CAST(c.fin - c.start + 1 AS INT)))
       ) AS BIGINT) AS n_copies
FROM chunks c JOIN d ON c.doc_id = d.doc_id
"""


# --------------------------------------- token PageRank (round 5)

_PR_SCALE = 1_000_000  # fixed-point micro-units
_PR_ITERS = 5


def _pr_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric weighted co-occurrence edges between adjacent tokens
    (self-loops dropped), from the same LEAD-window bigram machinery as
    PMI.  ``scale_out(d, "doc_id")`` hash-partitions BEFORE the token
    fan-out so the per-doc LEAD window reuses that clustering — the
    exchange moves one row per document instead of one per token (the
    r13 winnowing recipe; pre-validated A/B on this bigram shape at
    100x: round-robin 3.76 s vs hash-by-doc 2.17 s)."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    toks = scale_out(d, "doc_id").select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\x0B\f\r]+")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    directed = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull() & (F.col("tok") != F.col("nxt")))
        .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    rev = directed.select(
        F.col("b").alias("a"), F.col("a").alias("b"), "w"
    )
    return (
        directed.union(rev)
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("w"))
    )


def q_token_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted PageRank over the token co-occurrence graph — the
    TextRank keyword-extraction primitive, and the engine's iterative
    graph-algorithm exemplar beyond connected components.

    Exactness device: FIXED-POINT INTEGER power iteration.  Ranks live
    in micro-units; each edge's contribution is floored integer
    division (pr*w DIV strength), so per-iteration sums are exact
    BIGINTs with no accumulation-order sensitivity, and the DuckDB
    oracle replays all {iters} iterations bit-for-bit (floats would
    diverge in the last ULP under different reduce orders).

    Scale shape: per iteration one (edge join + hash agg) shuffled on
    token keys — the standard Pregel-style message pass expressed
    relationally; localCheckpoint keeps the plan flat.  The vocab is
    bounded; the corpus-sized work (edge building) happens once."""
    edges = _pr_edges(spark, sf).transform(checkpoint)
    strength = edges.groupBy("a").agg(
        F.sum("w").cast("bigint").alias("str")
    )
    # materialize the strength-joined edge table ONCE (r15): only
    # `edges` was checkpointed, so every power iteration's job re-ran
    # the strength aggregation and its join from scratch — one shuffle
    # and one join per iteration of pure recomputation.  Exact-integer
    # weights, so the checkpoint changes nothing downstream.
    e = edges.join(strength, "a").transform(checkpoint)
    pr = strength.select(
        F.col("a").alias("token"), F.lit(_PR_SCALE).cast("bigint").alias("pr")
    )
    base = (15 * _PR_SCALE) // 100
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(pr, e["a"] == pr["token"])
            .select(
                F.col("b"),
                F.expr("(pr * w) DIV str").alias("c"),
            )
            .groupBy("b")
            .agg(F.sum("c").cast("bigint").alias("contrib"))
        )
        pr = (
            pr.select("token")
            .join(contrib, pr["token"] == contrib["b"], "left")
            .select(
                "token",
                (
                    F.lit(base).cast("bigint")
                    + F.expr("(85 * coalesce(contrib, 0)) DIV 100")
                ).alias("pr"),
            )
            .transform(checkpoint)
        )
    return pr


def _oracle_token_pagerank() -> str:
    rounds = []
    for r in range(_PR_ITERS):
        rounds.append(f"""
contrib{r} AS MATERIALIZED (
    SELECT e.b AS token, CAST(sum((p.pr * e.w) // e.str) AS BIGINT) AS c
    FROM es e JOIN pr{r} p ON e.a = p.token
    GROUP BY e.b
),
pr{r + 1} AS MATERIALIZED (
    SELECT p.token,
           CAST({(15 * _PR_SCALE) // 100} + (85 * coalesce(c.c, 0)) // 100
                AS BIGINT) AS pr
    FROM pr{r} p LEFT JOIN contrib{r} c USING (token)
)""")
    return f"""
WITH d AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
    FROM documents WHERE trim(text) <> ''
),
tok AS (SELECT doc_id, i, t[i] AS a, t[i + 1] AS b
        FROM d, unnest(range(1, len(t))) AS u(i)),
directed AS (
    SELECT a, b, CAST(count(*) AS BIGINT) AS w
    FROM tok WHERE a <> b GROUP BY a, b
),
edges AS (
    SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
        SELECT a, b, w FROM directed
        UNION ALL SELECT b AS a, a AS b, w FROM directed
    ) GROUP BY a, b
),
strength AS (SELECT a, CAST(sum(w) AS BIGINT) AS str FROM edges GROUP BY a),
es AS MATERIALIZED (
    SELECT e.a, e.b, e.w, s.str FROM edges e JOIN strength s USING (a)
),
pr0 AS MATERIALIZED (
    SELECT a AS token, CAST({_PR_SCALE} AS BIGINT) AS pr FROM strength
),
{",".join(rounds)}
SELECT token, pr FROM pr{_PR_ITERS}
"""


ORACLE_TOKEN_PAGERANK = _oracle_token_pagerank()


# --------------------------------------- hybrid rank fusion (round 5)

_RRF_K = 60  # the standard RRF dampening constant
_RRF_ARM_K = 10  # depth of each retrieval arm
_RRF_OUT_K = 5


def q_hybrid_rrf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval arms — the standard
    hybrid-search combiner (Cormack et al.): an exact cosine arm and an
    LSH-bucketed arm, fused by summed reciprocal ranks.  A neighbor
    missing from one arm simply contributes nothing (the RRF
    convention).

    Exactness: the fused score is the SUM OF EXACTLY TWO single
    divisions from integer ranks — written as an explicit two-term
    addition, not an aggregation, so there is no accumulation order to
    diverge on.

    Scale shape: both arms are existing bounded plans (broadcast
    queries / bucket equi-join); fusion is one (query, neighbor) full
    outer join + the per-query top-k window.  The (vec_id, embedding)
    projection is ``localCheckpoint``-ed once (round-10; the r5 form
    re-scanned embeddings for each arm's corpus AND query side — 4
    scans per run) so both arms and both query sides read the same
    materialized frame."""
    e = load_table(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    ).transform(checkpoint)
    q = e.filter(F.col("vec_id") < _Q_CUT)
    exact = sim.brute_force_topk(e, q, "vec_id", "embedding", k=_RRF_ARM_K).select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_exact")
    )
    lsh = sim.lsh_topk(
        e, q, "vec_id", "embedding", k=_RRF_ARM_K,
        n_planes=_ANN_PLANES, dim=_ANN_DIM,
    ).select("query_id", "neighbor_id", F.col("rank").alias("rank_lsh"))
    fused = exact.join(lsh, ["query_id", "neighbor_id"], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_exact").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(_RRF_K)) + F.col("rank_lsh").cast("double")),
        F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id")
    )
    return (
        fused.select("query_id", "neighbor_id", "rank_exact", "rank_lsh",
                     score.alias("rrf_score"))
        .withColumn("fused_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("fused_rank") <= _RRF_OUT_K)
    )


ORACLE_HYBRID_RRF_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < {_Q_CUT}),
exact_pairs AS (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
               AS cosine
    FROM e, q WHERE q.vec_id <> e.vec_id
),
exact_arm AS (
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank_exact FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM exact_pairs)
    WHERE rn <= {_RRF_ARM_K}
),
c AS (SELECT vec_id, v, {{bucket}} AS bucket FROM e),
qb AS (SELECT * FROM c WHERE vec_id < {_Q_CUT}),
lsh_pairs AS (
    SELECT qb.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_dot_product(qb.v, c.v)
             / (sqrt(list_dot_product(qb.v, qb.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cosine
    FROM c JOIN qb ON c.bucket = qb.bucket
    WHERE qb.vec_id <> c.vec_id
),
lsh_arm AS (
    SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank_lsh FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM lsh_pairs)
    WHERE rn <= {_RRF_ARM_K}
),
fused AS (
    SELECT coalesce(a.query_id, b.query_id) AS query_id,
           coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
           a.rank_exact, b.rank_lsh,
           coalesce(1.0 / ({_RRF_K}.0 + CAST(a.rank_exact AS DOUBLE)), 0.0)
             + coalesce(1.0 / ({_RRF_K}.0 + CAST(b.rank_lsh AS DOUBLE)), 0.0)
               AS rrf_score
    FROM exact_arm a
    FULL OUTER JOIN lsh_arm b
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id, rank_exact, rank_lsh, rrf_score,
       CAST(rn AS BIGINT) AS fused_rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, neighbor_id) AS rn
    FROM fused)
WHERE rn <= {_RRF_OUT_K}
"""
ORACLE_HYBRID_RRF_TOPK = ORACLE_HYBRID_RRF_TOPK.replace(
    "{bucket}", _sql_bucket_expr("v")
)


# --------------------------------------- multimodal frame index (round 5)

_MF_N = 4  # frames sampled per media blob


def q_media_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal frame-sampling INDEX, end-to-end through the real
    Arrow-batched ``mapInPandas`` plumbing: documents wrapped as media
    blobs, each blob split into {n} frames, each frame fingerprinted —
    the (media_id, frame_idx, digest) index a video/audio dedup or
    caption pipeline joins against.  The deterministic fake sampler
    slices raw bytes (ascii corpus: byte slice == char substr), so the
    whole 1->N Python stage is replayed in SQL — the one catalog entry
    that oracle-checks a Pandas-UDF operator rather than a JVM plan.

    Scale shape: mapInPandas streams Arrow batches (never per-row
    Python); downstream hashing/aggregation is JVM-side; output is
    n_frames rows per blob — linear fan-out."""
    from ..operators import multimodal as mm

    d = load_table(spark, sf, "documents")
    media = mm.text_as_media(d, "doc_id", "text", source="docs")
    frames = mm.sample_frames(media, n_frames=_MF_N, fake=True)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.length("frame_bytes").cast("bigint").alias("frame_len"),
        F.md5("frame_bytes").alias("frame_md5"),
    )


ORACLE_MEDIA_FRAMES = f"""
WITH m AS (
    SELECT doc_id AS media_id, text,
           greatest(len(text) // {_MF_N}, 1) AS step
    FROM documents
),
idx(i) AS (VALUES (0), (1), (2), (3))
SELECT media_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(len(substr(text, CAST(i * step + 1 AS INT), CAST(step AS INT)))
            AS BIGINT) AS frame_len,
       md5(substr(text, CAST(i * step + 1 AS INT), CAST(step AS INT)))
           AS frame_md5
FROM m CROSS JOIN idx
"""


# ---------------------------------------------------------------- r7: dedup reporting + sketch eval


def q_dedup_survivorship(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source survivorship report of the corpus dedup pass: join
    the ``dup_clusters`` verdict back to document metadata and roll up
    kept/dropped counts + drop rate per source — the accounting table a
    training-data pipeline publishes with every dedup snapshot (how
    much of each provider's feed survived).

    Scale shape: the verdict side is the linear incidence-CC output
    (one row per doc), the metadata side a column-pruned scan; one
    equi-join on doc_id + a tiny hash agg (|sources| groups).  The
    drop rate is a single division of exact integers (module
    determinism rules)."""
    d = load_table(spark, sf, "documents").select("doc_id", "source")
    cc = q_dup_clusters(spark, sf)
    return (
        cc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("is_canonical"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).alias("n_dropped"),
            "n_clusters",
            (
                (F.col("n_docs") - F.col("n_kept")).cast("double")
                / F.col("n_docs").cast("double")
            ).alias("drop_rate"),
        )
    )


ORACLE_DEDUP_SURVIVORSHIP = (
    "WITH RECURSIVE "
    + _SQL_SHINGLES.lstrip()
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
verdict AS (
    SELECT src AS doc_id,
           min(dst) AS cluster_id,
           (min(dst) = src) AS is_canonical
    FROM reach GROUP BY src
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN v.is_canonical THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(count(*) - sum(CASE WHEN v.is_canonical THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(count(DISTINCT v.cluster_id) AS BIGINT) AS n_clusters,
       CAST(count(*) - sum(CASE WHEN v.is_canonical THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS drop_rate
FROM verdict v JOIN documents d USING (doc_id)
GROUP BY d.source
"""
)


def q_minhash_jaccard_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-quality evaluation for the MinHash family: for every
    capped LSH candidate pair, the signature-agreement Jaccard ESTIMATE
    (n_agree/n_hashes) next to the EXACT hashed-shingle Jaccard and the
    absolute error — the evidence table for tuning band size / hash
    count before committing a 100 TB dedup pass to a sketch config.

    Scale shape: candidate generation is the capped band equi-join;
    the estimate is one pair->signature lookup join; the exact arm
    intersects per-pair shingle SETS (no shingle self-join).  All
    output arithmetic is single divisions/subtractions of identical
    expression trees (bit-deterministic across engines); pairs whose
    shingle sets are disjoint get exact_jaccard 0.0 via the left
    join's coalesce."""
    d = load_table(spark, sf, "documents")
    sig = q_minhash_signatures(spark, sf).transform(checkpoint)
    # eagerly materialized: the candidate list feeds THREE consumers
    # (the estimate lookup join, the exact arm, and the final left
    # join); a lazy plan re-runs the banded self-join + DISTINCT per
    # consumer (measured 3x the whole query's cost at 100x)
    cands = dedup_ops.minhash_candidate_pairs(
        sig, "doc_id", n_hashes=_MH_N, band_size=_MH_BAND,
        max_bucket=_LSH_MAX_BUCKET,
    ).transform(checkpoint)
    est = dedup_ops.minhash_jaccard_estimates(cands, sig, "doc_id", _MH_N)
    exact = dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", k=_MH_K, threshold=0.0, candidates=cands
    ).select("id_a", "id_b", F.col("jaccard").alias("_exact"))
    return est.join(exact, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "n_agree",
        "est_jaccard",
        F.coalesce(F.col("_exact"), F.lit(0.0)).alias("exact_jaccard"),
        F.abs(
            F.col("est_jaccard") - F.coalesce(F.col("_exact"), F.lit(0.0))
        ).alias("abs_err"),
    )


ORACLE_MINHASH_JACCARD_ESTIMATE = (
    "WITH "
    + _SQL_SHINGLES
    + ",\n"
    + _SQL_SIG
    + ",\n"
    + _sql_bands()
    + f""",
small AS (
    SELECT band_idx, band_key FROM bands
    GROUP BY band_idx, band_key
    HAVING count(*) <= {_LSH_MAX_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN small s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
agree AS (
    SELECT c.id_a, c.id_b,
           ({" + ".join(f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(_MH_N))})
               AS n_agree
    FROM cands c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT g.id_a, g.id_b,
       CAST(g.n_agree AS BIGINT) AS n_agree,
       CAST(g.n_agree AS DOUBLE) / {_MH_N}.0 AS est_jaccard,
       coalesce(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 0.0)
           AS exact_jaccard,
       abs(CAST(g.n_agree AS DOUBLE) / {_MH_N}.0
           - coalesce(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 0.0))
           AS abs_err
FROM agree g
LEFT JOIN inter i ON i.id_a = g.id_a AND i.id_b = g.id_b
JOIN sizes sa ON sa.doc_id = g.id_a
JOIN sizes sb ON sb.doc_id = g.id_b
"""
)


# --------------------------- URL/key canonicalization dedup (round 8)

_CANON_BUCKETS = 8  # crawl-path buckets per source (collision-rich on
# purpose: several raw URLs per canonical key exercises the collapse)


def q_url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-snapshot URL/key canonicalization dedup: derive each
    document's crawl URL deterministically from its metadata (mixed-
    case scheme+host, tracking query params — the messy-key shape web
    snapshots actually carry), CANONICALIZE it (lowercase; strip
    scheme, ``www.``, query string, trailing slash), and collapse to
    one canonical row per URL with variant counts and a min-doc_id
    survivor — the reference's Bronze composite-key history -> current
    collapse (``load_bronze.py:68-70``) generalized to messy web keys,
    and the standard first pass of a crawl-dedup pipeline (canonical
    URL dedup BEFORE content dedup: it is exact and shuffle-cheap).

    Scale shape: project + one hash aggregation on the canonical key;
    the regexp chain is JVM-side whole-stage codegen (zero UDF), and
    the agg is map-side combined — linear, no join."""
    d = load_table(spark, sf, "documents")
    url = F.concat(
        F.lit("https://WWW."),
        F.upper("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/"),
        (F.col("doc_id") % _CANON_BUCKETS).cast("string"),
        F.lit("/?utm_source=feed&doc="),
        F.col("doc_id").cast("string"),
    )
    canon = F.regexp_replace(F.lower(url), "^https?://", "")
    canon = F.regexp_replace(canon, "^www\\.", "")
    canon = F.regexp_replace(canon, "\\?.*$", "")
    canon = F.regexp_replace(canon, "/$", "")
    per = d.select(
        F.col("doc_id"), F.col("n_chars"), canon.alias("canonical_url")
    )
    return per.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_variants"),
        F.min("doc_id").cast("bigint").alias("canonical_doc"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


ORACLE_URL_CANONICAL_DEDUP = f"""
WITH u AS (
    SELECT doc_id, n_chars,
           'https://WWW.' || upper(source) || '.example.com/' || lang
             || '/' || CAST(doc_id % {_CANON_BUCKETS} AS VARCHAR)
             || '/?utm_source=feed&doc=' || CAST(doc_id AS VARCHAR)
             AS url
    FROM documents
),
c AS (
    SELECT doc_id, n_chars,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '^https?://', ''), '^www\\.', ''),
               '\\?.*$', ''), '/$', '') AS canonical_url
    FROM u
)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM c GROUP BY canonical_url
"""


# ------------------------------- LSH candidate-recall audit (round 8)

_RECALL_CUT_DOCS = 150  # fixed audit sample (doc_id < cut): ground
# truth cost is sample^2 and CONSTANT in corpus size, the same
# bounded-eval device as q_ann_recall_eval's query cut


def q_lsh_dedup_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall audit of the PRODUCTION capped MinHash-LSH candidate
    generator against exact n-gram Jaccard ground truth on a fixed
    doc-id audit sample — the dedup counterpart of
    ``q_ann_recall_eval``: the capped generator trades recall inside
    oversized buckets for bounded cost (``_LSH_MAX_BUCKET``), and this
    query measures exactly what that trade costs, continuously.

    Ground truth: ALL pairs within the <=150-doc sample with char-5
    Jaccard >= 0.5 (the ``q_ngram_jaccard`` threshold).  Candidates:
    the full-corpus capped generator, restricted to sample pairs — so
    cap-induced misses on hot buckets DO count against recall.  Emits
    one row of exact counts plus the recall ratio (one int/int
    division, deterministic cross-engine).

    Scale shape: the sample all-pairs arm is 150^2 regardless of
    corpus size; the candidate arm is the production banded equi-join;
    both arms are localCheckpointed once for their two consumers
    (semi-join + count)."""
    d = load_table(spark, sf, "documents").filter(
        F.col("doc_id") < _RECALL_CUT_DOCS
    )
    truth = (
        dedup_ops.ngram_jaccard_pairs(
            d, "text", "doc_id", k=_MH_K, threshold=0.5
        )
        .select("id_a", "id_b")
        .transform(checkpoint)
    )
    sig = q_minhash_signatures(spark, sf)
    cands = (
        dedup_ops.minhash_candidate_pairs(
            sig,
            "doc_id",
            n_hashes=_MH_N,
            band_size=_MH_BAND,
            max_bucket=_LSH_MAX_BUCKET,
        )
        .filter(
            (F.col("id_a") < _RECALL_CUT_DOCS)
            & (F.col("id_b") < _RECALL_CUT_DOCS)
        )
        .transform(checkpoint)
    )
    hits = truth.join(cands, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    c = cands.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
    )
    h = hits.agg(F.count(F.lit(1)).cast("bigint").alias("_n_hits"))
    return (
        t.crossJoin(c)
        .crossJoin(h)
        .select(
            "n_true_pairs",
            "n_candidate_pairs",
            F.col("_n_hits").alias("n_hits"),
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("_n_hits").cast("double")
                / F.col("n_true_pairs").cast("double"),
            ).alias("recall"),
        )
    )


def _oracle_lsh_dedup_recall() -> str:
    return (
        "WITH "
        + _SQL_SHINGLES
        + ",\n"
        + _SQL_SIG
        + ",\n"
        + _sql_bands()
        + f""",
small AS (
    SELECT band_idx, band_key FROM bands
    GROUP BY band_idx, band_key
    HAVING count(*) <= {_LSH_MAX_BUCKET}
),
cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN small s ON a.band_idx = s.band_idx AND a.band_key = s.band_key
    JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
cands_s AS (
    SELECT * FROM cands
    WHERE id_a < {_RECALL_CUT_DOCS} AND id_b < {_RECALL_CUT_DOCS}
),
ssh AS (SELECT * FROM sh WHERE doc_id < {_RECALL_CUT_DOCS}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ssh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM ssh a JOIN ssh b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
truth AS (
    SELECT i.id_a, i.id_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5
)
SELECT CAST(t.n AS BIGINT) AS n_true_pairs,
       CAST(c.n AS BIGINT) AS n_candidate_pairs,
       CAST(h.n AS BIGINT) AS n_hits,
       CASE WHEN t.n > 0
            THEN CAST(h.n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS recall
FROM (SELECT count(*) AS n FROM truth) t,
     (SELECT count(*) AS n FROM cands_s) c,
     (SELECT count(*) AS n FROM truth tt
      WHERE EXISTS (SELECT 1 FROM cands_s cs
                    WHERE cs.id_a = tt.id_a AND cs.id_b = tt.id_b)) h
"""
    )


ORACLE_LSH_DEDUP_RECALL = _oracle_lsh_dedup_recall()
