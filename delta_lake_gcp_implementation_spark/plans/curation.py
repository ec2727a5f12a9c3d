"""Corpus-curation query catalog: normalization, PII scrubbing,
stratified sampling, sequence packing, contamination detection,
domain mixing (the selection/packing half of a training-data pipeline;
dedup/quality/similarity live in ``plans.textops``).

Beyond-the-reference family.  Every query pairs a Spark builder with
DuckDB oracle SQL; sampling thresholds / shingle widths / budgets are
shared Python constants so both engines evaluate literally the same
algorithm.  Cross-engine rules follow ``plans.relational``: md5 hash
basis, <=15 hex chars into BIGINT, single divisions of exact integer
operands, no DECIMAL/float reductions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..checkpoints import checkpoint
from ..functions import text as T
from ..operators import curation as cur_ops
from ..tables import load_table

# DuckDB mirror of functions.text.token_count (whitespace tokens).
_SQL_NTOK = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END"
)


# ---------------------------------------------------------------- normalization / PII


def _contact_card() -> F.Column:
    """Deterministic PII-bearing text derived from customer columns
    (the trimmed testdata tables carry no free text, so the demo input
    is constructed identically in both engines): name, an email, a
    phone, an IPv4, the market segment."""
    key = F.col("c_custkey")
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
        F.lit("@example.com"),
    )
    phone = F.concat_ws(
        "-",
        F.lit("25"),
        F.lpad((key % 997).cast("string"), 3, "0"),
        F.lpad((key % 883).cast("string"), 3, "0"),
        F.lpad((key % 9973).cast("string"), 4, "0"),
    )
    ip = F.concat_ws(
        ".", F.lit("10"), F.lit("0"), (key % 256).cast("string"),
        (key % 250).cast("string"),
    )
    return F.concat_ws(
        " ", F.col("c_name"), email, F.lit("tel"), phone, F.lit("ip"), ip,
        F.col("c_mktsegment"),
    )


_SQL_CONTACT = (
    "concat_ws(' ', c_name, "
    "lower(regexp_replace(c_name, '#', '.', 'g')) || '@example.com', "
    "'tel', concat_ws('-', '25', "
    "lpad(CAST(c_custkey % 997 AS VARCHAR), 3, '0'), "
    "lpad(CAST(c_custkey % 883 AS VARCHAR), 3, '0'), "
    "lpad(CAST(c_custkey % 9973 AS VARCHAR), 4, '0')), "
    "'ip', concat_ws('.', '10', '0', CAST(c_custkey % 256 AS VARCHAR), "
    "CAST(c_custkey % 250 AS VARCHAR)), c_mktsegment)"
)


def q_text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Text normalization over punctuated mixed-case text: lowercase,
    strip non-alphanumerics, collapse whitespace; raw-vs-normalized
    length audit.  Pure per-row expressions — whole-stage codegen."""
    c = load_table(spark, sf, "customer")
    raw = _contact_card()
    norm = T.normalize_text(raw)
    return c.select(
        "c_custkey",
        norm.alias("contact_norm"),
        F.length(raw).cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
    )


_SQL_NORM = (
    f"trim(regexp_replace(regexp_replace(lower({_SQL_CONTACT}), "
    "'[^a-z0-9 \\t\\n\\x0B\\f\\r]', ' ', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
)

ORACLE_TEXT_NORMALIZE = f"""
SELECT c_custkey,
       {_SQL_NORM} AS contact_norm,
       CAST(len({_SQL_CONTACT}) AS BIGINT) AS n_chars_raw,
       CAST(len({_SQL_NORM}) AS BIGINT) AS n_chars_norm
FROM customer
"""


def q_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing: email/phone/IPv4 redaction with typed
    placeholders and per-row match-count audit over the contact-card
    text (every row carries one of each pattern, so the redactions and
    counts are non-trivially verified cross-engine)."""
    c = load_table(spark, sf, "customer")
    contact = _contact_card()
    counts = T.pii_counts(contact)
    return c.select(
        "c_custkey",
        T.scrub_pii(contact).alias("contact_scrubbed"),
        counts["n_emails"].cast("bigint").alias("n_emails"),
        counts["n_phones"].cast("bigint").alias("n_phones"),
        counts["n_ips"].cast("bigint").alias("n_ips"),
    )


ORACLE_PII_SCRUB = f"""
SELECT c_custkey,
       regexp_replace(regexp_replace(regexp_replace({_SQL_CONTACT},
           '{T.PII_EMAIL}', '<EMAIL>', 'g'),
           '{T.PII_PHONE}', '<PHONE>', 'g'),
           '{T.PII_IPV4}', '<IP>', 'g') AS contact_scrubbed,
       CAST(len(regexp_extract_all({_SQL_CONTACT}, '{T.PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all({_SQL_CONTACT}, '{T.PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all({_SQL_CONTACT}, '{T.PII_IPV4}')) AS BIGINT) AS n_ips
FROM customer
"""


# ---------------------------------------------------------------- sampling / packing / mixing

#: per-language keep rates for the stratified-sampling demo (shared
#: between the Spark plan and the oracle SQL).
SAMPLE_RATES: dict[str, float] = {"en": 0.5, "de": 0.25, "zh": 0.1}
SAMPLE_DEFAULT_RATE = 0.75


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified downsampling of the corpus by language:
    md5-bucket filter with per-stratum keep rates — reproducible
    domain reweighting with no RNG state and no shuffle."""
    d = load_table(spark, sf, "documents")
    return cur_ops.stratified_sample(
        d, "doc_id", "lang", SAMPLE_RATES, SAMPLE_DEFAULT_RATE
    ).select("doc_id", "lang", "source")


def _sql_rate_case() -> str:
    whens = " ".join(
        f"WHEN '{s}' THEN {int(r * cur_ops.SAMPLE_BUCKETS)}"
        for s, r in SAMPLE_RATES.items()
    )
    return (
        f"CASE lang {whens} "
        f"ELSE {int(SAMPLE_DEFAULT_RATE * cur_ops.SAMPLE_BUCKETS)} END"
    )


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT < {_sql_rate_case()}
"""

#: tokens per packed training sequence (shared Spark/oracle constant).
PACK_BUDGET = 512


def q_token_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per language, lay documents
    end-to-end by doc_id and cut 512-token training sequences; emits
    each document's stream offset, sequence index, and whether it
    straddles a cut boundary."""
    d = load_table(spark, sf, "documents").select(
        "lang",
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
    )
    return cur_ops.pack_sequences(
        d, "lang", "doc_id", "ws_tokens", PACK_BUDGET
    )


ORACLE_TOKEN_PACKING = f"""
WITH t AS (
    SELECT lang, doc_id, CAST({_SQL_NTOK} AS BIGINT) AS ws_tokens
    FROM documents
), c AS (
    SELECT lang, doc_id, ws_tokens,
           sum(ws_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT lang, doc_id, ws_tokens,
       CAST(cum - ws_tokens AS BIGINT) AS start_offset,
       CAST(floor((cum - ws_tokens) / {PACK_BUDGET}) AS BIGINT) AS seq_index,
       CASE WHEN ws_tokens > 0
            THEN floor((cum - 1) / {PACK_BUDGET})
                 > floor((cum - ws_tokens) / {PACK_BUDGET})
            ELSE FALSE END AS spans_boundary
FROM c
"""

#: contamination-check constants (shared Spark/oracle).  The synthetic
#: corpus plants no verbatim eval copies (max observed containment
#: ~0.32), so the demo threshold sits at the tail of the chance-overlap
#: distribution to yield a non-trivial flagged set; a real decon run
#: passes 0.5-0.8 to the same operator.
CONTAM_K = 8
CONTAM_THRESHOLD = 0.25
CONTAM_EVAL_MOD = 23


def q_contamination_check(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval contamination detection: flag corpus documents whose
    char-8-gram containment of any eval-set document (every 23rd
    doc_id stands in as the benchmark set) crosses the threshold — the
    decon pass run before pretraining.  Eval shingles broadcast;
    corpus side stays partitioned.

    Fused single-scan form (r10 fusion recipe 1): both sides split
    from the SAME table, so the documents table is shingled once and
    checkpointed; eval/corpus derive from the shingle frame by the
    doc_id mod — the executed plan reads documents zero extra times
    instead of re-shingling per side."""
    d = load_table(spark, sf, "documents")
    sh = cur_ops.shingle_hashes(
        d, "text", "doc_id", CONTAM_K
    ).transform(checkpoint)
    eval_sh = sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_id"), "sh"
    )
    corpus_sh = sh.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0).select(
        F.col("doc_id").alias("corpus_id"), "sh"
    )
    return cur_ops.contamination_pairs_from_shingles(
        corpus_sh, eval_sh, CONTAM_THRESHOLD
    )


ORACLE_CONTAMINATION_CHECK = f"""
WITH sh AS (
    SELECT DISTINCT doc_id,
           ('0x' || substr(md5(substr(text, CAST(i AS INT), {CONTAM_K})), 1, 15))::BIGINT AS sh
    FROM documents,
         unnest(range(1, greatest(len(text) - {CONTAM_K - 1}, 1) + 1)) AS t(i)
),
ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} = 0),
co AS (SELECT doc_id AS corpus_id, sh FROM sh WHERE doc_id % {CONTAM_EVAL_MOD} <> 0),
sz AS (SELECT eval_id, count(*) AS n_eval FROM ev GROUP BY eval_id),
m AS (
    SELECT corpus_id, eval_id, count(*) AS n_inter
    FROM co JOIN ev USING (sh)
    GROUP BY corpus_id, eval_id
)
SELECT corpus_id, eval_id, n_inter / n_eval AS containment
FROM m JOIN sz USING (eval_id)
WHERE n_inter / n_eval >= {CONTAM_THRESHOLD}
"""


def q_repetition_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher-rule quality
    signals): fraction of word-bigram occurrences that are duplicates
    and the share of the most frequent unigram.  High values mark
    boilerplate/spam for removal before pretraining.

    Plan shape: explode tokens/bigrams, two hash aggregations keyed on
    (doc, gram) then doc — shuffles carry (doc_id, gram, count)
    triples, never documents; ratios are single divisions of exact
    BIGINTs."""
    d = load_table(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+")).alias("tok")
    ).filter(F.col("tok") != "")
    uni = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("top_n"),
            F.sum("n").alias("n_toks"),
        )
        .select(
            "doc_id",
            (F.col("top_n") / F.col("n_toks")).alias("top_unigram_frac"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+")).alias("pos", "tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id", F.concat_ws(" ", "tok", "nxt").alias("bigram")
        )
    )
    bi = (
        big.groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            F.sum(F.col("n") - 1).alias("n_dup"),
        )
        .select(
            "doc_id",
            (F.col("n_dup") / F.col("n_bigrams")).alias("dup_bigram_frac"),
        )
    )
    return uni.join(bi, "doc_id")


ORACLE_REPETITION_METRICS = """
WITH tl AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                       t -> t <> '') AS toks
    FROM documents
), uni AS (
    SELECT doc_id, max(n) / CAST(sum(n) AS BIGINT) AS top_unigram_frac
    FROM (SELECT doc_id, tok, count(*) AS n
          FROM (SELECT doc_id, unnest(toks) AS tok FROM tl)
          GROUP BY doc_id, tok)
    GROUP BY doc_id
), big AS (
    SELECT doc_id,
           toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bigram
    FROM tl, unnest(range(1, len(toks))) AS t(i)
), bi AS (
    SELECT doc_id, CAST(sum(n - 1) AS BIGINT) / CAST(sum(n) AS BIGINT) AS dup_bigram_frac
    FROM (SELECT doc_id, bigram, count(*) AS n FROM big
          GROUP BY doc_id, bigram)
    GROUP BY doc_id
)
SELECT uni.doc_id, top_unigram_frac, dup_bigram_frac
FROM uni JOIN bi USING (doc_id)
"""


#: non-overlapping token-block width for inter-document block dedup.
CHUNK_DEDUP_W = 16


def q_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Inter-document duplicated-block detection (the RefinedWeb/CCNet
    paragraph-dedup shape, applied to fixed 16-token blocks since the
    corpus carries no paragraph breaks): per document, the fraction of
    its blocks that also occur verbatim in at least one OTHER document,
    plus a drop verdict at 50%.  Complements ``repetition_metrics``
    (intra-doc) and ``dup_clusters`` (whole-doc near-dup): this is the
    partial-overlap detector for boilerplate shared across documents.

    Plan shape: explode to (doc, block-hash) — linear in corpus token
    count — distinct, one hash-agg per block hash for the global doc
    count, equi-join back on the hash, one hash-agg per doc.  Shuffles
    carry (doc_id, 32-char hash) pairs only, never text."""
    from ..tables import scale_out

    d = load_table(spark, sf, "documents")
    toks = F.when(
        F.trim(F.col("text")) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(CHUNK_DEDUP_W),
    )
    block = F.slice("toks", F.col("s") + 1, CHUNK_DEDUP_W)
    blocks = (
        scale_out(d)
        .select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(starts).alias("s"), F.col("toks"))
        .filter(F.size(block) > 0)
        .select("doc_id", F.md5(F.array_join(block, " ")).alias("h"))
        .distinct()
    )
    hash_docs = blocks.groupBy("h").agg(F.count("*").alias("n_docs"))
    return (
        blocks.join(hash_docs, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_shared",
            (F.col("n_shared") / F.col("n_blocks")).alias("shared_frac"),
            (F.col("n_shared") / F.col("n_blocks") >= 0.5).alias(
                "drop_candidate"
            ),
        )
    )


ORACLE_CHUNK_DEDUP = f"""
WITH tl AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                       t -> t <> '') AS toks
    FROM documents
), bl AS (
    SELECT DISTINCT doc_id,
           md5(array_to_string(
               toks[CAST(s AS INT) + 1 : CAST(s AS INT) + {CHUNK_DEDUP_W}],
               ' ')) AS h
    FROM tl,
         unnest(range(0, greatest(len(toks), 1), {CHUNK_DEDUP_W})) AS t(s)
    WHERE len(toks[CAST(s AS INT) + 1 : CAST(s AS INT) + {CHUNK_DEDUP_W}]) > 0
), hc AS (
    SELECT h, count(*) AS n_docs FROM bl GROUP BY h
), per_doc AS (
    SELECT doc_id, count(*) AS n_blocks,
           CAST(count(*) FILTER (WHERE n_docs >= 2) AS BIGINT) AS n_shared
    FROM bl JOIN hc USING (h)
    GROUP BY doc_id
)
SELECT doc_id, n_blocks, n_shared,
       n_shared / n_blocks AS shared_frac,
       n_shared / n_blocks >= CAST(0.5 AS DOUBLE) AS drop_candidate
FROM per_doc
"""

#: shard count for the deterministic training-order shuffle.
N_SHARDS = 8


def q_shuffle_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle + sharding for reproducible
    training-data loading: every document gets an md5-derived sort key,
    a shard assignment (key mod 8), and its position within the shard.
    Re-running the pipeline yields byte-identical shard files — the
    property data-loader reproducibility depends on — with no RNG
    state and no global ordering step.

    Plan shape: the only shuffle is the hash partition on shard_id for
    the per-shard row_number; shards are mutually independent, so the
    window never sees more than 1/N_SHARDS of the corpus — this is the
    scalable replacement for a global ORDER BY rand()."""
    d = load_table(spark, sf, "documents")
    key = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = Window.partitionBy("shard_id").orderBy("sort_key", "doc_id")
    return (
        d.select(
            "doc_id",
            key.alias("sort_key"),
            (key % N_SHARDS).alias("shard_id"),
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
    )


ORACLE_SHUFFLE_SHARD = f"""
WITH k AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS sort_key
    FROM documents
)
SELECT doc_id, sort_key, sort_key % {N_SHARDS} AS shard_id,
       row_number() OVER (PARTITION BY sort_key % {N_SHARDS}
                          ORDER BY sort_key, doc_id) AS shard_pos
FROM k
"""


def q_domain_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mix report: per (language, source) token share and the
    uniform-target sampling weight used to rebalance the mixture —
    two-level aggregation + broadcast of the tiny per-language
    totals (no OVER () single-partition window)."""
    d = load_table(spark, sf, "documents").withColumn(
        "ws_tokens", T.token_count(F.col("text")).cast("bigint")
    )
    return cur_ops.domain_mix(d, "lang", "source", F.col("ws_tokens"))


ORACLE_DOMAIN_MIX = f"""
WITH d AS (
    SELECT lang, source, CAST({_SQL_NTOK} AS BIGINT) AS ws_tokens
    FROM documents
), pd AS (
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS n_tokens
    FROM d GROUP BY lang, source
), ps AS (
    SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS stratum_tokens,
           count(*) AS n_domains
    FROM pd GROUP BY lang
)
SELECT lang, source, n_docs, n_tokens,
       n_tokens / stratum_tokens AS token_share,
       stratum_tokens / CAST(n_domains * n_tokens AS BIGINT) AS sampling_weight
FROM pd JOIN ps USING (lang)
"""


_SPLIT_BUCKETS = 100
_SPLIT_TRAIN = 90  # buckets 0-89 -> train
_SPLIT_VAL = 95    # buckets 90-94 -> val, 95-99 -> test


def q_train_val_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment: every document hashes
    (md5, 15 hex chars -> BIGINT) into one of 100 buckets; bucket
    ranges give a 90/5/5 split.  Hash-based assignment is the
    production property that matters — membership is a pure function
    of doc_id, so re-runs, backfills, and incremental additions never
    move a document across splits (no RNG state, no global sort).
    Pure row-level built-ins — embarrassingly parallel at any scale."""
    d = load_table(spark, sf, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % _SPLIT_BUCKETS
    )
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


ORACLE_TRAIN_VAL_TEST_SPLIT = f"""
WITH b AS (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_SPLIT_BUCKETS} AS bucket
    FROM documents
)
SELECT doc_id, bucket,
       CASE WHEN bucket < {_SPLIT_TRAIN} THEN 'train'
            WHEN bucket < {_SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

# sqrt-temperature mixing (alpha = 0.5): sqrt is correctly rounded in
# IEEE 754 on both engines (unlike pow/ln), so weights are bit-exact.
# The normalization denominator quantizes each weight to a 1e-6 grid
# (BIGINT) before summing — exact integer arithmetic, immune to
# float-sum ordering across partitions (the label_centroids trick).
_MIX_SCALE = 1_000_000


def q_mix_weights_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled domain-mixture weights (alpha = 0.5): the
    standard rebalancing between sampling domains proportionally
    (alpha=1, big domains dominate) and uniformly (alpha=0, tiny
    domains oversampled to death).  w_d = sqrt(share_d), normalized.

    Plan shape (round-10 fusion; the r4 form re-derived the grouped
    count for each of the corpus total, the quantized weight-sum, and
    the final projection — 4 scans and 3 single-partition exchanges
    per run): ONE map-side-combined grouped count per (lang, source)
    domain, ``localCheckpoint``-ed, then both totals come from
    unpartitioned window sums over that frame — exact integer sums, so
    still shuffle-order-proof.  The single-partition window is over
    the BOUNDED domain relation (|lang| x |source| rows), never the
    corpus, so the shape holds at any corpus size."""
    d = load_table(spark, sf, "documents")
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).transform(checkpoint)
    all_rows = Window.partitionBy()
    n_tot = F.sum("n_docs").over(all_rows).cast("bigint")
    share = F.col("n_docs").cast("double") / n_tot.cast("double")
    w = per.select(
        "lang",
        "source",
        "n_docs",
        share.alias("doc_share"),
        F.sqrt(share).alias("temp_weight"),
        F.floor(F.sqrt(share) * F.lit(float(_MIX_SCALE)))
        .cast("bigint")
        .alias("wq"),
    )
    wq_tot = F.sum("wq").over(all_rows).cast("bigint")
    return w.select(
        "lang",
        "source",
        "n_docs",
        "doc_share",
        "temp_weight",
        (F.col("wq").cast("double") / wq_tot.cast("double")).alias(
            "norm_weight"
        ),
    )


ORACLE_MIX_WEIGHTS_TEMPERATURE = f"""
WITH per AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM per),
w AS (
    SELECT lang, source, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE) AS doc_share,
           sqrt(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS temp_weight,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * CAST({_MIX_SCALE} AS DOUBLE)) AS BIGINT) AS wq
    FROM per CROSS JOIN tot
),
denom AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot FROM w)
SELECT lang, source, n_docs, doc_share, temp_weight,
       CAST(wq AS DOUBLE) / CAST(wq_tot AS DOUBLE) AS norm_weight
FROM w CROSS JOIN denom
"""


# ------------------------------------------------- cluster-balanced sampling (round 5)

_CBS_K = 16  # cells (centroids = first K corpus vectors, seeded)
_CBS_PER_CELL = 8  # sample quota per cell


def q_cluster_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-aware corpus sampling: assign every embedding to its
    nearest seeded centroid (same deterministic literal-codebook argmax
    as ``textops.q_ann_ivf_topk``, so the whole pipeline replays in
    SQL), then take a fixed per-cell quota in md5-order — a reproducible
    pseudo-random pick, the same device as ``q_stratified_sample``.
    This is the embedding-space counterpart of stratified sampling:
    quotas are balanced across CONTENT clusters rather than metadata
    strata, the standard counter to majority-topic domination when
    subsampling a web corpus.

    Scale shape: cell assignment is a map-only argmax over a K-row
    literal (zero shuffle, no n*K blowup); the only shuffle is the
    per-cell window — partitioned on K cells, each of which holds
    corpus/K rows under the seeded quantizer.  At production scale the
    seeded codebook swaps for a trained one (``sim.kmeans_fit``)
    without changing the plan; seeding keeps the oracle exact here.
    """
    from ..functions import similarity as sim

    e = load_table(spark, sf, "embeddings")
    v = e.select(
        "vec_id", "label", sim.as_double(F.col("embedding")).alias("v")
    )
    cent_rows = sorted(
        v.filter(F.col("vec_id") < _CBS_K).collect(), key=lambda r: r.vec_id
    )
    # one py4j round-trip for the codebook literal (r15; see
    # sim.lit_cent_structs)
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
    assigned = v.select(
        "vec_id", "label", F.array_min(scored_arr)["cid"].alias("cell")
    )
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn("pick", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick") <= _CBS_PER_CELL)
        .select("cell", "pick", "vec_id", "label")
    )


ORACLE_CLUSTER_BALANCED_SAMPLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_CBS_K}),
scored AS (
    SELECT e.vec_id, e.label, c.cent_id, list_dot_product(e.v, c.cv) AS ip
    FROM e, cents c
),
assigned AS (
    SELECT vec_id, label, cent_id AS cell
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY ip DESC, cent_id) AS rn
          FROM scored)
    WHERE rn = 1
)
SELECT cell,
       CAST(row_number() OVER (PARTITION BY cell
                               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
            AS BIGINT) AS pick,
       vec_id, label
FROM assigned
QUALIFY pick <= {_CBS_PER_CELL}
"""


# ------------------------------------------------- weighted sampling (round 5)

#: target sample size the computed mixture weights are scaled to.
_WS_TARGET = 250


def q_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Importance sampling under COMPUTED mixture weights — the
    apply-step completing ``q_mix_weights_temperature``: per-domain
    keep rates are derived from temperature-scaled (alpha = 0.5) domain
    weights and a target sample size, then applied as a deterministic
    md5-bucket filter.  ``stratified_sample`` with literal rates is the
    hand-tuned form; this is the computed form a production mixer runs.

    All thresholds stay in exact integer arithmetic (the triple product
    exceeds 2^53, so the division is BIGINT ``DIV``, never a double).

    Plan shape: two bounded-domain aggregations, then ONE corpus scan
    with a broadcast join of the per-domain thresholds and a map-side
    filter — nothing single-partition, no second scan, no RNG.  The
    |lang x source|-row domain frames (``per``, ``w``) are
    ``localCheckpoint``-ed: each feeds two consumers (its own total
    plus the next derivation), and without materialization every
    consumer re-scanned the corpus (r8 plan audit: 5 scans/0 reuse).
    """
    d = load_table(spark, sf, "documents")
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).transform(checkpoint)
    tot = F.broadcast(per.agg(F.sum("n_docs").cast("bigint").alias("n_tot")))
    share = F.col("n_docs").cast("double") / F.col("n_tot").cast("double")
    w = per.crossJoin(tot).select(
        "lang",
        "source",
        "n_docs",
        F.floor(F.sqrt(share) * F.lit(float(_MIX_SCALE)))
        .cast("bigint")
        .alias("wq"),
    ).transform(checkpoint)
    denom = F.broadcast(w.agg(F.sum("wq").cast("bigint").alias("wq_tot")))
    rates = w.crossJoin(denom).select(
        "lang",
        "source",
        F.least(
            F.lit(cur_ops.SAMPLE_BUCKETS).cast("bigint"),
            F.expr(
                f"(CAST({_WS_TARGET} AS BIGINT) * wq "
                f"* {cur_ops.SAMPLE_BUCKETS}) DIV (wq_tot * n_docs)"
            ),
        ).alias("keep_buckets"),
    )
    return cur_ops.rate_sample(
        d, "doc_id", rates, ["lang", "source"], "keep_buckets"
    ).select("doc_id", "lang", "source", "keep_buckets")


ORACLE_WEIGHTED_SAMPLE = f"""
WITH per AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang, source
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot FROM per),
w AS (
    SELECT lang, source, n_docs,
           CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE))
                      * CAST({_MIX_SCALE} AS DOUBLE)) AS BIGINT) AS wq
    FROM per CROSS JOIN tot
),
denom AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot FROM w),
rates AS (
    SELECT lang, source,
           least(CAST({{bkts}} AS BIGINT),
                 (CAST({_WS_TARGET} AS BIGINT) * wq * {{bkts}})
                   // (wq_tot * n_docs)) AS keep_buckets
    FROM w CROSS JOIN denom
)
SELECT d.doc_id, d.lang, d.source, r.keep_buckets
FROM documents d JOIN rates r ON d.lang = r.lang AND d.source = r.source
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT
      < r.keep_buckets
""".replace("{bkts}", str(65536))
