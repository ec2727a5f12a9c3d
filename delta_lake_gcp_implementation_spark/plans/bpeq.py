"""BPE tokenizer-training catalog query: the learned merge table,
oracle-replayed round by round in DuckDB.

The Spark side (``operators.bpe``) is the production path: per-round
distributed pair counts + a JVM-side fold, only the winning pair
collected.  The oracle replays every round in pure SQL — the greedy
left-to-right merge is expressed positionally (candidate positions ->
gaps-and-islands -> every-other-within-island), which is closed-form
equivalent to the sequential fold: overlapping candidates only occur
for left == right runs, where greedy merging takes exactly the odd
occurrences of each maximal run.

This makes the full ITERATIVE trainer oracle-checkable — the same
treatment ``dup_clusters`` gives iterative connected components.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as sqltypes

from ..checkpoints import checkpoint, session_owned
from ..operators import bpe as bpe_ops
from ..tables import load_table

#: merge rounds learned by the catalog query (shared with the oracle).
N_MERGES = 6

# ------------------------------------------------------------------
# Shared trained tokenizer (r13 verdict item 4): all four BPE catalog
# keys (merges / encode / packing / fertility) train the SAME
# N_MERGES-merge tokenizer on the SAME immutable corpus, so within a
# session the training loop and the per-doc encode join run ONCE and
# every key pays only its own marginal aggregation — the production
# shape (a tokenizer is trained once and applied many times), and the
# same device as semantic_dedup's per-sf corpus-count memo.  Keyed by
# (Spark applicationId, sf dir): localCheckpoints die with the
# context, so a fresh session rebuilds; the sf parquet tables are
# immutable driver fixtures, so a dir-level key is sound.  Memo builds
# run under ``session_owned``: their checkpoints belong to the session,
# so the batch scope a memo happens to be first built in (an ingest
# batch, a medallion stage) cannot free them (``checkpoints``).
_TRAIN_MEMO: dict[tuple[str, str], tuple[list, DataFrame]] = {}
_ENCODE_MEMO: dict[tuple[str, str], DataFrame] = {}


def _memo_key(spark: SparkSession, sf: str) -> tuple[str, str]:
    return (spark.sparkContext.applicationId, os.path.abspath(sf))


def trained_bpe(spark: SparkSession, sf: str) -> tuple[list, DataFrame]:
    """Train (once per session per sf dir) the N_MERGES-merge BPE
    tokenizer on the documents corpus; returns (merge list, final
    symbolized vocab).  The vocab frame arrives localCheckpoint-ed
    from ``bpe_train``, so cached reuse re-reads executor blocks, not
    the corpus."""
    key = _memo_key(spark, sf)
    hit = _TRAIN_MEMO.get(key)
    if hit is None:
        with session_owned():
            d = load_table(spark, sf, "documents")
            vocab = bpe_ops.word_freqs(d, "text")
            hit = bpe_ops.bpe_train(vocab, N_MERGES)
        _TRAIN_MEMO[key] = hit
    return hit


def encode_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc exact BPE token counts — (doc_id, n_words,
    n_bpe_tokens) — under the shared trained tokenizer, built once per
    session per sf dir and localCheckpoint-ed.

    Spark-first shape: the merge list is learned on the bounded vocab,
    then ENCODING is a broadcast join of the final word -> n_subwords
    table onto the exploded corpus — the token stream is never folded
    per-merge (words repeat; the vocab table already carries each
    word's final segmentation)."""
    from pyspark.sql import functions as F

    key = _memo_key(spark, sf)
    hit = _ENCODE_MEMO.get(key)
    if hit is None:
        _, state = trained_bpe(spark, sf)

        seg = state.select(
            "word", F.size("syms").cast("bigint").alias("n_subwords")
        )
        d = load_table(spark, sf, "documents")
        words = d.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.col("text")), "[ \\t\\n\\x0B\\f\\r]+")
            ).alias("word"),
        ).filter(F.col("word") != "")
        with session_owned():
            hit = (
                words.join(F.broadcast(seg), "word")
                .groupBy("doc_id")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_words"),
                    F.sum("n_subwords").cast("bigint").alias("n_bpe_tokens"),
                )
                .transform(checkpoint)
            )
        _ENCODE_MEMO[key] = hit
    return hit

# DuckDB mirror of functions.text.tokens (explicit class, no \s —
# Java \s includes \x0B, RE2's does not).
_SQL_WORDS = (
    "SELECT unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+'))"
    " AS word FROM documents"
)

_MERGES_SCHEMA = sqltypes.StructType(
    [
        sqltypes.StructField("merge_rank", sqltypes.LongType()),
        sqltypes.StructField("left_sym", sqltypes.StringType()),
        sqltypes.StructField("right_sym", sqltypes.StringType()),
        sqltypes.StructField("merged_sym", sqltypes.StringType()),
        sqltypes.StructField("pair_count", sqltypes.LongType()),
    ]
)


def q_bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Train ``N_MERGES`` BPE merges on the documents corpus and return
    the merge table — rank, pair, merged symbol, and the
    frequency-weighted pair count that won the round."""
    merges, _ = trained_bpe(spark, sf)
    return spark.createDataFrame(
        [(m.rank, m.left, m.right, m.merged, m.count) for m in merges],
        _MERGES_SCHEMA,
    )


def _round_ctes(r: int) -> str:
    """One merge round: weighted pair counts, the winner, candidate
    positions, islands, merged marks, next state."""
    return f"""
pair{r} AS MATERIALIZED (
    SELECT s.syms[i] AS a, s.syms[i + 1] AS b,
           CAST(sum(s.freq) AS BIGINT) AS cnt
    FROM state{r} s, unnest(range(1, len(s.syms))) AS t(i)
    GROUP BY 1, 2
),
top{r} AS MATERIALIZED (SELECT a, b, cnt FROM pair{r} ORDER BY cnt DESC, a, b LIMIT 1),
pos{r} AS MATERIALIZED (
    -- LEFT JOIN ON true, not CROSS JOIN: when a round finds no pairs
    -- (fully merged words / degenerate corpora) top{r} is EMPTY and a
    -- cross join would collapse the state instead of carrying it
    SELECT s.word, s.freq, i, s.syms[i] AS sym,
           coalesce(s.syms[i] = t.a AND s.syms[i + 1] = t.b, false) AS cand
    FROM state{r} s LEFT JOIN top{r} t ON true,
         unnest(range(1, len(s.syms) + 1)) AS u(i)
),
isl{r} AS MATERIALIZED (
    SELECT word, i,
           i - row_number() OVER (PARTITION BY word ORDER BY i) AS g
    FROM pos{r} WHERE cand
),
mrk{r} AS MATERIALIZED (
    SELECT word, i FROM (
        SELECT word, i,
               row_number() OVER (PARTITION BY word, g ORDER BY i) AS rn
        FROM isl{r})
    WHERE rn % 2 = 1
),
state{r + 1} AS MATERIALIZED (
    SELECT p.word, p.freq,
           list(CASE WHEN m.i IS NOT NULL THEN t.a || t.b ELSE p.sym END
                ORDER BY p.i) AS syms
    FROM pos{r} p
    LEFT JOIN top{r} t ON true
    LEFT JOIN mrk{r} m ON p.word = m.word AND p.i = m.i
    LEFT JOIN mrk{r} sk ON p.word = sk.word AND p.i = sk.i + 1
    WHERE sk.i IS NULL
    GROUP BY p.word, p.freq
)"""


def _oracle_bpe_merges() -> str:
    rounds = ",\n".join(_round_ctes(r) for r in range(N_MERGES))
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS merge_rank, a AS left_sym, "
        f"b AS right_sym, a || b AS merged_sym, cnt AS pair_count FROM top{r}"
        for r in range(N_MERGES)
    )
    return f"""
WITH state0 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_append(string_split(word, ''), '{bpe_ops.EOW}') AS syms
    FROM ({_SQL_WORDS})
    WHERE word <> ''
    GROUP BY word
),
{rounds}
{finals}
"""


ORACLE_BPE_MERGES = _oracle_bpe_merges()


def q_bpe_encode_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the trained tokenizer to the corpus: per document, the
    BPE token count after ``N_MERGES`` merges vs the raw word count —
    the compression-ratio signal a tokenizer sweep optimizes.  The
    heavy lifting (train + encode join) lives in the session-shared
    ``encode_frame``; see its docstring for the Spark-first shape."""
    return encode_frame(spark, sf)


def _oracle_bpe_encode() -> str:
    rounds = ",\n".join(_round_ctes(r) for r in range(N_MERGES))
    return f"""
WITH state0 AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           list_append(string_split(word, ''), '{bpe_ops.EOW}') AS syms
    FROM ({_SQL_WORDS})
    WHERE word <> ''
    GROUP BY word
),
{rounds},
seg AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_subwords FROM state{N_MERGES}),
words AS (
    SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS word
        FROM documents)
    WHERE word <> ''
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(s.n_subwords) AS BIGINT) AS n_bpe_tokens
FROM words w JOIN seg s USING (word)
GROUP BY w.doc_id
"""


ORACLE_BPE_ENCODE_TOKENS = _oracle_bpe_encode()


#: context length for the packing-statistics report (matches the
#: packing query's PACK_BUDGET) and the fixed token-count bin width.
#: Both powers of two, so every float division below is binary-exact.
PACKING_CTX = 512
PACKING_BIN = 128


def q_packing_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer-aware packing statistics (r11 verdict item 7): the
    report every pretraining data team produces before fixing a
    context length — the BPE-token sequence-length histogram plus the
    padding waste of the pad-to-context (unpacked) regime.

    Composes the session-shared trained tokenizer (``encode_frame``:
    per-doc exact BPE token counts after ``N_MERGES`` merges) with the packing
    arithmetic: a doc of n tokens fills ``ceil(n / CTX)`` padded
    training sequences, wasting ``ceil(n / CTX) * CTX - n`` pad
    tokens.  Per 128-token length bin: doc count, token mass, padded
    sequence count, pad tokens, and the pad fraction (a double
    division of exact BIGINTs — bit-identical across engines; the
    bin width and context are powers of two, so the float divisions
    are exact too).  The divisor ``n_seqs * CTX`` is zero only for a
    bin of zero-token docs, which cannot occur (zero-token docs emit
    no encode row); both engines still guard the division with
    ``nullif`` so the impossible bin would surface as NULL rather
    than as a cross-engine NULL-vs-NaN hash mismatch (ADVICE r12).

    Contrast with ``token_packing`` (concat-and-chunk): that query
    emits the packed layout, where waste is only the per-partition
    stream tail; this one quantifies what packing SAVES.
    """
    from pyspark.sql import functions as F

    enc = encode_frame(spark, sf)
    n = F.col("n_bpe_tokens")
    per = enc.select(
        F.floor(n / F.lit(float(PACKING_BIN))).cast("bigint").alias(
            "len_bin"
        ),
        n.alias("n"),
        F.floor(
            (n + F.lit(PACKING_CTX - 1)) / F.lit(float(PACKING_CTX))
        )
        .cast("bigint")
        .alias("nseq"),
    )
    return (
        per.groupBy("len_bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("n_tokens"),
            F.sum("nseq").cast("bigint").alias("n_seqs"),
            (F.sum("nseq") * PACKING_CTX - F.sum("n"))
            .cast("bigint")
            .alias("n_pad"),
        )
        .withColumn(
            "pad_frac",
            F.col("n_pad").cast("double")
            / F.nullif(
                (F.col("n_seqs") * PACKING_CTX).cast("double"), F.lit(0.0)
            ),
        )
    )


def q_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language tokenizer fertility (r12 verdict item 4): BPE
    tokens per word, THE per-language tokenizer-quality number a
    multilingual tokenizer sweep reports — a fertility far above the
    corpus mean marks a language the merge table under-serves.

    Composes the session-shared trained tokenizer (``encode_frame``:
    per-doc exact BIGINT word/token counts) with ``documents.lang`` via a
    doc_id equi-join (both sides corpus-cardinality, co-partitioned
    hash join — linear at 100 TB), then one hash agg per language.
    ``fertility`` is a single double division of exact BIGINT sums —
    bit-identical across engines.  Zero-word docs emit no encode row,
    so ``n_words`` per language is always >= 1 (no zero division).
    """
    from pyspark.sql import functions as F

    enc = encode_frame(spark, sf)
    d = load_table(spark, sf, "documents").select("doc_id", "lang")
    return (
        enc.join(d, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.col("n_bpe_tokens").cast("double")
            / F.col("n_words").cast("double"),
        )
    )


ORACLE_TOKENIZER_FERTILITY = f"""
WITH enc AS MATERIALIZED (
    SELECT * FROM ({ORACLE_BPE_ENCODE_TOKENS})
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.n_words) AS BIGINT) AS n_words,
       CAST(sum(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(sum(e.n_bpe_tokens) AS DOUBLE)
           / CAST(sum(e.n_words) AS DOUBLE) AS fertility
FROM enc e JOIN documents d USING (doc_id)
GROUP BY d.lang
"""


ORACLE_PACKING_STATS = f"""
WITH enc AS MATERIALIZED (
    SELECT * FROM ({ORACLE_BPE_ENCODE_TOKENS})
),
per AS (
    SELECT CAST(floor(n_bpe_tokens / {float(PACKING_BIN)}) AS BIGINT)
               AS len_bin,
           n_bpe_tokens AS n,
           CAST(floor((n_bpe_tokens + {PACKING_CTX - 1})
                      / {float(PACKING_CTX)}) AS BIGINT) AS nseq
    FROM enc
)
SELECT len_bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(nseq) AS BIGINT) AS n_seqs,
       CAST(sum(nseq) * {PACKING_CTX} - sum(n) AS BIGINT) AS n_pad,
       CAST(sum(nseq) * {PACKING_CTX} - sum(n) AS DOUBLE)
           / nullif(CAST(sum(nseq) * {PACKING_CTX} AS DOUBLE), 0.0)
               AS pad_frac
FROM per
GROUP BY len_bin
"""
