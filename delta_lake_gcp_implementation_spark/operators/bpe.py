"""Byte-pair-encoding tokenizer training on a Spark corpus.

Beyond-the-reference family: the classic Sennrich-style BPE merge loop
(the algorithm behind GPT/Llama-family tokenizers), expressed
Spark-first for the 100 TB pretraining corpus it would actually train
on.

Design for Spark's execution model:

- The corpus is scanned ONCE to build the word-frequency table
  (``word_freqs``) — from then on every merge iteration runs over the
  *vocabulary* (distinct words), which is bounded (millions of rows at
  web scale) regardless of corpus size.  This is the standard trick
  that makes BPE training tractable: iterate on word types weighted by
  frequency, never on the token stream.
- Each iteration is two distributed steps: an adjacent-pair count
  (explode + map-side-combined sum) and a fold that applies the merge
  per word (``F.aggregate`` higher-order function — JVM-side, no
  Python in the loop).  Only the single winning pair (one row) is
  collected per iteration.
- The vocab frame is ``localCheckpoint``-ed every iteration so the
  plan does not grow linearly with merge count (the same device as
  the connected-components loop in ``operators.dedup``).

Greedy left-to-right merge semantics (what reference BPE does): within
a run of overlapping candidate positions — only possible when
left == right, e.g. pair (a,a) in "aaaa" — every other occurrence
starting from the first is merged.  The fold reproduces this by
construction: a just-merged symbol can't participate as the LEFT of
the next match.

Determinism: ties on pair count break lexicographically on
(left, right), so the merge sequence is a pure function of the corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpoints import checkpoint

#: end-of-word sentinel symbol (kept multi-char so it can never collide
#: with a real character or a merged pair of them).
EOW = "</w>"


@dataclass(frozen=True)
class Merge:
    rank: int
    left: str
    right: str
    count: int

    @property
    def merged(self) -> str:
        return self.left + self.right


def word_freqs(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-sized scan."""
    from ..functions import text as T

    return (
        df.select(F.explode(T.tokens(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )


def init_symbols(vocab: DataFrame) -> DataFrame:
    """Seed state: each word split into character symbols + EOW."""
    return vocab.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
    )


def pair_counts(state: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over the current symbol
    arrays.  explode + sum: map-side combinable, one shuffle of pair
    keys."""
    n = F.size("syms")
    idx = F.explode(
        F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
    ).alias("i")
    pairs = state.select("freq", F.col("syms"), idx).select(
        F.element_at("syms", F.col("i")).alias("left"),
        F.element_at("syms", F.col("i") + 1).alias("right"),
        "freq",
    )
    return pairs.groupBy("left", "right").agg(
        F.sum("freq").cast("bigint").alias("cnt")
    )


def apply_merge(state: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right merge of (left, right) in every word's
    symbol array via a single JVM-side fold."""
    merged = left + right
    la, lb, lm = F.lit(left), F.lit(right), F.lit(merged)

    def step(acc, x):
        hit = (F.element_at(acc, -1) == la) & (x == lb)
        return F.when(
            hit,
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(lm)
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    folded = F.aggregate(
        F.slice(F.col("syms"), 2, F.greatest(F.size("syms") - 1, F.lit(0))),
        F.slice(F.col("syms"), 1, 1),
        step,
    )
    return state.select("word", "freq", folded.alias("syms"))


def bpe_train(
    vocab: DataFrame, n_merges: int
) -> tuple[list[Merge], DataFrame]:
    """Run ``n_merges`` BPE iterations over a (word, freq) vocabulary.
    Returns the learned merge list and the final symbolized vocab.

    Per iteration: one distributed pair-count (top row collected), one
    distributed fold, one localCheckpoint — nothing else leaves the
    cluster."""
    state = init_symbols(vocab).transform(checkpoint)
    merges: list[Merge] = []
    for r in range(1, n_merges + 1):
        top = (
            pair_counts(state)
            .orderBy(F.col("cnt").desc(), F.col("left"), F.col("right"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merges.append(Merge(r, t.left, t.right, int(t.cnt)))
        state = apply_merge(state, t.left, t.right).transform(checkpoint)
    return merges, state


def encode(state_or_merges: list[Merge], df: DataFrame, text_col: str) -> DataFrame:
    """Tokenize text with a learned merge list: per word, replay the
    merges in rank order (the standard BPE encoder).  Pure column
    expressions — the fold per merge is the same JVM-side aggregate as
    training, applied to the token stream."""
    out = df.select(
        "*",
        F.concat(
            F.split(F.col(text_col), ""), F.array(F.lit(EOW))
        ).alias("__syms"),
    )
    def make_step(left: str, right: str, merged: str):
        la, lb, lm = F.lit(left), F.lit(right), F.lit(merged)

        # closure factory, NOT default args: PySpark HOFs inspect the
        # lambda's arity and a 2-arg signature binds (element, index)
        def step(acc, x):
            hit = (F.element_at(acc, -1) == la) & (x == lb)
            return F.when(
                hit,
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm)),
            ).otherwise(F.concat(acc, F.array(x)))

        return step

    for m in state_or_merges:
        step = make_step(m.left, m.right, m.merged)
        out = out.withColumn(
            "__syms",
            F.aggregate(
                F.slice(
                    F.col("__syms"), 2, F.greatest(F.size("__syms") - 1, F.lit(0))
                ),
                F.slice(F.col("__syms"), 1, 1),
                step,
            ),
        )
    return out.withColumnRenamed("__syms", "tokens")
