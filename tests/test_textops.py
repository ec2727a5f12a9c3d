"""Unit tests for text-analysis / similarity functions and their
catalog queries (documents/embeddings tables at sf0.001)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from delta_lake_gcp_implementation_spark.functions import similarity as sim
from delta_lake_gcp_implementation_spark.functions import text as T
from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops
from delta_lake_gcp_implementation_spark.plans import textops as X


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(1, "hello world  foo"), (2, ""), (3, "   "), (4, "one")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.n, r.b)
        for r in df.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n"),
            T.bpe_ish_token_count(F.col("text")).alias("b"),
        ).collect()
    }
    assert out[1] == (3, 3)
    assert out[2][0] == 0
    assert out[3][0] == 0
    assert out[4] == (1, 1)


def test_bpe_ish_splits_punct_and_digits(spark):
    df = spark.createDataFrame([(1, "ab12, cd!")], ["doc_id", "text"])
    n = df.select(T.bpe_ish_token_count(F.col("text")).alias("n")).collect()[0].n
    # ab | 12 | , | cd | !
    assert n == 5


def test_stopword_ratio_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "xyzzy qwerty")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in df.select("doc_id", *T.quality_metrics(F.col("text"))).collect()}
    assert abs(rows[1].stopword_ratio - 3 / 5) < 1e-12
    assert rows[2].stopword_ratio == 0.0
    assert rows[1].n_tokens == 5


def test_lang_id_ladder_prefers_earlier_on_tie(spark):
    # no profile words at all -> every score 0 -> ladder picks 'en'
    df = spark.createDataFrame([(1, "xyzzy plugh")], ["doc_id", "text"])
    assert df.select(T.lang_id(F.col("text")).alias("l")).collect()[0].l == "en"
    # german profile words dominate -> 'de'
    df2 = spark.createDataFrame([(1, "der und das ist ein")], ["doc_id", "text"])
    assert df2.select(T.lang_id(F.col("text")).alias("l")).collect()[0].l == "de"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    fps = {
        r.doc_id: (r.fp, r.fp60)
        for r in df.select(
            "doc_id",
            T.fingerprint_md5(F.col("text")).alias("fp"),
            T.fingerprint_int60(F.col("text")).alias("fp60"),
        ).collect()
    }
    assert fps[1] == fps[2]  # case + whitespace normalized
    assert fps[1] != fps[3]
    assert 0 <= fps[1][1] < 2**60


def test_rolling_min_fingerprint_shift_resistant(spark):
    base = "abcdefghijklmnopqrstuvwxyz0123456789" * 3
    shifted = "ZZZ " + base  # local edit at the front
    df = spark.createDataFrame([(1, base), (2, shifted)], ["doc_id", "text"])
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", T.rolling_min_fingerprint(F.col("text"), k=8).alias("fp")
        ).collect()
    }
    # the min-gram usually survives a front edit (weak but deterministic check:
    # identical tail k-grams -> fp can only move down via new grams)
    assert fps[2] <= fps[1]


def test_simhash_bits_range_and_similarity(spark):
    base = "spark shuffle partition broadcast join agg " * 10
    near = base.replace("agg", "aggregate")
    far = "pasta recipe tomato basil garlic onion " * 10
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    sig = {r.doc_id: r.simhash for r in
           dedup_ops.simhash_bits(df, "text", "doc_id", bits=32).collect()}
    assert all(0 <= s < 2**32 for s in sig.values())
    ham12 = bin(sig[1] ^ sig[2]).count("1")
    ham13 = bin(sig[1] ^ sig[3]).count("1")
    assert ham12 < ham13


def test_simhash_inline_hash_matches_vocab_join_reference(spark):
    # r15: the single-shuffle inline-hash path must be bit-identical to
    # the original vocab-join formulation (sum of +-1 per occurrence ==
    # frequency-weighted sum of +-n per distinct token), including on
    # repeated tokens, mixed whitespace and single-token docs
    import re

    import hashlib

    rows = [
        (1, "alpha beta beta gamma gamma gamma"),
        (2, "alpha  beta\tgamma\nalpha"),
        (3, "delta epsilon zeta delta"),
        (4, "alpha"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in
           dedup_ops.simhash_bits(df, "text", "doc_id", bits=32).collect()}

    def ref_sig(text):
        toks = [t for t in re.split(r"[ \t\n\x0B\f\r]+", text.strip()) if t]
        # vocab-join reference: hash per DISTINCT token, weight by count
        sums = [0] * 32
        for tok in set(toks):
            n = toks.count(tok)
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
            for b in range(32):
                sums[b] += n if (h >> b) & 1 else -n
        return sum(2 ** b for b in range(32) if sums[b] > 0)

    assert got == {i: ref_sig(t) for i, t in rows}


def test_simhash_hamming_pairs_bucket_recall(spark):
    # identical docs -> hamming 0 -> must be found by banding
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        ["doc_id", "text"],
    )
    sig = dedup_ops.simhash_bits(df, "text", "doc_id", bits=32)
    pairs = dedup_ops.simhash_hamming_pairs(sig, "doc_id", bits=32, n_bands=4,
                                            max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}
    assert (1, 2, 0) in got
    assert all(p[:2] != (1, 3) for p in got)


def test_cosine_matches_numpy(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = e.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    v = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    out = (
        e.filter(F.col("vec_id") < 3)
        .select(
            "vec_id",
            sim.cosine(
                sim.as_double(F.col("embedding")),
                F.array(*[F.lit(float(x)) for x in v[0]]),
            ).alias("cos"),
        )
        .orderBy("vec_id")
        .collect()
    )
    for r in out:
        expect = float(
            np.dot(v[r.vec_id], v[0])
            / (math.sqrt(np.dot(v[r.vec_id], v[r.vec_id])) * math.sqrt(np.dot(v[0], v[0])))
        )
        assert abs(r.cos - expect) < 1e-9


def test_brute_force_topk_shape(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.brute_force_topk(e, e.filter(F.col("vec_id") < 2), "vec_id",
                               "embedding", k=4).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1}
    for q, rs in by_q.items():
        assert len(rs) == 4
        assert sorted(r.rank for r in rs) == [1, 2, 3, 4]
        cosines = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_lsh_topk_is_subset_of_bucket(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = sim.lsh_topk(e, e.filter(F.col("vec_id") < 4), "vec_id", "embedding",
                       k=3, n_planes=8, dim=64)
    rows = out.collect()
    # every result's neighbor shares the query's bucket by construction;
    # ranks are dense per query
    for q in {r.query_id for r in rows}:
        ranks = sorted(r.rank for r in rows if r.query_id == q)
        assert ranks == list(range(1, len(ranks) + 1))


def test_exact_dedup_on_documents(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = X.q_dedup_exact(spark, sf_dir)
    # documents are all distinct -> one representative each
    assert out.count() == d.count()


def test_connected_components_chain_and_singleton(spark):
    """Min-label propagation must traverse a worst-case chain (labels
    move one hop per iteration) and leave singletons self-labeled."""
    ids = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    # chain 0-1-2-3-4, pair 5-6, singleton 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (5, 6)], ["id_a", "id_b"]
    )
    cc = dedup_ops.connected_components(pairs, ids, "doc_id")
    got = {r.id: r.component for r in cc.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 5, 7: 7}


def test_connected_components_pointer_jump_accelerates_long_chain(spark):
    """The pointer-jumping shortcut (r15) must converge a 120-node
    chain in O(log n) rounds: propagation-only label CC needs ~120
    iterations here, so passing with max_iterations=16 pins the
    acceleration while the expected labels pin the fixed point."""
    n = 120
    ids = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    cc = dedup_ops.connected_components(pairs, ids, "doc_id", max_iterations=16)
    got = {r.id: r.component for r in cc.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_shallow_graph_converges_before_jump_gate(spark):
    """r16: the pointer jump is gated to rounds >= _JUMP_FROM so shallow
    LSH dedup graphs never pay the hop join.  A star converges in 2
    plain rounds (propagate-all, then detect-no-change), i.e. entirely
    BEFORE the gate opens — this pins that the pre-gate plain rounds
    still reach and detect the fixed point on their own."""
    assert dedup_ops._JUMP_FROM >= 2
    ids = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], ["id_a", "id_b"]
    )
    cc = dedup_ops.connected_components(
        pairs, ids, "doc_id", max_iterations=dedup_ops._JUMP_FROM
    )
    got = {r.id: r.component for r in cc.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4}


def test_cc_groups_matches_pair_cc(spark):
    """Hypergraph label propagation over (id, bucket) incidence must
    produce the exact components of pair-CC over the clique expansion —
    chain of overlapping buckets, a hot clique bucket, singletons."""
    ids = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    # buckets: {0,1} {1,2} {2,3} chain; {5,6,7} clique; {8} singleton
    inc = spark.createDataFrame(
        [(0, "a"), (1, "a"), (1, "b"), (2, "b"), (2, "c"), (3, "c"),
         (5, "d"), (6, "d"), (7, "d"), (8, "e")],
        ["doc_id", "bucket"],
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6), (5, 7), (6, 7)], ["id_a", "id_b"]
    )
    via_groups = {
        r.id: r.component
        for r in dedup_ops.connected_components_groups(
            inc, ids, "doc_id", "bucket"
        ).collect()
    }
    via_pairs = {
        r.id: r.component
        for r in dedup_ops.connected_components(pairs, ids, "doc_id").collect()
    }
    assert via_groups == via_pairs
    assert via_groups[0] == 0 and via_groups[3] == 0 and via_groups[9] == 9


def test_dup_clusters_incidence_matches_pair_expansion(spark, sf_dir):
    """q_dup_clusters' incidence-based CC must equal CC over the full
    minhash_candidate_pairs expansion on real document data."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {r.doc_id: r.cluster_id for r in X.q_dup_clusters(spark, sf_dir).collect()}
    sh = dedup_ops.char_shingles(d, "text", "doc_id", k=X._MH_K)
    sig = dedup_ops.minhash_signatures(
        sh, "doc_id", n_hashes=X._MH_N
    ).localCheckpoint()
    pairs = dedup_ops.minhash_candidate_pairs(
        sig, "doc_id", n_hashes=X._MH_N, band_size=X._MH_BAND
    )
    ref = {
        r.id: r.component
        for r in dedup_ops.connected_components(
            pairs, d.select("doc_id"), "doc_id"
        ).collect()
    }
    assert out == ref


def test_ngram_jaccard_partitioned_path_identical(spark, sf_dir):
    """The broadcast and hash-partitioned (100 TB) join strategies must
    return the same pairs — same LSH candidates in, same exact
    intersections out."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup_ops.char_shingles(d, "text", "doc_id", k=5)
    sig = dedup_ops.minhash_signatures(sh, "doc_id", n_hashes=8).localCheckpoint()
    cands = dedup_ops.minhash_candidate_pairs(sig, "doc_id", n_hashes=8, band_size=2)

    def rows(broadcast_sets):
        filtered = dedup_ops.minhash_agreement_filter(
            cands, sig, "doc_id", n_hashes=8, min_agree=4,
            broadcast_sets=broadcast_sets,
        )
        out = dedup_ops.ngram_jaccard_pairs(
            d, "text", "doc_id", k=5, threshold=0.5, candidates=filtered,
            broadcast_sets=broadcast_sets,
        )
        return {
            (r.id_a, r.id_b, round(r.jaccard, 12)) for r in out.collect()
        }

    assert rows(True) == rows(False)


def test_pair_lookup_partitioned_plan_has_no_broadcast(spark, sf_dir):
    """The partitioned path must not smuggle a broadcast back in via
    AQE/auto-broadcast: its physical plan should contain shuffle-hash
    joins over the payload tables, no BroadcastExchange."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup_ops.char_shingles(d, "text", "doc_id", k=5)
    sig = dedup_ops.minhash_signatures(sh, "doc_id", n_hashes=8).localCheckpoint()
    cands = dedup_ops.minhash_candidate_pairs(sig, "doc_id", n_hashes=8, band_size=2)
    out = dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", k=5, threshold=0.5, candidates=cands,
        broadcast_sets=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both payload-attachment joins honor the SHUFFLE_HASH hint
    assert plan.count("ShuffledHashJoin") >= 2


def test_multimodal_metadata_bytes(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "zz")], ["doc_id", "text"])
    out = {
        r.doc_id: (r.n_bytes, r.sniffed_format)
        for r in df.select(
            "doc_id",
            F.length(F.encode(F.col("text"), "UTF-8")).cast("bigint").alias("n_bytes"),
            F.when(F.substring("text", 1, 1).between("a", "m"), "formatA")
            .otherwise("formatB")
            .alias("sniffed_format"),
        ).collect()
    }
    assert out[1] == (3, "formatA")
    assert out[2] == (2, "formatB")


def test_kmeans_matches_numpy_lloyds(spark, sf_dir):
    """Spark kmeans_fit must reproduce a reference numpy Lloyd's run:
    same init (first k by id), same iteration count, same tie-breaks."""
    import numpy as np

    from delta_lake_gcp_implementation_spark.functions import similarity as sim
    from delta_lake_gcp_implementation_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    X = np.array([[float(x) for x in r.embedding] for r in rows])
    k, iters = 4, 3
    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin ties -> lowest index, same as Spark
        for j in range(k):
            if (assign == j).any():
                C[j] = X[assign == j].mean(axis=0)
    cents = sim.kmeans_fit(e, "vec_id", "embedding", k=k, iters=iters)
    got = {r.cent_id: np.array(r.cv) for r in cents.collect()}
    assert set(got) == set(range(k))
    for j in range(k):
        np.testing.assert_allclose(got[j], C[j], rtol=1e-9, atol=1e-12)


def test_kmeans_reduces_wcss_and_trained_ivf_runs(spark, sf_dir):
    import numpy as np

    from delta_lake_gcp_implementation_spark.functions import similarity as sim
    from delta_lake_gcp_implementation_spark.plans import textops as X
    from delta_lake_gcp_implementation_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    rows = sorted(e.collect(), key=lambda r: r.vec_id)
    Xm = np.array([[float(x) for x in r.embedding] for r in rows])

    def wcss(cents_df):
        C = np.array([r.cv for r in sorted(cents_df.collect(), key=lambda r: r.cent_id)])
        d2 = ((Xm[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return d2.min(axis=1).sum()

    w0 = wcss(sim.kmeans_fit(e, "vec_id", "embedding", k=4, iters=0))
    w2 = wcss(sim.kmeans_fit(e, "vec_id", "embedding", k=4, iters=2))
    w4 = wcss(sim.kmeans_fit(e, "vec_id", "embedding", k=4, iters=4))
    assert w2 < w0 and w4 <= w2

    out = X.q_ann_ivf_trained(spark, sf_dir)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_queries > 0
    assert r.n_exact_pairs == 3 * r.n_queries
    assert r.recall_ok  # measured 0.875 vs the 0.5 verdict bound


def test_kmeans_assign_literal_and_join_paths_agree(spark, sf_dir, monkeypatch):
    """The zero-shuffle literal-codebook argmin and the large-codebook
    broadcast-join fallback must assign identical cells."""
    import pyspark.sql.functions as F

    from delta_lake_gcp_implementation_spark.functions import similarity as sim
    from delta_lake_gcp_implementation_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = sim.kmeans_fit(e, "vec_id", "embedding", k=4, iters=1)
    v = e.select(
        F.col("vec_id").alias("_id"), sim.as_double(F.col("embedding")).alias("v")
    )
    lit_path = sim._assign_cells(v, cents)
    assert "Exchange" not in lit_path._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(sim, "_CODEBOOK_LITERAL_BUDGET", 0)
    join_path = sim._assign_cells(v, cents)
    a = {(r._id, r.cell) for r in lit_path.collect()}
    b = {(r._id, r.cell) for r in join_path.collect()}
    assert a == b


def test_doc_chunking_covers_all_tokens(spark, sf_dir):
    """Every token position is covered by >=1 chunk; strides/widths
    honor the (32, 24) config; chunk 0 starts at 0."""
    out = X.q_doc_chunking(spark, sf_dir)
    rows = out.collect()
    toks = {
        r.doc_id: r.n
        for r in X.load_table(spark, sf_dir, "documents")
        .select("doc_id", T.token_count(F.col("text")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = toks[doc_id]
        covered = set()
        for r in chunks:
            assert r.token_start == r.chunk_idx * 24
            assert r.chunk_tokens <= 32
            covered.update(range(r.token_start, r.token_start + r.chunk_tokens))
        assert covered == set(range(n))
        # no chunk starts at/after the token count (except the n=0 stub)
        assert all(r.token_start < max(n, 1) for r in chunks)


def test_vocab_topk_matches_exploded_counts(spark, sf_dir):
    out = {r.token: r.freq for r in X.q_vocab_topk(spark, sf_dir).collect()}
    d = X.load_table(spark, sf_dir, "documents").filter(F.trim("text") != "")
    manual = (
        d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"))
        .groupBy("t")
        .count()
        .collect()
    )
    manual_top = {
        r.t: r["count"]
        for r in sorted(manual, key=lambda r: (-r["count"], r.t))[: len(out)]
    }
    assert out == manual_top


def test_label_centroids_match_numpy_within_grid(spark, sf_dir):
    out = X.q_label_centroids(spark, sf_dir).collect()
    emb = X.load_table(spark, sf_dir, "embeddings").select("label", "embedding").collect()
    by_label: dict[int, list] = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype=np.float64))
    means = {lbl: np.mean(np.stack(vs), axis=0) for lbl, vs in by_label.items()}
    assert len(out) == len(means) * 64
    for r in out:
        # quantized mean is within one 1e-6 grid step of the float mean
        assert abs(r.centroid - means[r.label][r.dim_idx]) < 1.5e-6


def test_tfidf_topk_ranks_and_monotonicity(spark, sf_dir):
    rows = X.q_tfidf_topk(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for chunks in by_doc.values():
        chunks.sort(key=lambda r: r.rank)
        assert [r.rank for r in chunks] == list(range(1, len(chunks) + 1))
        assert len(chunks) <= 3
        # scores non-increasing down the ranks; ties broken by token asc
        for a, b in zip(chunks, chunks[1:]):
            assert a.tfidf > b.tfidf or (
                a.tfidf == b.tfidf and a.token < b.token
            )
    # linear IDF: spot-check score == tf * n_docs / df exactly
    r0 = rows[0]
    assert r0.tfidf == r0.tf * (
        X.load_table(spark, sf_dir, "documents")
        .filter(F.trim("text") != "")
        .count()
        / r0.df
    )


# ------------------------------------------------- round-5 corpus quality / fingerprints


def _write_docs(spark, tmp_path, rows):
    """Write crafted rows as a documents table the catalog queries can load."""
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text").cast("bigint")
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_winnowing_guarantee_shared_substring(spark, tmp_path):
    # winnowing guarantee: docs sharing a substring of length >= k+w-1
    # (= 11 here) share at least one selected fingerprint
    common = "zqxjkvbwpmy ensures overlap"
    rows = [
        (1, "aaaa " + common + " tail one"),
        (2, "completely different prefix " + common),
        (3, "no shared content whatsoever here"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    fp = X.q_winnowing_fingerprints(spark, sf)
    by_doc = {
        d: {r.fingerprint for r in rows_}
        for d, rows_ in (
            (d, list(g))
            for d, g in __import__("itertools").groupby(
                sorted(fp.collect(), key=lambda r: r.doc_id), key=lambda r: r.doc_id
            )
        )
    }
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) or len(by_doc[1] & by_doc[3]) < len(
        by_doc[1] & by_doc[2]
    )


def test_winnowing_density_and_positions(spark, sf_dir):
    # selected positions per doc: gaps between consecutive selections
    # never exceed the window width (every window has a selection)
    fp = X.q_winnowing_fingerprints(spark, sf_dir)
    rows = fp.orderBy("doc_id", "fp_pos").collect()
    from itertools import groupby

    for doc_id, g in groupby(rows, key=lambda r: r.doc_id):
        pos = [r.fp_pos for r in g]
        assert all(p >= 1 for p in pos)
        gaps = [b - a for a, b in zip(pos, pos[1:])]
        assert all(gap <= X._WIN_W for gap in gaps), (doc_id, gaps)


def test_dup_ngram_fraction_crafted(spark, tmp_path):
    rows = [
        (1, "the quick brown fox jumps"),     # shares 'the quick brown' family with 2
        (2, "the quick brown fox sleeps"),
        (3, "totally unique words only here"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in X.q_dup_ngram_fraction(spark, sf).collect()}
    # docs 1 and 2 share 3-grams 'the quick brown' and 'quick brown fox'
    assert out[1].n_grams == 3 and out[1].n_dup_grams == 2
    assert abs(out[1].dup_frac - 2 / 3) < 1e-12
    assert out[2].n_dup_grams == 2
    assert out[3].n_dup_grams == 0 and out[3].dup_frac == 0.0


def test_unigram_surprisal_manual(spark, tmp_path):
    rows = [(1, "a a b"), (2, "a c")]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.doc_id: r for r in X.q_unigram_surprisal(spark, sf).collect()}
    # counts: a=3, b=1, c=1, total=5 -> bits: a: len(bin(5))-len(bin(3))=3-2=1,
    # b,c: 3-1=2
    assert out[1].n_tokens == 3 and out[1].sum_surprisal == 1 + 1 + 2
    assert out[2].n_tokens == 2 and out[2].sum_surprisal == 1 + 2
    assert abs(out[2].avg_surprisal - 1.5) < 1e-12


def test_ann_sq8_topk_codes_and_recall(spark, sf_dir):
    out = X.q_ann_sq8_topk(spark, sf_dir)
    rows = out.collect()
    n_queries = len({r.query_id for r in rows})
    assert all(1 <= r.rank <= X._SQ8_K for r in rows)
    assert len(rows) == n_queries * X._SQ8_K
    # integer dot of 64 uint8 codes is bounded by 64 * 255^2
    assert all(0 <= r.qdot <= 64 * 255 * 255 for r in rows)
    # 8-bit quantization preserves neighborhoods on these vectors:
    # top-5 overlap with the exact cosine arm should be substantial
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = sim.brute_force_topk(
        e, e.filter(F.col("vec_id") < X._Q_CUT), "vec_id", "embedding", k=X._SQ8_K
    )
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(ex & ap) / len(ex) >= 0.5


def test_pq_encode_codes_in_range(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = sim.pq_fit(e, "vec_id", "embedding", dim=64, m_sub=8, k=4, iters=1)
    rows = books.collect()
    assert {(r.sub_id, r.cent_id) for r in rows} == {
        (s, c) for s in range(8) for c in range(4)
    }
    assert all(len(r.cv) == 8 for r in rows)
    codes = sim.pq_encode(e, "vec_id", "embedding", rows, m_sub=8, d_sub=8)
    crows = codes.collect()
    assert all(len(r.codes) == 8 for r in crows)
    assert all(0 <= c <= 3 for r in crows for c in r.codes)


def test_pq_encode_matches_numpy(spark, sf_dir):
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = sim.pq_fit(e, "vec_id", "embedding", dim=64, m_sub=8, k=4, iters=1)
    rows = books.collect()
    cb = np.zeros((8, 4, 8))
    for r in rows:
        cb[r.sub_id, r.cent_id] = r.cv
    codes = {
        r._id: list(r.codes)
        for r in sim.pq_encode(e, "vec_id", "embedding", rows, m_sub=8, d_sub=8).collect()
    }
    for r in e.limit(20).collect():
        v = np.array(r.embedding, dtype=np.float64)
        want = [
            int(np.argmin(((cb[s] - v[s * 8:(s + 1) * 8]) ** 2).sum(axis=1)))
            for s in range(8)
        ]
        assert codes[r.vec_id] == want, r.vec_id


def test_pq_adc_vs_reconstructed_dot(spark, sf_dir):
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 2)
    books = sim.pq_fit(e, "vec_id", "embedding", dim=64, m_sub=8, k=4, iters=1)
    rows = books.collect()
    cb = np.zeros((8, 4, 8))
    for r in rows:
        cb[r.sub_id, r.cent_id] = r.cv
    codes_df = sim.pq_encode(e, "vec_id", "embedding", rows, m_sub=8, d_sub=8)
    out = sim.pq_adc_topk(codes_df, q, "vec_id", "embedding", rows, k=3).collect()
    codes = {r._id: list(r.codes) for r in codes_df.collect()}
    qv = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in q.collect()}
    for r in out:
        recon = np.concatenate([cb[s, codes[r.neighbor_id][s]] for s in range(8)])
        assert abs(r.adc_ip - float(qv[r.query_id] @ recon)) < 1e-9


def test_pq_rerank_recall_beats_floor(spark, sf_dir):
    out = X.q_ann_pq_recall(spark, sf_dir).collect()
    assert len(out) == 1
    assert out[0].recall_ok, "PQ shortlist+rerank recall under structural floor"
    assert out[0].n_exact_pairs == out[0].n_queries * X._RECALL_K


def test_winnowing_containment_detects_subset(spark, tmp_path):
    # doc 2 is doc 1's text embedded whole inside a longer doc:
    # containment(1 -> 2) should be ~1.0 while Jaccard would be low
    core = "winnowing containment target phrase with enough chars"
    rows = [
        (1, core),
        (2, "long prefix padding words here " + core + " and a long suffix continues for a while longer"),
        (3, "entirely unrelated content nothing shared at all"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {(r.doc_a, r.doc_b): r for r in X.q_winnowing_containment(spark, sf).collect()}
    assert (1, 2) in out and out[(1, 2)].containment >= 0.9
    assert (3, 1) not in out and (3, 2) not in out
    # direction matters: 2 is NOT contained in 1 (2 is much longer)
    assert (2, 1) not in out or out[(2, 1)].containment < out[(1, 2)].containment


def _uncapped_ngram_jaccard(spark, sf_dir):
    """Fuzz device: the retired uncapped three-stage pipeline (r7 made
    the capped candidate generator THE q_ngram_jaccard definition)."""
    from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops
    from delta_lake_gcp_implementation_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    sig = X.q_minhash_signatures(spark, sf_dir).localCheckpoint()
    cands = dedup_ops.minhash_candidate_pairs(
        sig, "doc_id", n_hashes=X._MH_N, band_size=X._MH_BAND,
        max_bucket=None,
    )
    filtered = dedup_ops.minhash_agreement_filter(
        cands, sig, "doc_id", n_hashes=X._MH_N, min_agree=X._MH_MIN_AGREE
    )
    return dedup_ops.ngram_jaccard_pairs(
        d, "text", "doc_id", k=X._MH_K, threshold=0.5, candidates=filtered
    )


def test_ngram_jaccard_capped_subset_of_uncapped(spark, sf_dir):
    """The catalog default is the capped (scale-safe) form; the
    uncapped pipeline survives as this fuzz device only (r6 verdict
    item 2).  Capped pairs are a subset with identical jaccard."""
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in _uncapped_ngram_jaccard(spark, sf_dir).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in X.q_ngram_jaccard(spark, sf_dir).collect()
    }
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v == full[k]


def test_minhash_lsh_capped_subset_of_uncapped(spark, sf_dir):
    """Same device for the LSH candidate generator: the catalog-default
    capped pair set is a subset of the uncapped one, and exactly equal
    under a no-op cap."""
    from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops

    sig = X.q_minhash_signatures(spark, sf_dir).localCheckpoint()
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup_ops.minhash_candidate_pairs(
            sig, "doc_id", n_hashes=X._MH_N, band_size=X._MH_BAND,
            max_bucket=None,
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in X.q_minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert capped <= uncapped
    huge_cap = {
        (r.id_a, r.id_b)
        for r in dedup_ops.minhash_candidate_pairs(
            sig, "doc_id", n_hashes=X._MH_N, band_size=X._MH_BAND,
            max_bucket=10**9,
        ).collect()
    }
    assert huge_cap == uncapped


def test_round5_plan_shapes(spark, sf_dir):
    """Scale-critical plan assertions for the round-5 operators: no
    cartesian products anywhere; winnowing's only shuffles are the
    scale_out rebalance and the per-doc window; containment joins on
    the fingerprint value (hash-partitionable), never nested-loop."""
    p = (
        X.q_winnowing_fingerprints(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert p.count("Exchange") <= 3  # scale_out + window partition (+AQE reuse)

    p = (
        X.q_winnowing_containment(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    p = (
        X.q_dup_ngram_fraction(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    # the SQ8/brute-force pair scoring intentionally uses a broadcast
    # nested loop (queries << corpus); the corpus side must NOT shuffle
    p = (
        X.q_ann_sq8_topk(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # tiny query side, by design


def test_simhash_capped_subset_of_uncapped(spark, sf_dir):
    """The catalog default is the capped (scale-safe) form; the uncapped
    form survives as this fuzz device only (r5 verdict item 4).  The
    capped pair set is a subset of the uncapped one, and exactly equal
    when no band bucket exceeds the cap."""
    from delta_lake_gcp_implementation_spark.operators import dedup as dedup_ops

    sig = X.q_simhash_signatures(spark, sf_dir).localCheckpoint()
    uncapped = {
        (r.id_a, r.id_b)
        for r in dedup_ops.simhash_hamming_pairs(
            sig, "doc_id", bits=X._SH_BITS, n_bands=X._SH_BANDS,
            max_hamming=X._SH_MAXHAM, max_bucket=None,
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in X.q_simhash_near_dups(spark, sf_dir).collect()
    }
    assert capped <= uncapped
    # with a cap no bucket hits, the guard is a no-op and sets are equal
    huge_cap = {
        (r.id_a, r.id_b)
        for r in dedup_ops.simhash_hamming_pairs(
            sig, "doc_id", bits=X._SH_BITS, n_bands=X._SH_BANDS,
            max_hamming=X._SH_MAXHAM, max_bucket=10**9,
        ).collect()
    }
    assert huge_cap == uncapped


def test_hard_negatives_excludes_same_label(spark, sf_dir):
    from delta_lake_gcp_implementation_spark.plans import textops as X

    rows = X.q_hard_negatives(spark, sf_dir).collect()
    assert rows
    per_query: dict[int, list] = {}
    for r in rows:
        assert r.query_label != r.neighbor_label
        assert -1.0 <= r.cosine <= 1.0
        per_query.setdefault(r.query_id, []).append(r)
    for q, rs in per_query.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= 3
        # ranks ordered by descending cosine
        by_rank = sorted(rs, key=lambda x: x.rank)
        cos = [x.cosine for x in by_rank]
        assert cos == sorted(cos, reverse=True)


def test_cluster_best_doc_one_survivor_per_cluster(spark, sf_dir):
    from delta_lake_gcp_implementation_spark.plans import textops as X

    rows = X.q_cluster_best_doc(spark, sf_dir).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rs in by_cluster.items():
        keeps = [r for r in rs if r.keep]
        assert len(keeps) == 1
        kept = keeps[0]
        assert all(r.kept_doc_id == kept.doc_id for r in rs)
        assert all(r.cluster_size == len(rs) for r in rs)


def test_bloom_filter_invariants(spark):
    from delta_lake_gcp_implementation_spark.operators import bloom

    keys = spark.createDataFrame(
        [(f"key{i}",) for i in range(200)], ["k"]
    )
    words = bloom.bloom_build(keys, "k")
    # no false negatives: every built key probes True
    hits = keys.select(bloom.bloom_probe_expr(F.col("k"), words).alias("h"))
    assert hits.filter(~F.col("h")).count() == 0
    # probe is a pure projection: no shuffle in the probe plan
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # absent keys: overwhelmingly definitely-absent (FPR ~0.4% at this fill)
    absent = spark.createDataFrame(
        [(f"other{i}",) for i in range(500)], ["k"]
    )
    fp = absent.select(
        bloom.bloom_probe_expr(F.col("k"), words).alias("h")
    ).filter(F.col("h")).count()
    assert fp <= 10
    # merge = union of key sets
    more = spark.createDataFrame([(f"extra{i}",) for i in range(50)], ["k"])
    merged = bloom.bloom_merge(words, bloom.bloom_build(more, "k"))
    both = keys.union(more)
    assert (
        both.select(bloom.bloom_probe_expr(F.col("k"), merged).alias("h"))
        .filter(~F.col("h"))
        .count()
        == 0
    )


def test_bloom_membership_query_verdict(spark, sf_dir):
    from delta_lake_gcp_implementation_spark.plans import textops as X

    rows = X.q_bloom_membership(spark, sf_dir).collect()
    assert rows
    assert all(r.no_false_negative for r in rows)
    # every exact hit is also a bloom hit (vacuously true if the tiny
    # sf has no dup crossing the build/probe split; sf0.01 does and the
    # oracle gate checks it there)
    assert all(r.bloom_hit for r in rows if r.exact_hit)


def test_domain_kl_zero_for_corpus_like_source(spark, tmp_path):
    """A source distributed exactly like the corpus has divergence 0;
    a skewed source diverges positively."""
    rows = []
    # two balanced sources with identical distributions, one skewed
    for i in range(40):
        rows.append((i, "alpha beta gamma delta", "s_same1"))
        rows.append((100 + i, "alpha beta gamma delta", "s_same2"))
    for i in range(40):
        rows.append((200 + i, "alpha alpha alpha alpha", "s_skew"))
    import pandas as pd

    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from delta_lake_gcp_implementation_spark.plans import textops as X

    out = {r.source: r for r in X.q_domain_kl(spark, str(tmp_path)).collect()}
    # the skewed source concentrates on the corpus-commonest token, so
    # its own model assigns LESS surprisal than the corpus model
    assert out["s_skew"].kl_bits_avg > 0
    assert out["s_same1"].kl_bits_avg <= out["s_skew"].kl_bits_avg


def test_sparse_cosine_finds_planted_near_dup(spark, tmp_path):
    import pandas as pd

    base = "quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base + " extra tail words here"),  # near-dup of 1
        (3, "completely different content about spark shuffles and joins"),
        (4, "another unrelated doc on parquet footer statistics pruning"),
    ]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from delta_lake_gcp_implementation_spark.plans import textops as X

    pairs = {(r.doc_a, r.doc_b): r for r in
             X.q_sparse_cosine_pairs(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)].cosine > 0.7
    assert all(a == 1 and b == 2 for (a, b) in pairs)


def test_cdc_chunks_shift_resistant(spark, tmp_path):
    """Content-defined boundaries don't move under a front insertion:
    the shifted doc shares almost all chunk hashes with the original
    (fixed-stride chunking would share none)."""
    import pandas as pd

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls on the quiet town and the river bends past the old mill "
        "where children play games until the evening light fades away"
    )
    rows = [(1, base), (2, "INSERTED PREFIX " + base)]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from delta_lake_gcp_implementation_spark.plans import textops as X

    out = X.q_cdc_chunks(spark, str(tmp_path)).collect()
    h1 = {r.chunk_hash for r in out if r.doc_id == 1}
    h2 = {r.chunk_hash for r in out if r.doc_id == 2}
    shared = h1 & h2
    # everything after the first boundary re-synchronizes
    assert len(shared) >= len(h1) - 2
    # shared chunks carry n_copies >= 2
    for r in out:
        if r.chunk_hash in shared:
            assert r.n_copies >= 2
    # chunks tile each document exactly
    for doc, text in rows:
        cs = sorted((r for r in out if r.doc_id == doc), key=lambda r: r.chunk_idx)
        assert cs[0].start == 1
        for a, b in zip(cs, cs[1:]):
            assert b.start == a.start + a.chunk_len
        assert cs[-1].start + cs[-1].chunk_len - 1 == len(text)


def test_mmr_skips_near_duplicate_of_top_pick(spark, tmp_path):
    """Pool contains an exact duplicate of the most relevant vector:
    plain top-k would rank it second; MMR must defer it."""
    import pandas as pd

    q = [1.0, 0.0, 0.0, 0.0]
    top = [0.9, 0.1, 0.0, 0.0]
    rows = [(0, q, 0), (1, top, 0), (2, top, 0),  # 2 duplicates 1
            (3, [0.5, 0.5, 0.0, 0.0], 1),
            (4, [0.4, 0.0, 0.6, 0.0], 1),
            (5, [0.3, 0.0, 0.0, 0.7], 2),
            (6, [0.2, 0.5, 0.5, 0.0], 2),
            (7, [0.1, 0.2, 0.3, 0.4], 3)]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) as embedding", "label"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    from delta_lake_gcp_implementation_spark.plans import mmr

    out = sorted(mmr.q_mmr_select(spark, str(tmp_path)).collect(),
                 key=lambda r: r.sel_rank)
    assert out[0].vec_id in (1, 2)  # most relevant first (tie -> min id)
    assert out[0].vec_id == 1
    assert out[1].vec_id != 2  # the duplicate is NOT the second pick
    # the duplicate's eventual max_sim_selected is ~1 when it appears
    dup = [r for r in out if r.vec_id == 2]
    if dup:
        assert dup[0].max_sim_selected > 0.99
    # ranks dense, scores finite
    assert [r.sel_rank for r in out] == list(range(1, len(out) + 1))


def test_token_pagerank_hub_ranks_highest(spark, tmp_path):
    """A star graph: the hub token adjacent to every spoke must out-rank
    all spokes."""
    import pandas as pd

    rows = [(i, f"hub spoke{i}") for i in range(10)]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    from delta_lake_gcp_implementation_spark.plans import textops as X

    pr = {r.token: r.pr for r in X.q_token_pagerank(spark, str(tmp_path)).collect()}
    assert pr["hub"] > max(v for k, v in pr.items() if k != "hub")
    # every spoke gets the same rank (symmetric positions)
    spokes = {v for k, v in pr.items() if k != "hub"}
    assert len(spokes) == 1
    assert all(v > 0 for v in pr.values())


def test_bpe_encode_compresses_vs_chars(spark, sf_dir):
    """BPE token count per doc is between n_words (full merges would
    collapse each word to one symbol) and per-word char count + 1."""
    from delta_lake_gcp_implementation_spark.plans import bpeq

    rows = bpeq.q_bpe_encode_tokens(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_bpe_tokens >= r.n_words  # >= one token per word
    # merges actually fire: total tokens < chars+eow upper bound
    total_tokens = sum(r.n_bpe_tokens for r in rows)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    upper = (
        d.select(
            F.sum(
                F.length(F.regexp_replace("text", r"[ \t\n\x0B\f\r]+", ""))
            ).alias("chars")
        ).collect()[0].chars
        + sum(r.n_words for r in rows)
    )
    assert total_tokens < upper


def test_winnowing_knob_guarantee_holds_for_both_hashes(spark):
    """operators.winnowing: the Schleimer match guarantee (any shared
    substring of length >= k + w - 1 yields a shared fingerprint) is a
    property of the SELECTION, not of which hash ran — so the xxhash64
    production knob must satisfy it exactly like the md5 oracle knob."""
    from delta_lake_gcp_implementation_spark.operators import winnowing

    shared = "the quick brown fox jumps over the lazy dog repeatedly"
    df = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "zzzzzzzz " + shared),
            (3, "completely unrelated text with no overlap whatsoever!"),
        ],
        ["doc_id", "text"],
    )
    for algo in winnowing.ALGOS:
        fp = winnowing.fingerprints(df, "text", "doc_id", k=8, w=4, algo=algo)
        by_doc = {}
        for r in fp.collect():
            by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
        assert by_doc[1] & by_doc[2], algo  # guaranteed shared print
        # density: winnowing stores far fewer prints than grams
        assert len(by_doc[1]) < len(df.collect()[0].text)


def test_cdc_knob_shift_resistance_holds_for_both_hashes(spark):
    """operators.winnowing.cdc_chunks: inserting a prefix must leave
    the trailing chunk set intact (boundaries are content-defined), for
    the md5 oracle knob AND the xxhash64 production knob."""
    from delta_lake_gcp_implementation_spark.operators import winnowing

    body = "".join(f"word{i} " for i in range(120))
    df = spark.createDataFrame(
        [(1, body), (2, "INSERTED PREFIX >>> " + body)], ["doc_id", "text"]
    )
    for algo in winnowing.ALGOS:
        ch = winnowing.cdc_chunks(df, "text", "doc_id", k=8, div=32, algo=algo)
        rows = ch.collect()
        h1 = {r.chunk_hash for r in rows if r.doc_id == 1}
        h2 = {r.chunk_hash for r in rows if r.doc_id == 2}
        # all but the first chunk (absorbing the insertion) realign
        overlap = len(h1 & h2) / len(h1)
        assert overlap >= 0.8, (algo, overlap)
        # copy counts reflect the cross-doc dedup
        assert any(r.n_copies == 2 for r in rows), algo


def test_dedup_survivorship_accounts_for_every_doc(spark, sf_dir):
    from delta_lake_gcp_implementation_spark.tables import load_table

    rows = X.q_dedup_survivorship(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_docs
        assert 0 <= r.n_clusters <= r.n_docs
        assert abs(r.drop_rate - r.n_dropped / r.n_docs) < 1e-15


def test_minhash_jaccard_estimate_invariants(spark, sf_dir):
    rows = X.q_minhash_jaccard_estimate(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_agree <= X._MH_N
        # LSH candidates share at least one full band
        assert r.n_agree >= X._MH_BAND
        assert abs(r.est_jaccard - r.n_agree / X._MH_N) < 1e-15
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est_jaccard - r.exact_jaccard)) < 1e-15


def test_repeat_purchase_interval_matches_manual(spark, sf_dir):
    from collections import defaultdict

    from delta_lake_gcp_implementation_spark.plans import relational as R
    from delta_lake_gcp_implementation_spark.tables import load_table

    got = {r.mktsegment: r for r in
           R.q_repeat_purchase_interval(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate").collect()
    seg = {r.c_custkey: r.c_mktsegment for r in
           load_table(spark, sf_dir, "customer")
           .select("c_custkey", "c_mktsegment").collect()}
    by_cust = defaultdict(list)
    for r in orders:
        by_cust[r.o_custkey].append((r.o_orderdate, r.o_orderkey))
    gaps = defaultdict(list)
    for ck, os_ in by_cust.items():
        os_.sort()
        for (d0, _), (d1, _) in zip(os_, os_[1:]):
            gaps[seg[ck]].append((d1.date() - d0.date()).days)
    for s, g in gaps.items():
        assert got[s].n_gaps == len(g)
        assert got[s].max_gap_days == max(g)
        assert got[s].min_gap_days == min(g)
        assert abs(got[s].avg_gap_days - sum(g) / len(g)) < 1e-12
    assert set(got) == set(gaps)


def test_substring_dup_positions_flags_shared_and_intra_doc_runs(spark):
    """ExactSubstr semantics (Lee et al.): a 10-token span shared by
    two docs flags exactly its 3 fully-contained 8-gram start
    positions in EACH doc; a gram repeated twice INSIDE one doc is
    flagged too (the paper counts any second occurrence); docs under
    k tokens produce no positions at all."""
    shared = " ".join(f"s{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(8))
    rows = [
        (1, " ".join(f"a{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"b{i}" for i in range(5))),
        (2, " ".join(f"c{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"d{i}" for i in range(5))),
        (3, rep + " z " + rep),
        (4, "one two three"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    flagged = dedup_ops.substring_dup_positions(df, "text", "doc_id", k=8)
    got = {
        (r.doc_id, r.p): r.is_dup for r in flagged.collect()
    }
    # docs 1/2: 20 tokens -> positions 0..12; only 5,6,7 lie fully
    # inside the shared span
    for doc in (1, 2):
        assert {p for (d, p) in got if d == doc} == set(range(13))
        assert {p for (d, p), v in got.items() if d == doc and v} == {5, 6, 7}
    # doc 3: r0..r7 z r0..r7 -> positions 0..9; the identical grams at
    # 0 and 9 are mutual duplicates (intra-doc rule), nothing else
    assert {p for (d, p), v in got.items() if d == 3 and v} == {0, 9}
    # doc 4: under k tokens -> no gram positions at all
    assert not any(d == 4 for (d, _) in got)
    # xxhash64 production knob flags the identical position set
    fast = dedup_ops.substring_dup_positions(
        df, "text", "doc_id", k=8, algo="xxhash64"
    )
    assert {(r.doc_id, r.p): r.is_dup for r in fast.collect()} == got


def test_substring_dedup_run_stats(spark, tmp_path):
    """The catalog plan's gaps-and-islands math: a run of g consecutive
    flagged positions reports a duplicated substring of g+k-1 tokens,
    exact-duplicate docs report a full-length run and trip the drop
    verdict."""
    shared = " ".join(f"s{i}" for i in range(10))
    full = " ".join(f"f{i}" for i in range(25))
    rows = [
        (1, " ".join(f"a{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"b{i}" for i in range(5))),
        (2, " ".join(f"c{i}" for i in range(5)) + " " + shared + " "
            + " ".join(f"d{i}" for i in range(5))),
        (3, full),
        (4, full),
        (5, " ".join(f"u{i}" for i in range(12))),
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in X.q_substring_dedup(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    for doc in (1, 2):  # one 10-token run = 3 grams at k=8
        r = got[doc]
        assert (r.n_grams, r.n_dup_grams, r.n_runs) == (13, 3, 1)
        assert r.max_run_tokens == 10 and not r.drop_candidate
    for doc in (3, 4):  # exact dup: every gram flagged, full-length run
        r = got[doc]
        assert (r.n_grams, r.n_dup_grams, r.n_runs) == (18, 18, 1)
        assert r.max_run_tokens == 25 and r.drop_candidate
    r = got[5]  # wholly unique doc
    assert (r.n_dup_grams, r.n_runs, r.max_run_tokens) == (0, 0, 0)
    assert not r.drop_candidate


def test_lsh_bucket_sql_text_matches_column_path(spark):
    """r16: lsh_bucket over a column NAME builds the whole bucket
    expression as one server-parsed F.expr (the per-plane Column
    composition cost 0.8-1.7 s of py4j round-trips per construction).
    Bucket values must be bit-identical to the Column path on awkward
    vectors (negatives, zeros, subnormals, exact-zero dots), and a
    Column input must still take the fallback."""
    from delta_lake_gcp_implementation_spark.functions import similarity as sim

    planes = sim.hyperplanes(16, 8)
    vecs = [
        (0, [0.0] * 8),
        (1, [1.0, -1.0, 0.5, -0.5, 2.0, -2.0, 0.25, -0.25]),
        (2, [5e-324] * 8),
        (3, [0.1 + 0.2, -0.3, 1e16, -1e-16, 7.0, 0.0, -0.0, 3.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, v array<double>")
    got = df.select(
        "vec_id",
        sim.lsh_bucket("v", planes).alias("b_sql"),
        sim.lsh_bucket(F.col("v"), planes).alias("b_col"),
    ).collect()
    for r in got:
        assert r.b_sql == r.b_col, (r.vec_id, r.b_sql, r.b_col)
    # non-finite planes fall back even for a name input
    bad = [[float("nan")] * 8]
    assert df.select(sim.lsh_bucket("v", bad)).collect()


def test_lsh_bucket_sql_path_quotes_column_name(spark):
    """The SQL fast path backtick-quotes the column name: a name with a
    space gives the same buckets as the Column path, and a name with a
    backtick (which the quoting cannot carry) is refused."""
    planes = sim.hyperplanes(8, 4)
    df = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5, 3.0]), (1, [-1.0, 0.0, 2.0, -0.5])],
        "vec_id int, `my vec` array<double>",
    )
    got = df.select(
        "vec_id",
        sim.lsh_bucket("my vec", planes).alias("b_sql"),
        sim.lsh_bucket(F.col("`my vec`"), planes).alias("b_col"),
    ).collect()
    for r in got:
        assert r.b_sql == r.b_col, (r.vec_id, r.b_sql, r.b_col)
    with pytest.raises(ValueError, match="unsupported column name"):
        sim.lsh_bucket("my`vec", planes)


def test_sql_text_literals_bit_exact(spark):
    """r15: codebook/hyperplane/bloom literals are built as one
    F.expr SQL string instead of per-element F.lit py4j calls (~1 s
    per 1024-float codebook).  The SQL parse must reproduce the same
    values BIT-exactly, including shortest-repr-roundtrip edge cases,
    and fall back safely on non-finite input."""
    import math

    from delta_lake_gcp_implementation_spark.functions import similarity as sim
    from delta_lake_gcp_implementation_spark.operators import bloom

    vals = [0.1 + 0.2, 1e-307, 5e-324, -1.5e17, 3.0, -0.0, 123456.789]
    row = spark.range(1).select(
        sim.lit_vec(vals).alias("v"),
        sim.lit_matrix([vals, vals[::-1]]).alias("m"),
        sim.lit_cent_structs([0, 7], [vals, vals[::-1]]).alias("s"),
        bloom._lit_bigints(
            [0, 1, -1, (1 << 63) - 1, -(1 << 63)]
        ).alias("b"),
    ).collect()[0]
    assert [x for x in row.v] == vals
    assert [list(r) for r in row.m] == [vals, vals[::-1]]
    assert [(r.cid, list(r.cv)) for r in row.s] == [(0, vals), (7, vals[::-1])]
    assert list(row.b) == [0, 1, -1, (1 << 63) - 1, -(1 << 63)]
    # -0.0 sign preserved
    assert math.copysign(1.0, row.v[5]) == -1.0
    # non-finite input falls back to the per-element path, same values
    nf = [1.0, float("inf")]
    got = spark.range(1).select(sim.lit_vec(nf).alias("v")).collect()[0].v
    assert got[0] == 1.0 and math.isinf(got[1])
