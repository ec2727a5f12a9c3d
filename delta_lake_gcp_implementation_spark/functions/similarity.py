"""Vector-similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exactness baseline; random-hyperplane
LSH bucketing is the scale path (candidates drop from O(N*Q) to
O(N*Q / 2^planes) per bucket).  Everything is built-in higher-order
functions (``zip_with`` / ``aggregate``) — JVM-side, Arrow-free, no
Python in the loop.

Determinism: dot products run in list order with a DOUBLE accumulator,
which is bit-identical to DuckDB's ``list_dot_product`` over
``DOUBLE[]`` (verified empirically) — so even unrounded cosine values
hash-match the oracle.

Scale notes (100 TB): the query side is broadcast (queries << corpus);
the corpus scan is embarrassingly parallel; LSH buckets turn the
cross join into an equi-join on bucket id, which hash-partitions and
scales with executors.  At billion-vector scale swap the in-plan
hyperplanes for an IVF coarse quantizer — same plan shape (equi-join
on centroid id).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..checkpoints import checkpoint


def as_double(vec: Column) -> Column:
    """Cast array<float> -> array<double> (matches oracle DOUBLE[])."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential dot product with double accumulator (bit-deterministic
    in list order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos = dot / (|a| * |b|) — identical expression tree to the oracle
    (``list_dot_product(a,b) / (sqrt(...) * sqrt(...))``)."""
    return dot(a, b) / (norm(a) * norm(b))


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a fixed integer
    recurrence (no RNG at plan time; the same literals are embedded in
    the Spark plan and the oracle SQL)."""
    out = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            v = (1 + (j * dim + i) * 2654435761) % 1000003
            row.append(v / 1000003.0 - 0.5)
        out.append(row)
    return out


def _sql_double(x: float) -> str:
    """SQL text of a double literal: ``repr`` is shortest-repr (which
    ``Double.parseDouble`` round-trips bit-exactly) and the ``D``
    suffix forces DOUBLE (a bare ``1.5`` would parse as DECIMAL under
    ANSI and lose bits through the decimal cast)."""
    return repr(float(x)) + "D"


def lit_vec(xs) -> Column:
    """``array<double>`` literal built in ONE py4j round-trip (r15).

    Building codebook/hyperplane literals through per-element
    ``F.lit`` costs one py4j call per element — measured ~1 s per
    1024-float codebook, paid 4-5 times per ANN key build — while a
    single ``F.expr`` over the SQL text parses server-side in ~3 ms
    into the IDENTICAL ``CreateArray(Literal...)`` tree.  Non-finite
    values (never produced by the finite-input fits) fall back to the
    per-element path, where ``F.lit`` handles them natively."""
    vals = [float(x) for x in xs]
    if vals and all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(_sql_double(v) for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def lit_matrix(rows) -> Column:
    """``array<array<double>>`` literal in one py4j call (see
    :func:`lit_vec`)."""
    mat = [[float(x) for x in r] for r in rows]
    if mat and all(r and all(math.isfinite(v) for v in r) for r in mat):
        return F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(_sql_double(v) for v in r) + ")"
                for r in mat
            )
            + ")"
        )
    return F.array(*[F.array(*[F.lit(v) for v in r]) for r in mat])


def lit_cent_structs(ids, books) -> Column:
    """``array<struct<cid:int, cv:array<double>>>`` codebook literal in
    one py4j call (see :func:`lit_vec`) — the argmin scan shape used by
    cell assignment; parses to the same ``CreateNamedStruct`` tree as
    ``F.struct(F.lit(cid), F.array(...))``."""
    mat = [[float(x) for x in r] for r in books]
    if mat and all(r and all(math.isfinite(v) for v in r) for r in mat):
        return F.expr(
            "array("
            + ",".join(
                f"named_struct('cid', {int(cid)}, 'cv', array("
                + ",".join(_sql_double(v) for v in cv)
                + "))"
                for cid, cv in zip(ids, mat)
            )
            + ")"
        )
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).alias("cid"),
                F.array(*[F.lit(v) for v in cv]).alias("cv"),
            )
            for cid, cv in zip(ids, mat)
        ]
    )


def _plane_lit(plane: list[float]) -> Column:
    return lit_vec(plane)


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit j = sign(dot(v, H_j)).

    When ``vec`` is a column NAME the whole n_planes-term expression is
    built as ONE server-parsed ``F.expr`` (r16): composing it per plane
    through py4j costs ~16 x (zip_with + aggregate lambda + when + add)
    round-trips — measured 0.8-1.7 s of pure driver time per
    construction, paid twice per LSH key (query and corpus sides) and
    the dominant cost of the plan-construction-bound ANN keys.  The
    SQL text parses to the same HOF tree (zip_with/aggregate with a
    0D double accumulator, integer CASE weights), so bucket values are
    bit-identical to the per-plane Column path, which remains the
    fallback for Column inputs or non-finite planes.  The name is
    backtick-quoted into the SQL text; a name containing a backtick
    raises ``ValueError``."""
    finite = planes and all(
        r and all(math.isfinite(float(v)) for v in r) for r in planes
    )
    if isinstance(vec, str) and finite:
        if "`" in vec:
            raise ValueError(f"lsh_bucket: unsupported column name {vec!r}")
        terms = []
        for j, plane in enumerate(planes):
            arr = "array(" + ",".join(_sql_double(v) for v in plane) + ")"
            d = (
                f"aggregate(zip_with(`{vec}`, {arr}, (x, y) -> x * y), "
                "0D, (acc, x) -> acc + x)"
            )
            terms.append(f"(CASE WHEN {d} > 0 THEN {2 ** j}L ELSE 0L END)")
        return F.expr("CAST((" + " + ".join(terms) + ") AS BIGINT)")
    vec = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        bit = F.when(dot(vec, _plane_lit(plane)) > 0, F.lit(2**j)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit.cast("bigint")
    return bucket


def l2sq(a: Column, b: Column) -> Column:
    """Squared euclidean distance with double accumulator."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def project_vectors(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Canonical materialized ``(_id, double-vector)`` frame shared by
    the vector operators: spread to cluster parallelism, cast once,
    checkpoint once.  Callers composing several vector passes over the
    SAME corpus (fit + index build, as in ``q_ann_ivf_trained``) should
    project once and pass the frame down — otherwise each operator
    re-scans, re-casts, and pins its own copy in executor storage.

    The checkpoint belongs to the caller's scope (``checkpoints``)."""
    from ..tables import scale_out

    return scale_out(vectors).select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("v")
    ).transform(checkpoint)


def kmeans_fit(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 5,
    projected: DataFrame | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means: the trained coarse quantizer for
    IVF search.  Returns ``(cent_id, cv)`` with ``cent_id`` in
    ``[0, k)``.

    Plan shape per iteration (the canonical Spark k-means loop, same
    structure as MLlib's):

    - **assign**: broadcast the k centroids, per-row argmin of squared
      L2 — embarrassingly parallel, no shuffle of the vector table;
    - **update**: ``posexplode`` to (cell, dim, value), one hash
      aggregation to per-(cell, dim) means, one to re-assembled
      centroid arrays — shuffles only k*dim mean cells, never vectors.

    The centroid table is k*dim floats — driver-literal scale, like
    the PQ codebooks — so each iteration is ONE Spark action (the
    per-(cell, dim) mean aggregation, collected) and the merge of new
    means over previous centroids happens on the driver (r15: the
    previous per-iteration checkpoint + centroid join + collect cost
    3-4 driver jobs per round; the mean values are identical — the
    same Spark-side ``avg`` either way).  Initialization is the
    first k vectors by id and iteration count is fixed, so the fit is
    deterministic for a given input (empty cells keep their previous
    centroid).  Float means are partition-order dependent in the last
    ULPs, hence no SQL oracle — correctness is proven by numpy-parity
    and monotone-WCSS tests instead.
    """
    # materialize the projected (id, double-vector) frame ONCE: every
    # Lloyd's iteration re-reads it, and without the checkpoint each
    # iteration re-runs scan + cast from the source (r11 verdict item
    # 4: 3 iterations at 100x measured 74.6 s unmaterialized vs 15.3 s
    # checkpointed — the per-iteration source re-read was the cost,
    # not the argmin).  ``projected`` shares a caller's frame instead
    # of materializing a second copy.
    v = (
        projected
        if projected is not None
        else project_vectors(vectors, id_col, vec_col)
    )
    init = sorted(v.orderBy("_id").limit(k).collect(), key=lambda r: r._id)
    books = [[float(x) for x in r.v] for r in init]
    for _ in range(iters):
        assigned = _assign_cells_books(v, books)
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        for r in means:
            books[r.cell][r.pos] = float(r.m)
    return v.sparkSession.createDataFrame(
        [(i, cv) for i, cv in enumerate(books)],
        "cent_id int, cv array<double>",
    )


#: above this many codebook floats (k * dim) the literal-array argmin
#: would bloat the plan; fall back to the join-based assignment.
_CODEBOOK_LITERAL_BUDGET = 131072


def _assign_cells(v: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, ties to
    the lower cent_id).

    Default path: read the k centroid rows (tiny — scalar control flow,
    like the pipeline's watermark reads) and embed them as a literal
    array; the argmin is a per-row ``array_min`` over (d2, cent_id)
    structs — map-only, zero shuffle, no n*k row blowup.  A
    broadcast-join + window argmin would push n*k scored rows through
    an exchange: a k-fold data explosion at corpus scale.

    Fallback for very large codebooks (k*dim beyond the literal
    budget): broadcast join + per-key ``min_by`` aggregation — still
    no window sort, but shuffles one row per (vector, centroid)."""
    rows = sorted(cents.collect(), key=lambda r: r.cent_id)
    return _assign_cells_books(
        v,
        [[float(x) for x in r.cv] for r in rows],
        ids=[int(r.cent_id) for r in rows],
    )


def _assign_cells_books(
    v: DataFrame, books: list[list[float]], ids: list[int] | None = None
) -> DataFrame:
    """:func:`_assign_cells` with the codebook already on the driver
    (a list of centroid vectors, cent_id = position unless ``ids``
    overrides) — the k-means loop carries centroids as driver state,
    so no collect per call."""
    ids = ids if ids is not None else list(range(len(books)))
    n_floats = sum(len(cv) for cv in books)
    if n_floats <= _CODEBOOK_LITERAL_BUDGET:
        cent_arr = lit_cent_structs(ids, books)
        scored = F.transform(
            cent_arr,
            lambda c: F.struct(
                l2sq(F.col("v"), c["cv"]).alias("d2"), c["cid"].alias("cid")
            ),
        )
        # struct ordering is field-wise: min d2, ties to lower cent_id
        best = F.array_min(scored)
        return v.select("_id", "v", best["cid"].alias("cell"))
    cents = v.sparkSession.createDataFrame(
        [(cid, cv) for cid, cv in zip(ids, books)],
        "cent_id int, cv array<double>",
    )
    scored = v.crossJoin(F.broadcast(cents)).select(
        "_id", "v", "cent_id", l2sq(F.col("v"), F.col("cv")).alias("d2")
    )
    return (
        scored.groupBy("_id")
        .agg(
            F.min_by(
                F.struct("v", "cent_id"), F.struct("d2", "cent_id")
            ).alias("best")
        )
        .select(
            "_id",
            F.col("best.v").alias("v"),
            F.col("best.cent_id").alias("cell"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    nprobe: int = 1,
    corpus_projected: DataFrame | None = None,
) -> DataFrame:
    """IVF search against a (trained or seeded) codebook: corpus
    vectors live in their nearest cell; each query probes its
    ``nprobe`` closest cells and ranks cosine inside them only.

    Scale shape: cell assignment is a broadcast of the codebook (k
    centroid rows) + per-row argmin; the probe is an equi-join on cell
    id that hash-partitions over the cluster — no cross join at any
    size.  Recall is tuned by nprobe; cost scales ~ nprobe/k of
    brute force."""
    from ..tables import scale_out

    # materialize the assignment — this IS the index-build step.  Left
    # lazy, the probe join's implicit isnotnull(cell) filter re-runs
    # the full argmin AND predicate-pushes it below scale_out's
    # repartition into the raw scan, where a one-row-group file
    # single-threads 100% of the assignment work (r11 verdict item 4:
    # 21.5 s vs 8 s at 100x, the (12+1)/13 straggler stage).  At
    # cluster scale the assignment is persisted once as the index
    # table (the corpus_ingest BANDS pattern) and amortized across
    # queries; the per-call checkpoint is the ephemeral equivalent.
    # ``corpus_projected`` shares a caller's materialized (_id, v)
    # frame so the scan + cast are not repeated per operator.
    base = (
        corpus_projected
        if corpus_projected is not None
        else scale_out(corpus).select(
            F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("v")
        )
    )
    c = (
        base
        .transform(lambda d: _assign_cells(d, centroids))
        .select(
            F.col("_id").alias("neighbor_id"),
            F.col("v").alias("cv_vec"),
            "cell",
        )
        .withColumn("cn", norm(F.col("cv_vec")))
        .transform(checkpoint)
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    q_scored = qv.crossJoin(F.broadcast(centroids)).select(
        "query_id", "qv", "cent_id",
        l2sq(F.col("qv"), F.col("cv")).alias("d2"),
    )
    w_probe = Window.partitionBy("query_id").orderBy("d2", "cent_id")
    q_cells = (
        q_scored.withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", F.col("cent_id").alias("cell"))
        .withColumn("qn", norm(F.col("qv")))
    )
    pairs = c.join(F.broadcast(q_cells), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv_vec")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        # a query probing multiple cells can meet a neighbor once per
        # cell only if assignments overlapped — they don't (each corpus
        # vector lives in exactly one cell), so no dedup needed
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus scan, rank per query.  One shuffle (the per-query window);
    the similarity compute itself is map-side.

    The corpus side is spread to cluster parallelism first: this plan
    has NO shuffle before the window, so a one-file scan would pin the
    O(corpus x queries) scoring to a single core (measured 17 s vs 2 s
    at a 200k-vector rehearsal)."""
    from ..tables import scale_out

    # norms precomputed per side (not per pair): same bit-exact value —
    # sqrt of the same dot product — at 1/|other side| of the cost
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = scale_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the top-k most-similar corpus vectors with a DIFFERENT label — the
    near-misses that make the best negatives.  Same plan as
    ``brute_force_topk`` (broadcast queries, map-side scoring, one
    per-query window) with the label-mismatch predicate applied before
    scoring, so excluded same-label pairs never cost a dot product."""
    from ..tables import scale_out

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", norm(F.col("qv")))
    c = scale_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("query_label") != F.col("neighbor_label")
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: only score candidates in the query's LSH
    bucket.  The bucket equi-join hash-partitions (no cross join), so
    the plan scales to a billion-vector corpus; recall is tuned by
    n_planes (fewer planes = bigger buckets = higher recall/cost)."""
    from ..tables import scale_out

    planes = hyperplanes(n_planes, dim)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("bucket", lsh_bucket("qv", planes))
        .withColumn("qn", norm(F.col("qv")))
    )
    # the query side broadcasts, so nothing downstream re-partitions
    # the corpus: spread the scan before the per-row bucket/score work
    c = (
        scale_out(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
        )
        .withColumn("bucket", lsh_bucket("cv", planes))
        .withColumn("cn", norm(F.col("cv")))
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------- product quantization (round 5)


def pq_fit(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m_sub: int = 8,
    k: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Product-quantization codebooks (Jegou et al., PAMI'11): split the
    vector into ``m_sub`` contiguous subspaces of ``dim / m_sub`` dims
    and run an INDEPENDENT Lloyd's k-means per subspace.  Returns
    ``(sub_id, cent_id, cv)`` — ``m_sub * k`` rows.

    All m_sub fits run as ONE combined Lloyd's loop, not m_sub
    sequential :func:`kmeans_fit` calls: per iteration, ONE map-side
    pass over the full-vector rows assigns all m_sub codes at once
    (unrolled constant-folded distance arithmetic, see
    :func:`pq_encode`) and ONE ``(sub_id, cell, pos)`` hash aggregation
    computes every subspace's means together — measured 16x fewer
    driver job rounds (23 s -> ~1 s at sf0.1, 16 subspaces).  As in
    :func:`kmeans_fit` (r15), the codebook is m_sub*k*d_sub floats —
    driver-literal scale by construction — so that one aggregation is
    collected and merged over the previous codebook on the driver:
    one Spark action per iteration instead of the previous
    collect + join + coalesce + checkpoint round (the mean values are
    identical — the same Spark-side ``avg`` either way).
    Initialization is the first k vectors' slices per subspace and the
    argmin ties to the lower cent_id, so the fit stays deterministic
    for a given input; empty cells keep their previous centroid, same
    as :func:`kmeans_fit`.
    """
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    d_sub = dim // m_sub
    from ..tables import scale_out

    v = scale_out(vectors).select(
        F.col(id_col).alias("_pid"), as_double(F.col(vec_col)).alias("_pv")
    ).transform(checkpoint)
    init = sorted(v.orderBy("_pid").limit(k).collect(), key=lambda r: r._pid)
    books = {
        s: [
            [float(x) for x in r._pv[s * d_sub:(s + 1) * d_sub]]
            for r in init
        ]
        for s in range(m_sub)
    }
    for _ in range(iters):
        assigned = v.select(
            "_pv", _pq_codes_expr("_pv", books, m_sub, d_sub).alias("codes")
        )
        pe = assigned.select(
            F.posexplode("_pv").alias("pos0", "val"), "codes"
        ).select(
            (F.col("pos0") / d_sub).cast("int").alias("sub_id"),
            (F.col("pos0") % d_sub).alias("pos"),
            "val",
            "codes",
        )
        means = (
            pe.select(
                "sub_id",
                "pos",
                "val",
                F.element_at("codes", F.col("sub_id") + 1).alias("cell"),
            )
            .groupBy("sub_id", "cell", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        for r in means:
            books[r.sub_id][r.cell][r.pos] = float(r.m)
    return v.sparkSession.createDataFrame(
        [
            (s, c, books[s][c])
            for s in range(m_sub)
            for c in range(len(books[s]))
        ],
        "sub_id int, cent_id int, cv array<double>",
    )


def _pq_books_by_sub(codebook_rows) -> dict[int, list[list[float]]]:
    """Collected codebook rows -> {sub_id: [codeword floats by cent_id]}."""
    by_sub: dict[int, dict[int, list[float]]] = {}
    for r in codebook_rows:
        by_sub.setdefault(int(r.sub_id), {})[int(r.cent_id)] = [
            float(x) for x in r.cv
        ]
    return {
        s: [cents[c] for c in sorted(cents)] for s, cents in by_sub.items()
    }


def pq_encode(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    codebook_rows,
    m_sub: int,
    d_sub: int,
) -> DataFrame:
    """Encode each vector as ``m_sub`` centroid codes: per-subspace
    argmin of squared L2 against the literal codebook — map-only, zero
    shuffle, 4 bits/code at k=16 (the 8x-64x compression that makes a
    100 TB vector corpus RAM-resident)."""
    books = _pq_books_by_sub(codebook_rows)
    v = vectors.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("v")
    )
    return v.select(
        "_id", _pq_codes_expr("v", books, m_sub, d_sub).alias("codes")
    )


def _pq_codes_expr(vec_col: str, books, m_sub: int, d_sub: int):
    """The m_sub-code assignment as one column expression: per
    subspace, ``array_min`` over (squared-L2, cid) structs against the
    literal codebook (ties to the lower cent_id).  Kept in the compact
    higher-order-function form: a fully unrolled constant tree (~3k
    nodes at 16x16x4) was measured 3x SLOWER end-to-end — Catalyst
    optimization time and codegen-size fallbacks swamp the interpreted
    lambda it replaces.  Each subspace's branch embeds ONLY that
    subspace's codewords (indexing one full-codebook literal from every
    branch would copy all m_sub*k*d_sub literal nodes into each of the
    m_sub branches — a quadratic plan-construction blowup measured in
    seconds of driver time per iteration)."""

    def code_for(s_idx: int):
        sub = F.slice(F.col(vec_col), s_idx * d_sub + 1, d_sub)
        cb_s = lit_matrix(books[s_idx])
        scored = F.transform(
            cb_s,
            lambda cw, i: F.struct(l2sq(sub, cw).alias("d2"), i.alias("cid")),
        )
        return F.array_min(scored)["cid"]

    return F.array(*[code_for(s) for s in range(m_sub)])


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook_rows,
    k: int = 3,
    m_sub: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the raw query subvectors score
    against each corpus vector's RECONSTRUCTION — sum over subspaces of
    ``dot(q_sub, codeword[sub, code])`` — without ever decoding the
    corpus.  Inner-product form: on L2-normalized inputs this ranks by
    approximate cosine.

    Scale shape: queries broadcast against the corpus CODES scan (the
    compressed table — the whole point of PQ); each corpus row decodes
    its reconstruction ONCE (m_sub literal lookups per row, not per
    pair), then pair scoring is one plain dot — the Spark translation
    of FAISS's per-query LUT trick, which likewise hoists the
    per-codeword work out of the pair loop.
    """
    books = _pq_books_by_sub(codebook_rows)
    recon = F.concat(
        *[
            F.element_at(
                lit_matrix(books[s]),
                F.element_at("codes", s + 1) + 1,
            )
            for s in range(m_sub)
        ]
    )
    decoded = corpus_codes.select(
        F.col("_id").alias("neighbor_id"), recon.alias("recon")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    pairs = decoded.join(F.broadcast(qv)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", dot(F.col("qv"), F.col("recon")).alias("adc_ip")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_ip").desc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)


def pq_rerank_topk(
    corpus_codes: DataFrame,
    corpus_vecs: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebook_rows,
    k: int = 3,
    shortlist: int = 32,
    m_sub: int = 8,
    d_sub: int = 8,
) -> DataFrame:
    """PQ search the way production systems run it: the compressed-
    domain ADC scan produces a SHORTLIST (cheap — bytes/vector is tiny),
    then only shortlist rows fetch their raw vectors for an exact
    cosine re-rank.  Distortion then only costs recall when a true
    neighbor falls outside the shortlist entirely — on random 64-d test
    vectors this lifts recall@3 from ~0.2 (raw ADC ranks) to ~0.8.

    Scale shape: the ADC stage scans only the codes table; the re-rank
    joins shortlist ids back to the vector table — an equi-join
    touching ``n_queries * shortlist`` rows, not the corpus."""
    sl = pq_adc_topk(
        corpus_codes, queries, id_col, vec_col, codebook_rows,
        k=shortlist, m_sub=m_sub, d_sub=d_sub,
    ).select("query_id", "neighbor_id")
    nv = corpus_vecs.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("nv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    cand = sl.join(nv, "neighbor_id").join(F.broadcast(qv), "query_id")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("qv"), F.col("nv"))
            / (norm(F.col("qv")) * norm(F.col("nv")))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).filter(F.col("rank") <= k)
