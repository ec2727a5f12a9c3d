"""Deduplication operators.

Reference parity (SURVEY.md section 2.5):

- W1 intra-batch dedup: ``ROW_NUMBER() OVER (PARTITION BY
  transaction_id, updated_at ORDER BY transaction_id)`` keep rn=1
  (``validate_bronze.py:114-168``) — removes exact duplicate key rows
  before MERGE so the upsert has unique source keys.
- W2 latest-version dedup (CDC collapse): ``ROW_NUMBER() OVER
  (PARTITION BY transaction_id ORDER BY updated_at DESC)`` keep rn=1
  (``validate_silver.py:121-129``).

Plus the large-scale training-data dedup family (exact hash, MinHash+
LSH, SimHash, n-gram Jaccard) the reference does not have but a 100 TB
pipeline needs.  All operators are shuffle-on-key hash partitioned —
no single-partition windows, no driver-side loops — so they scale with
the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..checkpoints import checkpoint

# broadcast-vs-partition decision shared with the TableStore MERGE
# primitives; kept under the old private name for in-module callers
from .sizing import fits_broadcast as _fits_broadcast
from .sizing import prefer_broadcast_payload as _prefer_broadcast_payload


def keep_first_version(
    df: DataFrame, keys: list[str], order_by: list[Column] | None = None
) -> DataFrame:
    """W1: collapse exact duplicate (key) rows, keeping one deterministic
    winner.  Partitioned window — shuffles once on ``keys`` and scales
    linearly with data (hash partitioning over the cluster).
    """
    order_by = order_by or [F.col(k) for k in keys]
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_latest(
    df: DataFrame,
    keys: list[str],
    version_col: str,
    tiebreak: list[Column] | None = None,
) -> DataFrame:
    """W2: CDC collapse — keep the most recent version per logical key.

    ``tiebreak`` columns make the winner deterministic when
    ``version_col`` ties (the reference tie-breaks on transaction_id,
    ``validate_silver.py:124``).
    """
    order = [F.col(version_col).desc()] + (tiebreak or [])
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_exact_content(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """Exact content dedup via hash-groupBy: one representative (lowest
    id) per distinct content hash.  Map-side partial aggregation makes
    this a single shuffle of (hash -> min_id) pairs, not of documents.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "content_hash")
    )


def char_shingles(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Explode text into distinct character k-shingles — the substrate
    for MinHash / Jaccard.  Pure built-in expressions (sequence +
    transform + explode), JVM-side, no Python UDF.
    """
    from ..tables import scale_out

    shingled = scale_out(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1)),
                    ),
                    lambda i: F.col(text_col).substr(i, F.lit(k)),
                )
            )
        ).alias("shingle"),
    )
    return shingled


#: modulus of the affine min-hash family (2^31 - 1, prime).
MH_PRIME = 2147483647


def minhash_seeds(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) coefficients for the affine family
    h_i(x) = (a_i * x + b_i) mod MH_PRIME — fixed integer recurrence,
    no RNG, identical literals embedded in the Spark plan and the
    oracle SQL."""
    return [
        (
            ((2 * i + 1) * 2654435761) % MH_PRIME,
            (i * 40503 + 7) % MH_PRIME,
        )
        for i in range(n_hashes)
    ]


def minhash_signatures(
    shingles: DataFrame, id_col: str, n_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document: ONE md5 per shingle provides a
    28-bit base value x (7 hex chars -> BIGINT); each hash function is
    the affine map h_i(x) = (a_i*x + b_i) mod (2^31-1), so the family
    costs one cryptographic hash + n cheap integer ops per shingle
    instead of n md5 calls (measured ~2x on the signature stage), and
    signatures shuffle as BIGINTs (4x smaller than md5 hex strings).
    a_i*x < 2^59 — no 64-bit overflow; arithmetic is exactly
    reproducible in ANSI SQL for the oracle.

    Plan shape: hashes computed inline under the groupBy — map-side
    partial MIN aggregation collapses each partition to one row per
    (doc, hash_fn) BEFORE the shuffle, so the exchange carries only
    signatures, never shingles.  (A hash-distinct-vocab-then-join
    variant was measured 2-10x slower here: the extra join + wide
    shuffle dwarfs the hash cost.)
    """
    base = F.conv(F.substring(F.md5(F.col("shingle")), 1, 7), 16, 10).cast(
        "bigint"
    )
    hashed = shingles.select(F.col(id_col), base.alias("hx"))
    aggs = [
        F.min((F.lit(a) * F.col("hx") + F.lit(b)) % MH_PRIME).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_seeds(n_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into bands of ``band_size``
    hashes, bucket-join docs sharing any band.  The join is an
    equi-join on (band_idx, band_key) — hash-partitioned, broadcast-free,
    and skew-safe under AQE.  Returns candidate (id_a < id_b) pairs.

    ``max_bucket``: skip buckets holding more than this many docs
    before the self-join.  The pair list is QUADRATIC in bucket size —
    a 10x corpus rehearsal measured 99x pair growth (1.27M -> 126M)
    and an 89x wall-clock blow-up driven by a handful of mega-buckets
    (boilerplate/common-template clusters).  Those buckets' members
    are trivially near-dups; enumerating their pairs is wasted work —
    route them through the linear ``minhash_band_incidence`` +
    connected-components path instead.  ``None`` keeps the exact
    uncapped semantics (the oracle-replicated baseline).
    """
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.explode(bands).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")
    if max_bucket is not None:
        # one extra agg + semi-join on the SAME key the self-join
        # shuffles on (co-partitioned, no new exchange pattern); the
        # window-function alternative would sort inside every bucket
        small = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
        banded = banded.join(small, ["band_idx", "band_key"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def minhash_band_incidence(
    signatures: DataFrame, id_col: str, n_hashes: int = 16, band_size: int = 2
) -> DataFrame:
    """LSH banding as an ``(id, bucket)`` incidence list — one row per
    (doc, band), so LINEAR in corpus size.  The clique-expanded
    candidate-pair list (:func:`minhash_candidate_pairs`) is quadratic
    in bucket size; when the consumer only needs connectivity (dedup
    clustering), propagating labels through the bucket nodes gives the
    same components without ever materializing the self-join."""
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.col(f"mh_{b * band_size + j}").cast("string")
                    for j in range(band_size)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("bucket")
    )


def connected_components_groups(
    incidence: DataFrame,
    ids: DataFrame,
    id_col: str,
    group_col: str = "bucket",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components where every group is a clique (LSH buckets,
    shared-key blocks): min-label propagation over the BIPARTITE
    (id, group) incidence instead of the clique-expanded edge list.

    Identical components to :func:`connected_components` over the
    pair expansion — one id->group->id round trip per iteration is
    exactly one hop in the pair graph — but each iteration joins the
    linear-sized incidence list, not the quadratic pair list, and the
    O(k^2)-per-bucket band self-join is never run at all.  This is the
    corpus-scale shape: a hot bucket of 10^4 docs contributes 10^4
    incidence rows instead of 10^8 pairs.

    Per iteration: incidence |><| labels -> per-group MIN (the group's
    candidate label) -> per-id MIN over its groups.  Both aggregations
    have map-side partial combine; the group-min table is at most one
    row per group and is broadcast when small.  Rounds past
    ``_JUMP_FROM`` finish with the same pointer-jumping shortcut as
    :func:`connected_components` (label <- label(label); identical
    fixed point, O(log diameter) rounds instead of O(diameter) — see
    the rationale and the gating note there)."""
    inc = (
        incidence.select(
            F.col(id_col).alias("id"), F.col(group_col).alias("grp")
        )
        .distinct()
        .transform(checkpoint)
    )
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ).transform(checkpoint)
    bcast = _fits_broadcast(labels)
    for rnd in range(max_iterations):
        grp_min = (
            inc.join(F.broadcast(labels) if bcast else labels, "id")
            .groupBy("grp")
            .agg(F.min("component").alias("grp_comp"))
        )
        nbr_min = (
            inc.join(F.broadcast(grp_min) if bcast else grp_min, "grp")
            .groupBy("id")
            .agg(F.min("grp_comp").alias("nbr_comp"))
        )
        labels, changed = _finish_cc_round(
            labels, nbr_min, bcast, jump=rnd >= _JUMP_FROM
        )
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components_groups did not converge in {max_iterations} iterations"
    )


#: first round index that pays the pointer-jump hop join.  LSH dedup
#: graphs are usually shallow (bucket cliques chained through shared
#: docs: 2-4 propagation rounds), and for them the per-round hop join
#: costs more than the rounds it saves — the r15 driver stamps showed
#: the always-jump loop consistently slower on the shallow-graph
#: consumers (cluster_best_doc +34%) while the deep embedding graph
#: (semantic_dedup, diameter ~14) got faster.  Gating by round index
#: keeps both: the first rounds are plain propagation (shallow graphs
#: converge there and never pay the hop), and any graph still moving
#: at the gate has real diameter, so jumping engages and convergence
#: stays O(log diameter).  The fixed point is unchanged either way —
#: a plain round is ordinary min-label propagation.
#:
#: Gate placement (r16 three-arm interleaved A/B, best-of-3 noop):
#: at 2, the 3-4-round LSH graphs still paid hop joins in rounds 2-3
#: (dup_clusters 3.68 vs 3.24 never-jump); at 4 the shallow keys match
#: never-jump (3.29/3.40 vs 3.24/3.37) while the deep graph keeps its
#: win (semantic_dedup 4.62 vs 5.99 never-jump, 5.36 jump-at-2).  A
#: graph that needs >4 plain rounds has diameter where O(log d)
#: dominates, so later engagement loses nothing asymptotically.
_JUMP_FROM = 4


def _finish_cc_round(labels, nbr_min, bcast, jump):
    """Shared tail of one CC round: fold the neighbour minimum into the
    labels, optionally pointer-jump (label <- label(label)), observe
    the changed-row count on the checkpoint action itself (r15: one
    driver job per round, not checkpoint + count).  Returns
    ``(new_labels, n_changed)``."""
    nxt = F.least(
        F.col("component"),
        F.coalesce(F.col("nbr_comp"), F.col("component")),
    )
    half = labels.join(nbr_min, "id", "left").select(
        "id", F.col("component").alias("__old"), nxt.alias("__c1")
    )
    if jump:
        # pointer jump: component <- label(component).  __c1 values are
        # node ids, so every jump target exists in `half`; the left
        # join cannot lose rows and coalesce is only belt-and-braces.
        hop = half.select(
            F.col("id").alias("__jid"), F.col("__c1").alias("__c2")
        )
        fin = F.least(
            F.col("__c1"), F.coalesce(F.col("__c2"), F.col("__c1"))
        )
        folded = half.join(
            F.broadcast(hop) if bcast else hop,
            F.col("__c1") == F.col("__jid"),
            "left",
        )
    else:
        fin = F.col("__c1")
        folded = half
    obs = Observation()
    new_labels = (
        folded.select(
            "id",
            fin.alias("component"),
            (fin < F.col("__old")).alias("__changed"),
        )
        .observe(
            obs,
            F.sum(F.col("__changed").cast("long")).alias("n_changed"),
        )
        .transform(checkpoint)
    )
    changed = int(obs.get["n_changed"] or 0)
    return new_labels.drop("__changed"), changed




def _pair_lookup_join(
    candidates: DataFrame, a: DataFrame, b: DataFrame, broadcast_sides: bool
) -> DataFrame:
    """Join per-doc payload tables onto (id_a, id_b) candidate pairs.

    ``broadcast_sides=True``: two broadcast hash joins — zero shuffle,
    correct while the payload table fits in executor memory.
    ``False``: the corpus-scale path — shuffle-hash equi-joins that
    hash-partition candidates and payloads on the id.  SHUFFLE_HASH is
    hinted explicitly: a sort-merge join would sort rows carrying
    multi-KB array payloads, paying the payload cost log n times.

    The broadcast branch spreads ``candidates`` to cluster parallelism
    first (guide §2.5/§2.6 straggler class): the pair list usually
    arrives from an AQE-coalesced DISTINCT, and AQE sizes partitions
    by BYTES — a pair row is 16 bytes but costs a ~1k-element hash-set
    intersection downstream, so the byte-sized layout (1-2 partitions
    at sf0.1) serialized the whole verify stage on one core (measured
    6.6 s of an 11.1 s key in one task; 2.8 s -> 1.0 s in a
    contended A/B).  Broadcast joins add no exchange of their own, so
    without the explicit spread the single-partition layout survives
    to the intersect.  The repartition moves only the tiny pair rows
    and is shuffle-count-neutral at corpus scale where the
    partitioned (SHUFFLE_HASH) branch engages instead."""
    if broadcast_sides:
        spread = candidates.repartition(
            candidates.sparkSession.sparkContext.defaultParallelism
        )
        return spread.join(F.broadcast(a), "id_a").join(F.broadcast(b), "id_b")
    return (
        candidates.join(a.hint("shuffle_hash"), "id_a")
        .join(b.hint("shuffle_hash"), "id_b")
    )


def minhash_agreement_filter(
    candidates: DataFrame,
    signatures: DataFrame,
    id_col: str,
    n_hashes: int,
    min_agree: int,
    broadcast_sets: bool | None = None,
) -> DataFrame:
    """Sketch precision filter between LSH recall and exact verify:
    keep candidate pairs whose signatures agree on >= ``min_agree`` of
    ``n_hashes`` positions (agreement/n is an unbiased Jaccard
    estimate) — measured ~10x candidate reduction on the self-similar
    sf0.1 documents corpus before the expensive exact intersection.

    ``broadcast_sets``: True = broadcast the signature tables (right
    while docs ≪ executor memory), False = hash-partitioned
    shuffle join (the 100 TB path), None = decide by Catalyst size
    estimate."""
    sa = signatures.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)],
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)],
    )
    agree = sum(
        [
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        ],
        F.lit(0),
    )
    if broadcast_sets is None:
        broadcast_sets = _prefer_broadcast_payload(sa, candidates)
    return (
        _pair_lookup_join(candidates, sa, sb, broadcast_sets)
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= min_agree)
        .select("id_a", "id_b")
    )


def minhash_jaccard_estimates(
    candidates: DataFrame,
    signatures: DataFrame,
    id_col: str,
    n_hashes: int,
    broadcast_sets: bool | None = None,
) -> DataFrame:
    """Per-pair sketch Jaccard estimate: agreement/n_hashes over the
    MinHash signature positions — the unbiased estimator that
    :func:`minhash_agreement_filter` thresholds, exposed as a value so
    sketch quality can be EVALUATED against the exact intersection
    (est vs exact error stats are the knob-tuning evidence for band
    size / hash count at corpus scale).

    Returns (id_a, id_b, n_agree BIGINT, est_jaccard DOUBLE); same
    join shape and broadcast policy as the filter."""
    sa = signatures.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(n_hashes)],
    )
    sb = signatures.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(n_hashes)],
    )
    agree = sum(
        [
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(n_hashes)
        ],
        F.lit(0),
    )
    if broadcast_sets is None:
        broadcast_sets = _prefer_broadcast_payload(sa, candidates)
    return (
        _pair_lookup_join(candidates, sa, sb, broadcast_sets)
        .withColumn("n_agree", agree.cast("bigint"))
        .select(
            "id_a",
            "id_b",
            "n_agree",
            (F.col("n_agree").cast("double") / F.lit(float(n_hashes))).alias(
                "est_jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    broadcast_sets: bool | None = None,
    allow_quadratic: bool = False,
    quadratic_row_limit: int = 10_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for (candidate) pairs.

    Plan shape: per-doc shingle SETS (one shuffle), then candidate
    pairs join the two set arrays and intersect JVM-side with
    ``array_intersect`` (hash-set, O(n+m) per pair).  This deliberately
    avoids the classic shingle self-join, whose cost is
    sum(df(shingle)^2) and explodes on corpora with shared vocabulary
    (measured 1.5e9 joined rows on the sf0.1 documents table).

    Sets are stored as ``xxhash64(shingle)`` longs: integer hash-set
    intersection is several times cheaper than UTF8 string sets, the
    broadcast shrinks ~4x, and the intersection size is unchanged
    except under a 64-bit collision within one pair's union
    (p ~ 1e-13 — negligible even for an oracle comparison).

    Without ``candidates`` an all-pairs id cross join is used — the
    exactness baseline for small inputs only; at scale always feed LSH
    candidates (plus :func:`minhash_agreement_filter` for precision).
    To guard against accidental O(n^2) plans on real corpora, the
    all-pairs default refuses inputs above ``quadratic_row_limit`` ids
    unless ``allow_quadratic=True`` is passed explicitly.
    Returns (id_a, id_b, jaccard) above threshold.
    """
    sh = char_shingles(df, text_col, id_col, k)
    # eagerly materialized: both broadcast sides below consume this
    # doc-sized table, and each broadcast job would otherwise recompute
    # the full shingle aggregation (the dominant cost of the operator)
    sets = sh.groupBy(id_col).agg(
        F.collect_set(F.xxhash64("shingle")).alias("sh_set")
    ).transform(checkpoint)
    if candidates is None:
        ids = df.select(F.col(id_col))
        if not allow_quadratic:
            n_ids = ids.limit(quadratic_row_limit + 1).count()
            if n_ids > quadratic_row_limit:
                raise ValueError(
                    f"ngram_jaccard_pairs: candidates=None builds an all-pairs "
                    f"cross join, and the input has more than "
                    f"{quadratic_row_limit} ids — feed LSH candidates "
                    f"(minhash_lsh_candidate_pairs) or pass "
                    f"allow_quadratic=True to accept the O(n^2) plan."
                )
        candidates = (
            ids.select(F.col(id_col).alias("id_a"))
            .crossJoin(ids.select(F.col(id_col).alias("id_b")))
            .filter(F.col("id_a") < F.col("id_b"))
        )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("set_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("set_b"))
    # Two execution strategies for attaching the per-doc set tables
    # (``broadcast_sets``: None = pick by Catalyst size estimate):
    # - broadcast: zero-shuffle, right while the set table fits in
    #   executor memory (the sf0.1 case — the array payloads push the
    #   size ESTIMATE past Spark's auto-broadcast threshold, so the
    #   hint is explicit);
    # - partitioned: candidates and sets hash-partitioned on the id
    #   via SHUFFLE_HASH joins (never sort-merge: SMJ would sort rows
    #   carrying multi-KB arrays) — the corpus-scale path where a
    #   broadcast would OOM the executors.
    if broadcast_sets is None:
        broadcast_sets = _prefer_broadcast_payload(a, candidates)
    return (
        _pair_lookup_join(candidates, a, b, broadcast_sets)
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str,
    max_iterations: int = 50,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over near-dup
    ``(id_a, id_b)`` pairs by iterative min-label propagation.  Returns
    ``(id, component)`` where component = the smallest id reachable
    through the pair graph (singletons map to themselves), i.e. the
    canonical representative every corpus-dedup pipeline keeps.

    Plan shape per iteration: one equi-join of the symmetric edge list
    against current labels + a min-aggregation — all hash-partitioned
    on id, no driver-side graph state, so it scales like any shuffle
    join (this is the standard label-propagation CC used at corpus
    scale; GraphFrames' algorithm is the same idea plus star
    contractions).  Each iteration is ``localCheckpoint``-ed: the
    iterated plan otherwise grows exponentially.

    Rounds past ``_JUMP_FROM`` do edge propagation THEN pointer
    jumping (``label <- label(label)``, the shortcutting half of
    classic parallel CC): labels are monotonically decreasing node ids
    bounded by the component minimum, jumping only follows
    already-established same-component links, and the loop exits on
    the same nothing-changed criterion — so the fixed point (min
    reachable id) is identical while convergence drops from
    O(diameter) to O(log diameter) rounds.  The r15 job trace measured
    the propagation-only loop at 14 rounds x ~7 driver jobs on the
    sf0.1 embedding graph (chained hub-star clusters have real
    diameter); each round is driver-latency-bound at any scale, so
    halving rounds matters more than per-round task work.  Shallow
    graphs converge before the gate opens and never pay the hop join
    (see ``_JUMP_FROM``)."""
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .transform(checkpoint)
    )
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ).transform(checkpoint)
    # labels are one row per doc — usually broadcastable, which keeps
    # the (much larger) edge table in place with zero shuffle on the
    # join side; fall back to a shuffled join at corpus scale
    bcast_labels = _fits_broadcast(labels)
    for rnd in range(max_iterations):
        lab_dst = labels.select(
            F.col("id").alias("dst"), F.col("component").alias("dst_comp")
        )
        nbr_min = (
            sym.join(F.broadcast(lab_dst) if bcast_labels else lab_dst, "dst")
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .withColumnRenamed("src", "id")
        )
        labels, changed = _finish_cc_round(
            labels, nbr_min, bcast_labels, jump=rnd >= _JUMP_FROM
        )
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def simhash_bits(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """SimHash with a <=60-bit signature carried as signed BIGINT.

    Per whitespace token, hash = first ``bits/4`` hex chars of md5 as a
    BIGINT (cross-engine: DuckDB ``('0x'||substr(md5(t),1,n))::BIGINT``);
    per bit, sum +1/-1 across tokens; sign -> bit.  Plain bigint bitwise
    ops (shiftright/&) — cheaper than the decimal path of
    :func:`simhash64` and exactly mirrorable in ANSI SQL, at the cost of
    a shorter signature (32 bits is plenty for banded candidate search;
    use 64 for final hamming verification).
    """
    from ..tables import scale_out

    assert bits % 4 == 0 and bits <= 60
    tokens = scale_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # md5+conv inline per token occurrence, ONE groupBy on the doc id:
    # map-side partial aggregation collapses each partition to one
    # 32-sum row per doc before the exchange, so the single shuffle
    # carries signatures, never tokens.  Two alternatives were
    # interleaved-A/B'd in r15 and lost: the original
    # hash-distinct-vocab-then-join (2.27/2.29 s vs this arm's
    # 1.28/1.83 s on the two simhash keys — its distinct + join
    # shuffles and double text explode dwarf the saved md5 calls, the
    # same finding as :func:`minhash_signatures`) and a per-(doc,
    # token) count pre-collapse (1.59/2.16 s — the extra (id, tok)
    # shuffle costs more than the duplicate-token hashing it saves).
    # sum(+-1 per occurrence) equals the frequency-weighted sum(+-n)
    # bit-exactly.
    h = F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast(
        "bigint"
    )
    hashed = tokens.select(F.col(id_col), h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"b_{b}")
        for b in range(bits)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_sums)
    sig = sums.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"b_{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
                for b in range(bits)
            ],
            F.lit(0),
        )
        .cast("bigint")
        .alias("simhash"),
    )
    return sig


def simhash_hamming_pairs(
    signatures: DataFrame,
    id_col: str,
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, found at scale via
    band-bucketing: split the signature into ``n_bands`` contiguous bit
    bands; any pair within hamming distance < n_bands must share at
    least one exact band (pigeonhole), so the candidate join is an
    equi-join on (band_idx, band_value) — hash-partitioned, no cross
    join.  Returns (id_a, id_b, hamming) with hamming <= max_hamming.
    """
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col("simhash"), i * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for i in range(n_bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("band")
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    if max_bucket is not None:
        # same quadratic-bucket guard as minhash_candidate_pairs
        small = (
            banded.groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
        banded = banded.join(small, ["band_idx", "band_val"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash over whitespace tokens.

    Per token take the first 16 hex chars of md5 as a 64-bit fingerprint;
    per bit, sum +1/-1 across tokens; sign -> bit.  Entirely built-in
    expressions (explode + bitwise ops + groupBy), one shuffle on id.
    Near-dup detection = hamming distance on the signature
    (``bit_count(simhash_a ^ simhash_b)``).
    """
    from ..tables import scale_out

    tokens = scale_out(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"[ \t\n\x0B\f\r]+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # md5 prefix (16 hex chars) -> unsigned 64-bit value carried as
    # decimal(20,0): conv() returns a decimal string, and decimal math
    # avoids signed-bigint overflow on the high bit
    hashed = tokens.select(
        F.col(id_col),
        F.conv(F.substring(F.md5("tok"), 1, 16), 16, 10)
        .cast("decimal(20,0)")
        .alias("h_dec"),
    )
    # extract each bit via div/mod on the decimal (avoids signed
    # overflow; powers of two pass as string literals — a python int
    # 2^63 overflows the py4j long protocol)
    def p2(b: int):
        return F.lit(str(2**b)).cast("decimal(20,0)")

    bit_cols = []
    for b in range(64):
        # floor (not cast: decimal cast rounds HALF_UP) then mod 2
        bit = F.floor(F.col("h_dec") / p2(b)) % 2
        bit_cols.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b_{b}")
        )
    sums = hashed.groupBy(id_col).agg(*bit_cols)
    sig = sums.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"b_{b}") > 0, p2(b)).otherwise(
                    F.lit(0).cast("decimal(20,0)")
                )
                for b in range(64)
            ],
            F.lit(0).cast("decimal(20,0)"),
        ).alias("simhash"),
    )
    return sig


def substring_dup_positions(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    algo: str = "md5",
) -> DataFrame:
    """Exact >=k-token substring dedup, position-flagging stage (the
    ExactSubstr pass of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499): flag every token
    position whose k-token gram occurs MORE THAN ONCE anywhere in the
    corpus (including a second time inside the same document — the
    paper's rule).  A single shared span of m >= k tokens flags its
    m-k+1 start positions, so the caller's gaps-and-islands pass
    recovers its length as ``run_grams + k - 1``; maximal runs in
    general are the UNION of duplicated spans, which may merge
    overlapping duplicates matching *different* sources.  The flagged
    token coverage is therefore exact (identical to what a suffix
    array flags at minimum match length k), while a per-run length is
    an upper bound on the longest single verbatim duplicate inside it
    — callers thresholding on run length (e.g. a drop-if->=20-tokens
    rule) are conservative, never lossy.

    The suffix-array construction itself is a single-machine design
    (the paper shards suffixes); the Spark-native equivalent for a
    FIXED minimum length is this sliding-gram shape — one explode
    (linear in corpus tokens), one map-side-combined occurrence count
    per gram hash, one hash equi-join back.  No pair materialization
    anywhere, so unlike the MinHash/SimHash family it needs no
    hot-bucket cap: a gram shared by a million documents costs one
    aggregate row, never a million^2 join.

    Returns ``(id_col, p, is_dup)`` — one row per gram start position
    ``p`` (0-based) of every document with >= k tokens.  The
    fixed-width ``(id, p, gh)`` frame is localCheckpoint-materialized
    internally: it feeds both the occurrence count and the join probe,
    and is far smaller than the text it derives from.

    ``algo="md5"`` (default) hashes grams with the 60-bit md5-prefix
    device shared with the dup-ngram metric (cross-engine replayable);
    ``algo="xxhash64"`` is the production knob (one JVM intrinsic per
    gram, no digest/hex/radix chain — the winnowing family's measured
    1.3-1.5x constant).
    """
    from ..tables import scale_out

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"[ \t\n\x0B\f\r]+")
    base = (
        scale_out(df.filter(F.trim(F.col(text_col)) != ""))
        .select(F.col(id_col), toks.alias("__toks"))
        .filter(F.size("__toks") >= k)
    )
    gram = F.array_join(F.slice("__toks", F.col("p") + 1, F.lit(k)), " ")
    if algo == "md5":
        gh = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("bigint")
    elif algo == "xxhash64":
        gh = F.xxhash64(gram)
    else:  # pragma: no cover - guarded knob
        raise ValueError(f"unknown gram hash algo: {algo!r}")
    pos = (
        base.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.lit(0), F.size("__toks") - k)
            ).alias("p"),
            F.col("__toks"),
        )
        .select(F.col(id_col), "p", gh.alias("gh"))
        .transform(checkpoint)
    )
    occ = pos.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
    return pos.join(occ, "gh").select(
        F.col(id_col), "p", (F.col("n_occ") >= 2).alias("is_dup")
    )
