"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k as pure array expressions
(zip_with/aggregate — JVM-side, no UDF). Scale path: LSH bucketing
(random hyperplane signs) so candidate generation is an equi-join on
bucket id instead of a full scan per query; IVF-style coarse
quantization via MLlib KMeans for the clustered variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array columns (deterministic
    summation order — same result on any partitioning).

    CONTRACT: NULL when either vector is NULL or the lengths differ,
    and never an error, with ANSI mode on or off. ``zip_with`` pads
    the shorter array with NULL, and a NULL product makes the whole
    fold NULL (so does a NULL element).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    ))


# Per-pair norm hoist (r12, guide §1.2/§2.3): every pair-join consumer
# below computes cosine as _cosine(a, b, na, nb). norm() is an O(dim)
# array fold + intermediate allocation, and evaluated INSIDE the join
# output it runs once per PAIR — for the bucket/cluster self-joins the
# pair count is quadratic in bucket occupancy, so at corpus scale the
# two norm folds triple the per-pair CPU (6 array traversals + 3 temp
# arrays instead of 2 + 1). Hoisting norm into the per-ROW projection
# below the join makes it O(n) total and leaves the pair side exactly
# one dot fold. Bit-identical by construction: the hoisted column is
# the SAME expression over the SAME double array, and the pair-side
# arithmetic keeps the same operand order (norm_a * norm_b), so every
# cosine — and every rounded/thresholded consumer — is unchanged
# (oracle-pinned at two SFs for all nine consumers).


def _cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of vectors ``a`` and ``b`` whose norms are ``na`` and
    ``nb``: :func:`dot` under the same contract, and also NULL when a
    norm is 0 (an all-zero vector has no direction), with ANSI mode
    on or off. ``try_divide`` divides a nonzero divisor exactly as
    ``/`` does."""
    return F.try_divide(dot(a, b), na * nb)


def cosine_to_query(
    df: DataFrame, vec_col: str, query: list[float], out_col: str = "cosine"
) -> DataFrame:
    """Append cosine similarity of every row's vector to a constant
    query vector. One projection — scans the table once; Catalyst
    prunes to (id, vec)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    v = _vec(vec_col)
    return df.withColumn(out_col, _cosine(v, q, norm(v), norm(q)))


def brute_force_top_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k nearest (cosine) rows to a query vector.

    Per-partition top-k then global merge: expressed as an orderBy +
    limit, which Spark executes with TakeOrderedAndProject (no full
    sort/shuffle of the table). Deterministic tiebreak on id.
    """
    scored = cosine_to_query(df, vec_col, query, "cosine")
    return (
        scored.select(id_col, F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def all_pairs_top_k(
    df: DataFrame, vec_col: str, id_col: str, k: int = 5, block: DataFrame | None = None
) -> DataFrame:
    """For every vector: its k nearest neighbors among all others
    (brute-force crossJoin — O(n²), the exactness baseline; use
    :func:`lsh_bucketed_neighbors` at scale). Output
    (id_a, id_b, cosine) with rank ≤ k per id_a."""
    a = df.select(
        F.col(id_col).alias("id_a"), _vec(vec_col).alias("_va"),
        norm(_vec(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), _vec(vec_col).alias("_vb"),
        norm(_vec(vec_col)).alias("_nb"),
    )
    pairs = a.crossJoin(b).where(F.col("id_a") != F.col("id_b"))
    scored = pairs.withColumn(
        "cosine",
        _cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure Python LCG —
    reproducible across engines/runs; no numpy RNG state)."""
    import math
    state = seed
    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            # LCG → uniform(0,1) → Box-Muller normal
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u1 = ((state >> 11) + 1) / float(1 << 53)
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u2 = ((state >> 11) + 1) / float(1 << 53)
            v.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        n = math.sqrt(sum(x * x for x in v))
        planes.append([x / n for x in v])
    return planes


def probe_flips(
    bucket_col: Column | str, n_planes: int, probe_bits: int
) -> Column:
    """Multi-probe bucket expansion: array of the bucket id plus every
    XOR flip of up to ``probe_bits`` plane bits (Hamming ball). The
    mask list is driver-side (n_planes is small) and broadcast inside
    the literal array; explode it and equi-join against un-exploded
    buckets. Shared by lsh_multi_probe_neighbors and lsh_recall_at_k
    so the probe-expansion logic cannot drift between the retriever
    and its measurement harness."""
    from itertools import combinations

    b = F.col(bucket_col) if isinstance(bucket_col, str) else bucket_col
    masks = [
        sum(1 << p for p in bits)
        for d in range(1, min(probe_bits, n_planes) + 1)
        for bits in combinations(range(n_planes), d)
    ]
    return F.array(
        b, *[b.bitwiseXOR(F.lit(m).cast("long")) for m in masks]
    )


def lsh_bucket(
    vec_col: Column | str,
    planes: list[list[float]],
    round_digits: int | None = None,
) -> Column:
    """Sign-LSH bucket id: bit i = (v · plane_i > 0). Long column.

    ``round_digits`` rounds each dot product before the sign test —
    used by the cross-engine oracle so a last-ulp summation difference
    near zero cannot flip a bit. Production leaves it None."""
    v = _vec(vec_col)
    acc = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        q = F.array(*[F.lit(float(x)) for x in p])
        d = dot(v, q)
        if round_digits is not None:
            d = F.round(d, round_digits)
        bit = F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        acc = acc + bit * F.lit(2 ** i).cast("long")
    return acc


def embedding_near_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    threshold: float,
    round_digits: int | None = 6,
) -> DataFrame:
    """End-to-end embedding near-duplicate REMOVAL — the cosine
    analogue of dedup.near_dedup: sign-LSH bucketed cosine pairs →
    connected components (pointer doubling) → keep the lowest-id
    vector per cluster; vectors in no pair survive untouched. Every
    stage is a bucketed equi-join or a bounded label join — never
    all-pairs. Returns the kept rows of ``df``.
    """
    from openoa_spark.datapipe.dedup import connected_components

    pairs = cosine_near_dup_pairs(
        df, vec_col, id_col, planes, threshold, round_digits
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def lsh_recall_at_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    k: int = 3,
    query_fraction: float = 0.1,
    seed: int = 5,
    hash_fn: str = "md5",
    round_digits: int | None = None,
    max_queries: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """Measured recall@k of sign-LSH kNN against exact kNN on a
    deterministic sample of query points — the "measure, don't guess"
    harness for the ANN layer: before shipping an index config
    (planes/bands), quantify what it actually retrieves.

    Scale shape: queries are a hash-sample (pure function of the id —
    reproducible), so the exact ground truth is |Q|×n scored pairs via
    a BROADCAST of the small query side (never n², never a global
    index scan), and the LSH side reuses the bucketed equi-join. The
    panel must stay broadcast-small BY CONTRACT: at corpus scale set
    ``query_fraction`` tiny and/or ``max_queries`` (deterministic
    lowest-ids cap) so |Q| is hundreds, which is how recall panels are
    sized in practice. Output per query id: (id_a, n_hit, recall) with
    both rankings on round-6 cosine + id tiebreak
    (engine-deterministic).
    """
    from openoa_spark.datapipe.sampling import hash_sample

    queries = hash_sample(
        df.select(F.col(id_col), _vec(vec_col).alias("_qv")),
        id_col, query_fraction, seed=seed, hash_fn=hash_fn,
    ).select(
        F.col(id_col).alias("id_a"), "_qv",
        norm(F.col("_qv")).alias("_qn"),
    )
    if max_queries is not None:
        queries = queries.orderBy("id_a").limit(max_queries)
    # broadcast-small panel consumed by BOTH the exact ground-truth
    # join and the approximate side's semi-join; lazy cut so the
    # corpus scan + hash filter behind it run once (r11: 5/5
    # interleaved pairs faster at sf0.1)
    queries = queries.localCheckpoint(eager=False)

    # exact ground truth: |Q| x n scored pairs, query side broadcast;
    # norms hoisted per row (see norm() note) — the |Q|×n NLJ output
    # pays one dot fold per pair, not dot + two norm folds
    base = df.select(
        F.col(id_col).alias("id_b"), _vec(vec_col).alias("_v"),
        norm(_vec(vec_col)).alias("_n"),
    )
    exact_pairs = (
        base.join(F.broadcast(queries), F.col("id_a") != F.col("id_b"))
        .withColumn(
            "cosine6",
            F.round(
                _cosine(F.col("_qv"), F.col("_v"), F.col("_qn"), F.col("_n")),
                6,
            ),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine6"), F.asc("id_b"))
    exact_top = (
        exact_pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b")
    )

    if probe_bits > 0:
        # measure the MULTI-PROBE retriever: only the query panel
        # explodes across Hamming-<=probe_bits bucket flips (the SAME
        # probe_flips expansion the retriever uses); the corpus side
        # stays un-exploded, join stays an equi-join
        bucketed = df.select(
            F.col(id_col).alias("_bid"),
            _vec(vec_col).alias("_bv"),
            norm(_vec(vec_col)).alias("_bn"),
            lsh_bucket(vec_col, planes, round_digits=round_digits).alias(
                "_bucket"
            ),
        )
        qside = bucketed.join(
            F.broadcast(queries.select(F.col("id_a").alias("_bid"))), "_bid"
        ).withColumn(
            "_probe",
            F.explode(probe_flips("_bucket", len(planes), probe_bits)),
        )
        approx_pairs = (
            qside.alias("a")
            .join(
                bucketed.alias("b"),
                F.col("a._probe") == F.col("b._bucket"),
            )
            .where(F.col("a._bid") != F.col("b._bid"))
            .select(
                F.col("a._bid").alias("id_a"),
                F.col("b._bid").alias("id_b"),
                _cosine(
                    F.col("a._bv"), F.col("b._bv"),
                    F.col("a._bn"), F.col("b._bn"),
                ).alias("cosine"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        approx_pairs = _bucketed_cosine_pairs(
            df, vec_col, id_col, planes, round_digits=round_digits,
            ordered=True,
        ).join(F.broadcast(queries.select("id_a")), "id_a")
    approx_top = (
        approx_pairs.withColumn("cosine6", F.round("cosine", 6))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b", F.lit(1).alias("_hit"))
    )

    return (
        exact_top.join(approx_top, ["id_a", "id_b"], "left")
        .groupBy("id_a")
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).cast("bigint").alias("n_hit"))
        .select(
            "id_a",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(k)), 6).alias("recall"),
        )
    )


def _bucketed_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    round_digits: int | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Shared candidate-pair scaffolding for every sign-LSH consumer:
    bucketize, self-equi-join on bucket id (shuffle ∝ bucket sizes,
    never all-pairs), exact cosine inside the bucket.

    ``ordered=True`` keeps both (a,b) and (b,a) — per-id top-k needs
    every id on the left; ``ordered=False`` keeps each unordered pair
    once via id_a < id_b — the dedup shape. Output: (id_a, id_b,
    cosine) with cosine UNrounded; callers round for their contract.
    """
    # _n inside the checkpointed projection: one norm fold per ROW,
    # stored with the row, so the (potentially quadratic) pair side
    # below reads a scalar instead of re-folding both arrays per pair
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        _vec(vec_col).alias("_v"),
        norm(_vec(vec_col)).alias("_n"),
        lsh_bucket(vec_col, planes, round_digits=round_digits).alias("_bucket"),
    ).localCheckpoint(eager=False)
    # lazy cut (r11): the self-join sides never canonicalize to a
    # reused exchange, so without it the scan AND the per-row
    # len(planes)-dot-product bucketize evaluate twice; measured 4/5
    # and 5/5 interleaved pairs faster on the near-dup and kNN
    # consumers at sf0.1 (the plane fold dominates, unlike a bare
    # scan where a barrier can lose — see q2's rejected receipt)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cond = (
        F.col("a._id") != F.col("b._id")
        if ordered
        else F.col("a._id") < F.col("b._id")
    )
    return (
        a.join(b, F.col("a._bucket") == F.col("b._bucket"))
        .where(cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            _cosine(
                F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
            ).alias("cosine"),
        )
    )


def lsh_bucketed_neighbors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate per-vector top-k: candidates limited to the same
    sign-LSH bucket, then exact cosine within bucket. The self-join is
    an equi-join on bucket id → shuffle-partitioned by bucket, linear
    in bucket sizes (the 100 TB path; recall tunable via n_planes and
    multi-probe union)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    pairs = _bucketed_cosine_pairs(df, vec_col, id_col, planes, ordered=True)
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def lsh_multi_probe_neighbors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_planes: int = 8,
    n_probe_bits: int = 1,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: each vector also probes every bucket
    within Hamming distance ``n_probe_bits`` of its own (all bit-flip
    combinations of up to that many planes), recovering pairs that a
    hyperplane split separated — the standard recall fix without
    adding tables.

    Probe side explodes to sum_{i<=n_probe_bits} C(n_planes, i) rows
    per vector, joined against the un-exploded bucket side, so the
    join stays an equi-join on bucket id (shuffle ∝ probes, never
    all-pairs).
    """
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    bucketed = df.select(
        F.col(id_col).alias("_id"),
        _vec(vec_col).alias("_v"),
        norm(_vec(vec_col)).alias("_n"),
        lsh_bucket(vec_col, planes).alias("_bucket"),
    )
    if n_probe_bits < 1:
        probes = bucketed.withColumn("_probe", F.col("_bucket"))
    else:
        probes = bucketed.withColumn(
            "_probe",
            F.explode(probe_flips("_bucket", n_planes, n_probe_bits)),
        )
    a = probes.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(b, F.col("a._probe") == F.col("b._bucket"))
        .where(F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            _cosine(
                F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
            ).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def ivf_neighbors(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: MLlib KMeans coarse quantization,
    then exact cosine within each vector's ``n_probe`` nearest
    centroids. The candidate join is an equi-join on centroid id —
    shuffle ∝ n_probe·|bucket|, never all-pairs; centroids broadcast.

    The index-build (KMeans fit) is distributed; assignment + probe
    selection are pure column expressions over the broadcast centroid
    literals, so search composes with any upstream filter.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("_id"),
        _vec(vec_col).alias("_v"),
        array_to_vector(_vec(vec_col)).alias("_features"),
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_features").fit(feats)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]

    def dist2(center):
        ca = F.array(*[F.lit(x) for x in center])
        diff = F.zip_with(F.col("_v"), ca, lambda x, y: x - y)
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)

    dists = F.array(*[dist2(c) for c in centers])
    ranked = F.array_sort(
        F.transform(
            dists, lambda d, i: F.struct(d.alias("d"), i.alias("cid"))
        )
    )
    assigned = feats.select(
        "_id", "_v",
        norm(F.col("_v")).alias("_n"),
        F.element_at(ranked, 1)["cid"].alias("_cluster"),
        F.slice(ranked, 1, n_probe)["cid"].alias("_probes"),
    )
    a = assigned.select(
        "_id", "_v", "_n", F.explode("_probes").alias("_probe")
    ).alias("a")
    b = assigned.select("_id", "_v", "_n", "_cluster").alias("b")
    pairs = (
        a.join(b, F.col("a._probe") == F.col("b._cluster"))
        .where(F.col("a._id") != F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            _cosine(
                F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
            ).alias("cosine"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    threshold: float,
    round_digits: int | None = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the dedup flavor of the
    LSH candidate join: pairs must share a sign-LSH bucket (equi-join
    on bucket id — shuffle ∝ bucket sizes, never all-pairs), then the
    exact cosine is evaluated inside the bucket and thresholded.

    Output: (id_a, id_b, cosine) with id_a < id_b and
    round(cosine, 6) >= threshold. ``round_digits`` rounds the plane
    dot products before the sign test so the oracle can replay bucket
    assignment bit-exactly (see lsh_bucket).

    At recall-critical thresholds, raise table count via multiple
    plane sets and union (standard banding) — each table stays an
    equi-join, so the scale shape is unchanged.
    """
    pairs = _bucketed_cosine_pairs(
        df, vec_col, id_col, planes, round_digits=round_digits, ordered=False
    )
    return (
        pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def label_centroids(
    df: DataFrame, vec_col: str, label_col: str, round_digits: int = 6
) -> DataFrame:
    """Per-label mean embedding in long form ``(label, pos, centroid)``
    — the centroid-fit step of IVF coarse quantization (and the
    reduce step of any embedding-pooling pipeline).

    Distributed shape: ``posexplode`` to (label, pos, comp) rows, then
    ONE hash aggregate on (label, pos). Partial (map-side) aggregation
    collapses every partition to <= n_labels * dim rows before the
    shuffle, so shuffle volume is O(partitions * labels * dim)
    regardless of input row count — the explode never hits the wire.

    Determinism: each component is rounded to 6 digits (exact same
    double on any engine), decimal-cast (exact), and summed in decimal
    space (exact + associative). The mean itself is then rounded to
    the 1e-6 grid in INTEGER arithmetic (micros, half away from zero)
    — dividing in double and calling round() is not cross-engine safe:
    when sum_micros % n == n/2 the true mean sits exactly on a
    rounding midpoint, which happens for 1-in-n cells, and engines
    disagree on which side the double lands (caught at sf0.1: one of
    640 cells off by 1e-6).
    """
    if round_digits != 6:
        raise ValueError("label_centroids pins the 1e-6 grid")
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(_vec(vec_col)).alias("pos", "comp"),
    )
    agg = e.groupBy("label", "pos").agg(
        (F.sum(F.round("comp", 6).cast("decimal(20,6)")) * 1_000_000)
        .cast("bigint")
        .alias("_sm"),
        F.count("comp").alias("_n"),
    )
    half_away = F.expr(
        "CASE WHEN _sm >= 0 THEN (2*_sm + _n) DIV (2*_n) "
        "ELSE -((2*(-_sm) + _n) DIV (2*_n)) END"
    )
    return agg.select(
        "label", "pos",
        (half_away.cast("double") / 1_000_000.0).alias("centroid"),
    )


def centroid_pairwise_distances(
    df: DataFrame, vec_col: str, label_col: str
) -> DataFrame:
    """L2 distance between every pair of label centroids
    ``(label_a, label_b, l2_dist)`` with label_a < label_b — the
    cluster-separation diagnostic for an IVF index (well-separated
    centroids => fewer probes for a target recall).

    The centroid table is O(labels * dim) — tiny — so the pair
    expansion is an equi-join on ``pos`` between two broadcast copies;
    the fact table is only read once, inside label_centroids. Squared
    diffs are rounded to 12 digits then decimal-summed: exact,
    order-independent, engine-independent.
    """
    c = label_centroids(df, vec_col, label_col)
    a = c.select(
        F.col("label").alias("label_a"), "pos", F.col("centroid").alias("_ca")
    )
    b = c.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("_pos_b"),
        F.col("centroid").alias("_cb"),
    )
    term = F.round((F.col("_ca") - F.col("_cb")) ** 2, 12).cast("decimal(38,12)")
    return (
        F.broadcast(a)
        .join(
            F.broadcast(b),
            (a["pos"] == b["_pos_b"]) & (a["label_a"] < b["label_b"]),
        )
        .groupBy("label_a", "label_b")
        .agg(F.round(F.sqrt(F.sum(term).cast("double")), 6).alias("l2_dist"))
    )


def incremental_embedding_dedup(
    spark,
    batch: DataFrame,
    vec_col: str,
    id_col: str,
    state_path: str,
    planes: list[list[float]],
    threshold: float,
    round_digits: int | None = 6,
    sink=None,
) -> DataFrame:
    """Cross-batch embedding near-duplicate removal — the cosine
    analogue of dedup.incremental_near_dedup for a continuously-
    embedded corpus: drop batch vectors whose cosine against ANY
    previously accepted vector in the same sign-LSH bucket reaches
    ``threshold`` (history wins), run the ordinary within-batch
    embedding_near_dedup on what remains (min-id representative per
    connected component), and append the survivors to state.

    Persistent state under ``state_path`` is ONE append-only table
    (id, bucket, vec): the cross-batch check is a bucket equi-join
    shipping only same-bucket candidates — never all-pairs — and the
    exact cosine verifies inside the bucket, exactly the batch
    operator's scale shape. Unlike the MinHash path there is no
    separate verification table, so there is no multi-table crash
    window: output lands via ``sink`` BEFORE the single state append.
    A crash between sink and append replays against unchanged state
    and overwrites the same output; a crash after the append replays
    to zero rows (each vector meets its own state row at cosine 1.0 ≥
    threshold) against an output that already landed.

    Recall matches the batch operator's single-table sign-LSH: raise
    plane-set count and union for recall-critical thresholds (each
    extra table stays a bucket equi-join).
    """
    bucketed = batch.select(
        F.col(id_col).alias("_id"),
        _vec(vec_col).alias("_v"),
        norm(_vec(vec_col)).alias("_n"),
        lsh_bucket(vec_col, planes, round_digits=round_digits).alias("_bucket"),
    )
    jvm = spark._jvm
    vecs_path = f"{state_path}/vecs"
    p = jvm.org.apache.hadoop.fs.Path(vecs_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        # history norm hoisted per history ROW (projection below the
        # join) — the state table keeps its (id, bucket, vec) schema
        hist = spark.read.parquet(vecs_path).withColumn(
            "_hn", norm(F.col("vec"))
        )
        cand = bucketed.join(
            hist, bucketed["_bucket"] == hist["bucket"]
        ).select(
            "_id",
            _cosine(
                F.col("_v"), F.col("vec"), F.col("_n"), F.col("_hn")
            ).alias("_cos"),
        )
        dup_of_history = (
            cand.where(F.round("_cos", 6) >= threshold)
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
        survivors = batch.join(dup_of_history, id_col, "left_anti")
        bucketed_surv = bucketed.join(
            dup_of_history.withColumnRenamed(id_col, "_id"), "_id",
            "left_anti",
        )
    else:
        survivors = batch
        bucketed_surv = bucketed

    # within-batch dedup reusing this batch's buckets (the plane dot
    # products are the dominant CPU; they must run once, not twice)
    from openoa_spark.datapipe.dedup import connected_components

    a, b = bucketed_surv.alias("a"), bucketed_surv.alias("b")
    pairs = (
        a.join(b, F.col("a._bucket") == F.col("b._bucket"))
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(
                _cosine(
                    F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
                ),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    accepted = survivors.join(losers, id_col, "left_anti")
    accepted = accepted.localCheckpoint(eager=True)
    if sink is not None:
        sink(accepted)
    # Materialize the state-append frame BEFORE appending: its lineage
    # reaches back through the left-anti join to the
    # spark.read.parquet(vecs_path) history scan, i.e. it would read
    # the very table it is growing mid-append — the same
    # read-your-own-append hazard the minhash (new_sig) and chunk
    # (fresh_owner) incremental paths cut with an eager checkpoint.
    state_append = (
        bucketed_surv.join(
            accepted.select(F.col(id_col).alias("_aid")),
            bucketed_surv["_id"] == F.col("_aid"),
        )
        .select(
            F.col("_id").alias("id"),
            F.col("_bucket").alias("bucket"),
            F.col("_v").alias("vec"),
        )
        .localCheckpoint(eager=True)
    )
    state_append.write.mode("append").parquet(vecs_path)
    return accepted


def embedding_pca(
    df: DataFrame,
    vec_col: str,
    k: int,
    id_col: str | None = None,
):
    """Distributed PCA over an embedding column — the dimensionality
    reduction stage before ANN indexing / clustering at corpus scale.

    Shape: each partition reduces to ONE (count, sum-vector, Gram
    matrix) row via an Arrow-batched NumPy fold (``mapInPandas`` —
    d×d floats per partition, independent of row count), the driver
    sums those partials and eigendecomposes the d×d covariance
    (d = embedding width, trivially driver-sized), and the projection
    itself is a map-only expression — no shuffle anywhere except the
    single-row partial collection.

    Determinism: eigenvector SIGN is canonicalized (largest-|.|
    component made positive) so repeated runs and different partition
    counts produce identical projections; eigenvalues are returned
    descending.

    Returns ``(projected_df, explained_variance)`` where
    ``projected_df`` carries ``pca`` (array<double>, length k) plus
    ``id_col`` (or all original columns when ``id_col`` is None), and
    ``explained_variance`` is the per-component variance list.
    """
    import numpy as np
    import pandas as pd

    first = df.select(F.size(_vec(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("embedding_pca needs a non-empty input")
    d = first["d"]

    def partial(batches):
        n = 0
        s = np.zeros(d)
        g = np.zeros((d, d))
        for pdf in batches:
            m = np.stack(pdf["_v"].to_numpy())
            n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.reshape(-1).tolist()]}
        )

    parts = (
        df.select(_vec(vec_col).cast("array<double>").alias("_v"))
        .mapInPandas(partial, "n long, s array<double>, g array<double>")
        .collect()
    )
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("embedding_pca needs at least 2 vectors")
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    g = np.sum([np.array(r["g"]).reshape(d, d) for r in parts], axis=0)
    mu = s / n
    cov = (g - np.outer(mu, s) - np.outer(s, mu) + n * np.outer(mu, mu)) / (
        n - 1
    )
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, d)
    # canonical sign: make each component's largest-|.| entry positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    evr = [float(w[o]) for o in order]

    centered = F.zip_with(
        _vec(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(x)) for x in mu]),
        lambda a, b: a - b,
    )
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    centered,
                    F.array(*[F.lit(float(x)) for x in comps[i]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for i in range(comps.shape[0])
        ]
    )
    if id_col is not None:
        out = df.select(F.col(id_col), proj.alias("pca"))
    else:
        out = df.withColumn("pca", proj)
    return out, evr


def build_ivf_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_path: str,
    n_clusters: int = 16,
    seed: int = 42,
) -> list[list[float]]:
    """Persist an IVF index for serving: distributed KMeans coarse
    quantization, then TWO parquet tables under ``index_path`` —
    ``centroids/`` (cluster_id, centroid) and ``postings/``
    (cluster_id, id, vec) PARTITIONED BY cluster id, so a query
    touching ``n_probe`` lists reads exactly those partitions
    (partition pruning does the inverted-file part; no full-index
    scan). Returns the centroid list.

    Rebuild by re-calling (overwrite). The assignment expression is
    the same broadcast-centroid argmin as ivf_neighbors, so offline
    search and the persisted index can never disagree on routing.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        F.col(id_col).alias("id"),
        _vec(vec_col).alias("vec"),
        array_to_vector(_vec(vec_col)).alias("_features"),
    )
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_features").fit(feats)
    centers = [[float(x) for x in c] for c in model.clusterCenters()]

    def dist2(center):
        ca = F.array(*[F.lit(x) for x in center])
        diff = F.zip_with(F.col("vec"), ca, lambda x, y: x - y)
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)

    ranked = F.array_sort(
        F.array(
            *[
                F.struct(dist2(c).alias("d"), F.lit(i).alias("cid"))
                for i, c in enumerate(centers)
            ]
        )
    )
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centers)],
        "cluster_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_path}/centroids")
    (
        feats.select(
            F.element_at(ranked, 1)["cid"].alias("cluster_id"), "id", "vec"
        )
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{index_path}/postings")
    )
    return centers


def query_ivf_index(
    spark,
    index_path: str,
    query: list[float],
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve a top-k query from a persisted IVF index: rank centroids
    driver-side (tiny table), push a ``cluster_id IN (...)`` filter
    into the postings scan — partition pruning reads only the
    ``n_probe`` probed lists — and score exact cosine inside them.
    Returns (id, cosine) ordered desc with id tiebreak.
    """
    centers = {
        r["cluster_id"]: r["centroid"]
        for r in spark.read.parquet(f"{index_path}/centroids").collect()
    }
    order = sorted(
        centers,
        key=lambda cid: sum(
            (q - c) ** 2 for q, c in zip(query, centers[cid])
        ),
    )
    probes = order[:n_probe]
    postings = spark.read.parquet(f"{index_path}/postings").where(
        F.col("cluster_id").isin(probes)
    )
    qa = F.array(*[F.lit(float(x)) for x in query])
    scored = postings.select(
        "id",
        _cosine(F.col("vec"), qa, norm(F.col("vec")), norm(qa)).alias("cosine"),
    )
    return (
        scored.select("id", F.round("cosine", 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("id"))
        .limit(k)
    )


def _micros_vec(col: Column | str) -> Column:
    """Embedding components snapped to the 1e-6 integer grid
    (``bigint`` micros) — the exactness substrate for deterministic
    clustering: every subsequent distance/mean is integer arithmetic,
    bit-identical on any engine and any partitioning. Rounding is
    half-away-from-zero in both Spark (HALF_UP on doubles) and DuckDB
    (round()), so the grids agree."""
    return F.transform(
        _vec(col), lambda x: F.round(x * 1_000_000.0, 0).cast("bigint")
    )


def _micros_scalar(x: float) -> int:
    """Python twin of :func:`_micros_vec`'s grid snap for driver-side
    QUERY vectors: half-AWAY-from-zero, matching Spark's round() on
    doubles and DuckDB's round() — NOT Python ``round()``'s banker's
    half-to-even, which maps a component landing exactly on the
    half-micro grid to a different int than the corpus side."""
    import math

    m = int(math.floor(abs(float(x)) * 1_000_000.0 + 0.5))
    return m if float(x) >= 0 else -m


def _argmin_struct(
    mic: Column, centroids: list[list[int]], wide: bool = False
) -> Column:
    """Nearest-centroid (d2, cid) struct (squared L2 over micro-grid
    ints, ties -> lowest cluster id) as one JVM column expression over
    the broadcast centroid literals: array_min of (d2, cid) structs,
    lexicographic struct order = (min distance, min id).

    ``wide`` accumulates d2 in decimal(38,0) instead of bigint — for
    arbitrary-magnitude scalar inputs (filters.cluster_mahalanobis_2d
    clusters raw SCADA/price-scale columns whose micro DIFFS square
    past 9.2e18; embedding components are |x| <= ~30 and stay on the
    fast bigint path). Exact integers either way, so the tie order —
    and therefore every assignment — is identical.

    Shape (round 8): ONE transform over a k-element centroid LITERAL
    array, not k parallel candidate branches — in the branch form
    CollapseProject re-inlined the ``mic`` micro-grid transform into
    every branch (k copies of the input pipeline per plan; the same
    driver-cost pathology fixed in the MinHash signatures this
    round). Here ``mic`` appears once, referenced from the lambda
    body; the per-centroid work touches only lambda variables and
    literals. Same d2 math, same array_min lexicographic (min d2,
    min cid) tie rule — assignments are bit-identical."""
    elem_t = "decimal(19,0)" if wide else "bigint"
    zero = F.lit(0).cast("decimal(38,0)" if wide else "bigint")
    cand = F.array(*[
        F.struct(
            F.array(*[F.lit(int(v)).cast(elem_t) for v in c]).alias("cv"),
            F.lit(cid).alias("cid"),
        )
        for cid, c in enumerate(centroids)
    ])
    return F.array_min(
        F.transform(
            cand,
            lambda cen: F.struct(
                F.aggregate(
                    F.zip_with(mic, cen["cv"], lambda a, b: (a - b) * (a - b)),
                    zero,
                    lambda acc, x: acc + x,
                ).alias("d2"),
                cen["cid"].alias("cid"),
            ),
        )
    )


def _argmin_cluster(
    mic: Column, centroids: list[list[int]], wide: bool = False
) -> Column:
    return _argmin_struct(mic, centroids, wide=wide)["cid"]


def _argmin_cluster_gemm(
    base: DataFrame,
    centroids: list[list[int]],
    with_mic: bool = False,
    with_d2: bool = False,
) -> DataFrame:
    """Large-k assignment strategy: one Arrow-batched int64 GEMM per
    batch against the broadcast centroid matrix — d2 = |x|^2 - 2xC^T +
    |c|^2, all int64 (exact: |comp| <= ~30 => every term < 6e16), and
    np.argmin's first-minimum IS the lowest-cid tie rule, so the
    result is bit-identical to the expression path (pinned by test).
    The expression argmin is O(k) codegen branches per row — fine at
    k<=32, pathological at SemDeDup-scale k (hundreds+); the GEMM is
    one BLAS-shaped pass."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    cn = (C * C).sum(axis=1)
    id_field = base.schema["_id"].dataType.simpleString()
    out_schema = (
        "_mic array<bigint>, cluster int"
        if with_mic
        else f"_id {id_field}, cluster int"
    )
    if with_d2:
        out_schema += ", d2 bigint"

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            M = np.array(pdf["_mic"].tolist(), dtype=np.int64)
            d2 = (M * M).sum(axis=1)[:, None] - 2 * (M @ C.T) + cn[None, :]
            cid = d2.argmin(axis=1)
            out = (
                {"_mic": pdf["_mic"]} if with_mic else {"_id": pdf["_id"]}
            )
            out["cluster"] = cid.astype("int32")
            if with_d2:
                out["d2"] = d2[np.arange(len(cid)), cid]
            yield pd.DataFrame(out)

    return base.mapInPandas(batches, out_schema)


def kmeans_assignments(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    strategy: str = "auto",
    with_distance: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Assignments only — see :func:`kmeans_fit` (which also returns
    the fitted micro-grid centroids, needed by IVF-PQ composition)."""
    return kmeans_fit(
        df, vec_col, id_col, k, iters, strategy, with_distance,
        materialize=materialize,
    )[0]


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    strategy: str = "auto",
    with_distance: bool = False,
    wide_d2: bool = False,
    materialize: bool = False,
) -> tuple[DataFrame, list[list[int]]]:
    """Deterministic distributed Lloyd k-means over an embedding
    column -> ``((id_col, cluster) assignments, fitted k x dim
    micro-grid centroids)`` (+ ``d2``, the exact squared L2 to
    the assigned centroid in micros^2, when ``with_distance``). Unlike the MLlib fit backing
    ivf_neighbors (seeded sampling, float accumulation order), every
    step here is exact integer arithmetic on the 1e-6 micro-grid, so
    an independent engine replays the assignments bit-for-bit — the
    clustering twin of the md5-pinned dedup family:

    - init: the ``k`` lowest-id vectors (cid = ascending id order);
    - assign (x ``iters``): argmin of squared L2 between micro-grid
      ints — a map-only pass over broadcast centroid literals, ties
      to the lowest cid;
    - update (x ``iters - 1``): per-(cluster, pos) SUM of micros via
      posexplode + ONE hash aggregate (map-side combine collapses
      each partition to <= k*dim rows before the shuffle — explode
      rows never hit the wire), mean snapped back to the grid with
      the half-away integer division from label_centroids; empty
      clusters carry their previous centroid. The k*dim result is
      driver-collected (tiny, bounded by config not data) and
      re-broadcast as literals — no per-row state ever reaches the
      driver.

    Scale notes: ``iters`` passes over the table. ``materialize=True``
    (r12, opt-in) lazily localCheckpoints the internal (id, micros)
    projection so the upstream lineage evaluates once instead of
    iters+1 times — opt in when the fit's input is re-scanned per
    action (parquet source, derived lineage) AND executor storage can
    hold an input-sized (id, vec) table; leave off for cheap
    single-pass lineages (the q2-class barrier receipt) or persist
    the projection upstream yourself. The
    bigint micro-sum bounds cluster mass at ~3e11 rows x |comp|<=30
    per (cluster, pos) — beyond that, widen to decimal. Cluster count
    is the candidate-bound knob for semantic_dedup: pick k so the
    expected cluster size keeps the within-cluster pair join bounded
    (SemDeDup-style corpora run k in the tens of thousands).

    Reference scope: OpenOA has no clustering op; this extends the
    datapipe layer (SemDeDup/IVF coarse quantization, Abbas et al.
    2023) with an oracle-replayable fit.

    ``strategy`` picks the assignment kernel: ``"expr"`` is the pure
    JVM argmin over k struct branches (zero Python, best for small k);
    ``"gemm"`` is one Arrow int64 GEMM per batch against the broadcast
    centroid matrix (same integer math, np.argmin first-min = lowest
    cid — bit-identical, pinned by test) and is the k>~32 path: the
    expression kernel's codegen grows O(k) per row and measured 7.5x
    slower at k=128; ``"auto"`` switches at k=32.
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    if strategy not in ("auto", "expr", "gemm"):
        raise ValueError(f"unknown strategy {strategy!r}")
    # wide_d2 (decimal d2 accumulation for arbitrary-magnitude scalar
    # inputs, see _argmin_struct) forces the expression kernel — the
    # int64 GEMM would overflow exactly where wide is needed
    use_gemm = (not wide_d2) and (
        strategy == "gemm" or (strategy == "auto" and k > 32)
    )
    base = df.select(
        F.col(id_col).alias("_id"), _micros_vec(vec_col).alias("_mic")
    )
    if materialize:
        # one lazy cut for iters+1 passes (receipts: OPTIMIZATION_r12.md)
        base = base.localCheckpoint(eager=False)
    seed_rows = base.orderBy("_id").limit(k).collect()
    if not seed_rows:
        # empty input -> empty typed result (the every-query-survives-
        # empty-tables invariant); riders (semantic_dedup, profiles,
        # balanced sample) then propagate emptiness naturally
        cols = [
            F.col("_id").alias(id_col),
            F.lit(0).cast("int").alias("cluster"),
        ]
        if with_distance:
            cols.append(F.lit(0).cast("bigint").alias("d2"))
        return base.where(F.lit(False)).select(*cols), []
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds row count {len(seed_rows)}")
    centroids = [list(r["_mic"]) for r in seed_rows]
    dim = len(centroids[0])

    half_away = F.expr(
        "CASE WHEN _sm >= 0 THEN (2*_sm + _n) DIV (2*_n) "
        "ELSE -((2*(-_sm) + _n) DIV (2*_n)) END"
    )
    for _ in range(iters - 1):
        if use_gemm:
            assigned = _argmin_cluster_gemm(
                base, centroids, with_mic=True
            ).withColumnRenamed("cluster", "_cid")
        else:
            assigned = base.select(
                "_mic",
                _argmin_cluster(
                    F.col("_mic"), centroids, wide=wide_d2
                ).alias("_cid"),
            )
        # wide inputs keep the component sum in decimal(38,0): a
        # price-scale micro (~1e11) times a ≥9e7-row cluster overflows
        # bigint, and the non-ANSI cast would silently NULL the mean
        # (the MEAN itself is micro-scale and always fits — the DIV in
        # half_away lands back on bigint). The embedding path keeps
        # the documented bigint bound (|comp| ≤ ~30 → ~3e11 rows).
        sm = F.sum(F.col("_m").cast("decimal(38,0)"))
        if not wide_d2:
            sm = sm.cast("bigint")
        stats = (
            assigned.select("_cid", F.posexplode("_mic").alias("_pos", "_m"))
            .groupBy("_cid", "_pos")
            .agg(sm.alias("_sm"), F.count("_m").alias("_n"))
            .select("_cid", "_pos", half_away.alias("_mean"))
            .collect()
        )
        new = {}
        for r in stats:
            new.setdefault(r["_cid"], [0] * dim)[r["_pos"]] = r["_mean"]
        # empty clusters keep their previous centroid (deterministic)
        centroids = [new.get(cid, centroids[cid]) for cid in range(k)]

    if use_gemm:
        return (
            _argmin_cluster_gemm(
                base, centroids, with_d2=with_distance
            ).withColumnRenamed("_id", id_col),
            centroids,
        )
    # two-step select: _best is referenced twice when with_distance,
    # and CollapseProject keeps multiply-used non-trivial expressions
    # in their own projection — the k-branch argmin evaluates once
    scored = base.select(
        "_id",
        _argmin_struct(F.col("_mic"), centroids, wide=wide_d2).alias("_best"),
    )
    cols = [
        F.col("_id").alias(id_col),
        F.col("_best")["cid"].alias("cluster"),
    ]
    if with_distance:
        cols.append(F.col("_best")["d2"].alias("d2"))
    return scored.select(*cols), centroids


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.25,
    salt: int = 16,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings,
    then treat each CLUSTER as the candidate bucket — exact cosine is
    only evaluated within a cluster (equi-join on cluster id, never
    all-pairs), pairs at round-6 cosine >= threshold become edges,
    connected components keep the lowest id per duplicate group.
    Returns the kept rows of ``df``.

    The same survivor rule as embedding_near_dedup, with the LSH
    bucket replaced by a learned cluster: semantically-close pairs an
    unlucky hyperplane cut would separate still meet. ``k`` bounds
    the join (expected cluster size = n/k) — size it like an LSH band
    cap; the clustering itself is the deterministic integer-grid
    Lloyd of kmeans_assignments, so an oracle can replay the whole
    pass."""
    from openoa_spark.datapipe.dedup import connected_components

    pairs = _semantic_pairs(df, vec_col, id_col, k, iters, threshold, salt)
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _semantic_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iters: int,
    threshold: float,
    salt: int = 16,
) -> DataFrame:
    """The within-cluster cosine pair join of :func:`semantic_dedup`,
    exposed so its plan (the norm hoist + salted keys) can be
    inspected below connected_components' checkpoint boundary."""
    asg = kmeans_assignments(df, vec_col, id_col, k=k, iters=iters)
    # norm hoisted per ROW (see norm() note): with k fixed, expected
    # cluster size is n/k, so the within-cluster pair count — and with
    # it the per-pair cosine cost — grows quadratically with corpus
    # size; the ×48 probe measured this join as the whole query's wall
    sides = df.select(
        F.col(id_col).alias("_id"), _vec(vec_col).alias("_v"),
        norm(_vec(vec_col)).alias("_n"),
    ).join(asg.withColumnRenamed(id_col, "_id"), "_id")
    a = sides.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "cluster",
    )
    b = sides.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "cluster",
    )
    # hot-key salt, same pair set (e22c0b1; receipts:
    # git show 9378dbf:SEMDEDUP48_r12.json)
    if salt > 1:
        a = a.withColumn(
            "_salt", F.pmod(F.xxhash64("id_a"), F.lit(salt)).cast("int")
        )
        b = b.withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int"))
            ),
        )
        keys = ["cluster", "_salt"]
    else:
        keys = ["cluster"]
    pairs = (
        a.join(b, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return pairs


def kmeans_cluster_profile(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Per-cluster fit diagnostics ``(cluster, n_vecs, inertia)`` —
    size and within-cluster sum of squared distances, the number that
    tells you whether ``k``/``iters`` actually converged to tight
    buckets before you hang a SemDeDup pass or an IVF index off them.

    d2 is carried exactly (bigint micros^2) from the assignment pass;
    the aggregate sums it in decimal (exact, no overflow) and converts
    once to double at the end (same nearest-double on any engine).
    One map-only pass + one k-row hash aggregate.
    """
    asg = kmeans_assignments(
        df, vec_col, id_col, k=k, iters=iters, with_distance=True
    )
    return asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.col("d2").cast("decimal(38,0)"))
        .cast("double")
        .alias("inertia"),
    )


def cluster_balanced_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
    m: int = 10,
    seed: int = 0,
    hash_fn: str = "xxhash64",
    materialize: bool = False,
) -> DataFrame:
    """Cluster-balanced coreset selection: exactly ``m`` rows from
    each k-means cluster, chosen by keyed hash (greatest hash wins,
    ties -> lowest id) — the diversity-preserving subsample for
    curriculum/eval-set construction, where a plain uniform sample
    over-represents the corpus's dominant modes and starves its tails
    (cluster-balanced sampling is the standard fix, cf. DoReMi-style
    domain balancing / SemDeDup cluster pruning).

    Selection is a pure function of (id, seed) within the
    deterministic integer-grid clustering, so the subsample is
    reproducible and incrementally stable. The per-cluster cap uses
    grouped_top_k — the window-free domain-capping primitive — so one
    mega-cluster cannot serialize the rank onto a single task.
    Returns ``(id_col, cluster)`` for the selected rows.
    """
    from openoa_spark.datapipe.dedup import hash64
    from openoa_spark.functions.stats import grouped_top_k

    asg = kmeans_assignments(
        df, vec_col, id_col, k=k, iters=iters, materialize=materialize
    )
    scored = asg.withColumn(
        "_h",
        hash64(F.col(id_col).cast("string"), seed=seed, hash_fn=hash_fn),
    )
    return grouped_top_k(scored, ["cluster"], "_h", id_col, m).select(
        id_col, "cluster"
    )


def kmeans_state_centroids(
    spark, state_path: str, exclude_batch: int | None = None
) -> list[list[int]]:
    """Current centroids (micro-grid ints, cid-ordered) from an
    incremental_kmeans sufficient-statistics table: fold the per-batch
    (cluster, n, sum_mic) rows with ONE posexplode aggregate (k*dim
    result rows — bounded by config), then the half-away integer mean.
    Clusters whose total count is 0 fall back to their seed centroid
    (the ``seeds`` table). ``exclude_batch`` drops that batch's rows
    from the fold — the replay path: a re-run whose append already
    landed must assign against the state as it was BEFORE its own
    append."""
    st = spark.read.parquet(f"{state_path}/suffstats")
    if exclude_batch is not None:
        st = st.where(F.col("batch_id") != exclude_batch)
    agg = (
        st.select(
            "cluster", "n", F.posexplode("sum_mic").alias("pos", "s")
        )
        .groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("s").cast("decimal(38,0)")).cast("bigint").alias("_sm"),
            F.sum("n").alias("_n"),
        )
        .collect()
    )
    seeds = {
        r["cluster"]: list(r["seed_mic"])
        for r in spark.read.parquet(f"{state_path}/seeds").collect()
    }
    k = len(seeds)
    dim = len(next(iter(seeds.values())))
    sums = {}
    counts = {}
    for r in agg:
        sums.setdefault(r["cluster"], [0] * dim)[r["pos"]] = r["_sm"]
        counts[r["cluster"]] = r["_n"]
    out = []
    for cid in range(k):
        n = counts.get(cid, 0)
        if n == 0:
            out.append(seeds[cid])
            continue
        s = sums[cid]
        out.append(
            [
                (2 * v + n) // (2 * n) if v >= 0 else -((2 * (-v) + n) // (2 * n))
                for v in s
            ]
        )
    return out


def incremental_kmeans(
    spark,
    batch: DataFrame,
    vec_col: str,
    id_col: str,
    state_path: str,
    k: int = 8,
    iters_first: int = 3,
    batch_id: int | None = None,
    strategy: str = "auto",
    sink=None,
) -> DataFrame:
    """Continuous-corpus clustering — the clustering member of the
    incremental family (exact/minhash/chunk/embedding dedup all have
    one): the FIRST batch runs the full deterministic Lloyd fit and
    seeds the state; every later batch is assigned map-only against
    the CURRENT centroids, then folds its per-cluster component sums
    into the state (MacQueen-style batch update: centroid = exact
    grid-mean of every vector ever assigned). All arithmetic is the
    integer micro-grid, so replaying the same batch sequence
    reproduces assignments and state bit-for-bit.

    State under ``state_path``: ``seeds`` (cluster, seed_mic — written
    once) and ``suffstats``, an APPEND-ONLY (batch_id, cluster, n,
    sum_mic) table — k rows per batch, mergeable and tiny; history is
    never rescanned at vector grain. Idempotent re-runs: pass
    ``batch_id`` (the streaming twin wires the foreachBatch epoch) —
    if that batch_id already has suffstats rows, the centroid fold
    EXCLUDES them (the state as it was before this batch's append), so
    the replay re-lands bit-identical assignments, and the state
    append is SKIPPED — a crash on either side of the append
    double-counts nothing. Output-before-state ordering matches the
    dedup family.

    Returns the batch assignments ``(id_col, cluster)``.
    """
    jvm = spark._jvm
    ss_path = f"{state_path}/suffstats"
    p = jvm.org.apache.hadoop.fs.Path(ss_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    exists = fs.exists(p)

    base = batch.select(
        F.col(id_col).alias("_id"), _micros_vec(vec_col).alias("_mic")
    )
    if not exists:
        # first batch: full deterministic fit, then suffstats of the
        # final assignment. The seeds table persists the FITTED
        # centroids (kmeans_fit's second return — the centroids the
        # final Lloyd pass assigned against), NOT the raw lowest-id
        # seed vectors: a crash-replayed batch 0 excludes its own
        # suffstats from the centroid fold, falls back to this table,
        # and must land bit-identical assignments to the original
        # iters_first-round fit. Later empty-cluster folds also fall
        # back to a fitted centroid rather than a raw seed vector.
        asg, fitted = kmeans_fit(
            batch, vec_col, id_col, k=k, iters=iters_first, strategy=strategy
        )
        seeds = [(cid, c) for cid, c in enumerate(fitted)]
        spark.createDataFrame(
            seeds, "cluster int, seed_mic array<bigint>"
        ).write.mode("overwrite").parquet(f"{state_path}/seeds")
        this_batch = -1 if batch_id is None else batch_id
        already = False
    else:
        this_batch = -1 if batch_id is None else batch_id
        centroids = kmeans_state_centroids(
            spark,
            state_path,
            exclude_batch=this_batch if batch_id is not None else None,
        )
        use_gemm = strategy == "gemm" or (strategy == "auto" and k > 32)
        if use_gemm:
            asg = _argmin_cluster_gemm(base, centroids).withColumnRenamed(
                "_id", id_col
            )
        else:
            asg = base.select(
                F.col("_id").alias(id_col),
                _argmin_cluster(F.col("_mic"), centroids).alias("cluster"),
            )
        already = (
            spark.read.parquet(ss_path)
            .where(F.col("batch_id") == this_batch)
            .limit(1)
            .count()
            > 0
            if batch_id is not None
            else False
        )

    asg = asg.localCheckpoint(eager=True)
    if sink is not None:
        sink(asg)

    if not already:
        stats = (
            base.join(asg.withColumnRenamed(id_col, "_id"), "_id")
            .select("cluster", F.posexplode("_mic").alias("pos", "m"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.col("m").cast("decimal(38,0)"))
                .cast("bigint")
                .alias("s"),
                # one row per (vector, pos): the (cluster, pos) group
                # count IS the cluster's vector count
                F.count("m").alias("_nc"),
            )
        )
        append = (
            stats.groupBy("cluster")
            .agg(
                F.first("_nc").alias("n"),
                F.array_sort(
                    F.collect_list(F.struct("pos", "s"))
                ).alias("_ps"),
            )
            .select(
                F.lit(this_batch).alias("batch_id"),
                "cluster",
                "n",
                F.transform("_ps", lambda x: x["s"]).alias("sum_mic"),
            )
            .localCheckpoint(eager=True)
        )
        append.write.mode("append").parquet(ss_path)
    return asg


def embedding_dim_scales(df: DataFrame, vec_col: str) -> list[float]:
    """Per-dimension max |value| over the corpus — the scale vector of
    :func:`scalar_quantize_embeddings`, exposed so a composed pipeline
    can compute it on an already-materialized intermediate (one
    posexplode + dim-grain hash agg; output is d rows, driver-fit by
    the bounded-collect discipline)."""
    dim_max = (
        df.select(F.posexplode(_vec(vec_col)).alias("_d", "_x"))
        .groupBy("_d")
        .agg(F.max(F.abs(F.col("_x"))).alias("_s"))
        .collect()
    )
    scales = [0.0] * len(dim_max)
    for r in dim_max:
        scales[r["_d"]] = r["_s"]
    return scales


def scalar_quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    scales: list[float] | None = None,
) -> DataFrame:
    """Symmetric int8 scalar quantization for ANN storage: per
    DIMENSION, scale = max |value| over the corpus; each component
    maps to floor(v / scale * 127 + 0.5) in [-127, 127] (floor(x+0.5)
    instead of round() — half-up everywhere, no engine-specific
    banker's rounding). All-zero dimensions quantize to 0. Cuts
    vector storage 4x (and 8x vs double) — the standard first
    compression rung before product quantization.

    Returns ``(id_col, q: array<int>, max_abs_err: double)`` where
    max_abs_err is the per-vector worst reconstruction error — by
    construction <= scale_d / 254 per dimension + float noise.

    Plan: per-dim scales come from ONE posexplode + dim-grain hash agg
    (partial-combined; output = d rows, driver-fit by the bounded
    collect discipline), then ride back as a one-row scalar broadcast
    so quantization is MAP-ONLY and every row shares one cached scales
    array. Without precomputed ``scales`` the corpus is scanned twice
    (once for scales, once to quantize) — at 100 TB, persist the input
    first or pass ``scales`` computed on a materialized intermediate
    (:func:`embedding_dim_scales`;
    ``pipeline.quantize_surviving_embeddings`` does exactly that fold
    when the quantizer runs inside the curation pipeline).
    """
    v = _vec(vec_col)
    if scales is None:
        scales = embedding_dim_scales(df, vec_col)
    scales_df = df.sparkSession.createDataFrame(
        [(scales,)], "_scales: array<double>"
    )
    q = F.zip_with(
        v,
        F.col("_scales"),
        lambda x, s: F.when(s > 0, F.floor(x / s * 127 + 0.5))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    deq = F.zip_with(
        q.cast("array<double>"),
        F.col("_scales"),
        lambda qi, s: qi * s / 127,
    )
    err = F.round(
        F.aggregate(
            F.zip_with(v, deq, lambda x, d: F.abs(x - d)),
            F.lit(0.0),
            lambda acc, e: F.greatest(acc, e),
        ),
        6,
    )
    return (
        df.crossJoin(F.broadcast(scales_df))
        .select(F.col(id_col), q.alias("q"), err.alias("max_abs_err"))
    )


def _pq_assign_gemm(
    base: DataFrame,
    centroids: list[list[list[int]]],
    d_sub: int,
    with_mic: bool = False,
) -> DataFrame:
    """All-subspace PQ assignment in ONE Arrow pass: the batch
    reshapes to (n, m, d_sub) and a single int64 einsum against the
    (m, k, d_sub) centroid tensor yields every subspace's argmin —
    exact integer distances (|comp| <= ~30 keeps every term < 2^63),
    np.argmin first-minimum = lowest-cid tie rule, bit-identical to
    the expression path (pinned by test)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)  # (m, k, d_sub)
    cn = (C * C).sum(axis=2)  # (m, k)
    id_field = base.schema["_id"].dataType.simpleString()
    out_schema = (
        "_mic array<bigint>, codes array<int>"
        if with_mic
        else f"_id {id_field}, codes array<int>"
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            M = np.array(pdf["_mic"].tolist(), dtype=np.int64)
            X = M.reshape(len(M), C.shape[0], d_sub)  # (n, m, d_sub)
            xn = (X * X).sum(axis=2)  # (n, m)
            cross = np.einsum("nmd,mkd->nmk", X, C)
            d2 = xn[:, :, None] - 2 * cross + cn[None, :, :]
            codes = d2.argmin(axis=2).astype("int32")  # (n, m)
            out = (
                {"_mic": pdf["_mic"]} if with_mic else {"_id": pdf["_id"]}
            )
            out["codes"] = [c.tolist() for c in codes]
            yield pd.DataFrame(out)

    return base.mapInPandas(batches, out_schema)


def product_quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    strategy: str = "auto",
    materialize: bool = False,
) -> DataFrame:
    """PQ codes only — see :func:`pq_fit` (which also returns the
    fitted codebooks, needed by :func:`pq_adc_top_k` search)."""
    return pq_fit(
        df, vec_col, id_col, dim, m, k, iters, strategy,
        materialize=materialize,
    )[0]


def pq_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    strategy: str = "auto",
    materialize: bool = False,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product quantization (PQ): split each vector into ``m``
    subvectors of dim/m components, fit the deterministic integer-grid
    k-means per subspace, and emit each vector's ``m`` codebook
    assignments — the memory layout ANN indexes store instead of raw
    floats (m bytes/vector at k<=256 vs 4*dim; 32x for 64-dim float).
    Returns ``(id_col, codes: array<int>)`` with codes ordered by
    subspace.

    Every subspace fit is kmeans_assignments' exact micro-grid
    arithmetic, so the full code table is engine-replayable — PQ
    training with an oracle, which float k-means can't give you.

    Plan: all m subspace fits share each pass — ONE seed collect (the
    k lowest-id vectors, sliced driver-side), per update round ONE
    assignment projection (m argmins over broadcast centroid literals,
    map-only) + ONE posexplode/hash-agg whose exploded position maps
    to its subspace's code column (m*k*d_sub = dim*k result rows,
    bounded by config), and a map-only final projection that emits the
    code array directly. Codes never shuffle; job count is
    O(iters), not O(m * iters). Equivalent to m independent
    kmeans_assignments fits (pinned by test).

    ``strategy``: ``"expr"`` is the pure-JVM argmin (m*k codegen
    branches per row — fine small, pathological at PQ-typical m*k);
    ``"gemm"`` does ALL subspaces in one Arrow int64 einsum per batch
    (bit-identical, pinned by test); ``"auto"`` switches at m*k > 32.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    if strategy not in ("auto", "expr", "gemm"):
        raise ValueError(f"unknown strategy {strategy!r}")
    use_gemm = strategy == "gemm" or (strategy == "auto" and m * k > 32)
    d_sub = dim // m
    base = df.select(
        F.col(id_col).alias("_id"), _micros_vec(vec_col).alias("_mic")
    )
    if materialize:
        # same lazy cut as kmeans_fit (receipts: OPTIMIZATION_r12.md)
        base = base.localCheckpoint(eager=False)
    seed_rows = base.orderBy("_id").limit(k).collect()
    if not seed_rows:
        # empty input -> empty typed codes + all-zero codebooks (the
        # config-known shape, so pq_adc_top_k on the result stays
        # well-defined and returns an empty top-k). The zero-row codes
        # literal keeps length m: Catalyst constant-folds downstream
        # element_at(codes, j+1) even when no row exists, so an
        # empty-array literal would fail at PLAN time.
        empty = base.where(F.lit(False)).select(
            F.col("_id").alias(id_col),
            F.array(*[F.lit(0) for _ in range(m)])
            .cast("array<int>")
            .alias("codes"),
        )
        return empty, [
            [[0] * d_sub for _ in range(k)] for _ in range(m)
        ]
    if len(seed_rows) < k:
        raise ValueError(f"k={k} exceeds row count {len(seed_rows)}")
    # centroids[j] = k x d_sub ints for subspace j (slices of the same
    # k lowest-id seed vectors every independent fit would pick)
    centroids = [
        [list(r["_mic"])[j * d_sub : (j + 1) * d_sub] for r in seed_rows]
        for j in range(m)
    ]

    def codes_col() -> Column:
        return F.array(
            *[
                _argmin_cluster(
                    F.slice(F.col("_mic"), j * d_sub + 1, d_sub),
                    centroids[j],
                )
                for j in range(m)
            ]
        )

    half_away = F.expr(
        "CASE WHEN _sm >= 0 THEN (2*_sm + _n) DIV (2*_n) "
        "ELSE -((2*(-_sm) + _n) DIV (2*_n)) END"
    )
    for _ in range(iters - 1):
        if use_gemm:
            assigned = _pq_assign_gemm(base, centroids, d_sub, with_mic=True)
        else:
            assigned = base.select("_mic", codes_col().alias("codes"))
        code_of_pos = F.element_at(
            F.col("codes"), (F.col("_pos") / d_sub).cast("int") + 1
        )
        stats = (
            assigned.select(
                "codes", F.posexplode("_mic").alias("_pos", "_m")
            )
            .select(
                (F.col("_pos") / d_sub).cast("int").alias("_sub"),
                code_of_pos.alias("_cid"),
                (F.col("_pos") % d_sub).alias("_spos"),
                F.col("_m"),
            )
            .groupBy("_sub", "_cid", "_spos")
            .agg(
                F.sum(F.col("_m").cast("decimal(38,0)"))
                .cast("bigint")
                .alias("_sm"),
                F.count("_m").alias("_n"),
            )
            .select("_sub", "_cid", "_spos", half_away.alias("_mean"))
            .collect()
        )
        new: dict[tuple[int, int], list[int]] = {}
        for r in stats:
            new.setdefault((r["_sub"], r["_cid"]), [0] * d_sub)[
                r["_spos"]
            ] = r["_mean"]
        centroids = [
            [
                new.get((j, cid), centroids[j][cid])
                for cid in range(k)
            ]
            for j in range(m)
        ]

    if use_gemm:
        codes = _pq_assign_gemm(base, centroids, d_sub).select(
            F.col("_id").alias(id_col), "codes"
        )
    else:
        codes = base.select(
            F.col("_id").alias(id_col), codes_col().alias("codes")
        )
    return codes, centroids


def _adc_lut(
    books: list[list[list[int]]], query: list[float]
) -> list[int]:
    """Flattened ADC lookup table: LUT[j*k + c] = squared L2 (micros^2)
    between the query's j-th slice and codebook entry c. Driver-side,
    m*k ints — config-bounded. Shared by every ADC scorer so the
    micros rounding rule and the j*k+c layout cannot drift."""
    m, k, d_sub = len(books), len(books[0]), len(books[0][0])
    qm = [_micros_scalar(q) for q in query]
    return [
        sum((qm[j * d_sub + i] - books[j][c][i]) ** 2 for i in range(d_sub))
        for j in range(m)
        for c in range(k)
    ]


def _adc_d2_col(m: int, k: int) -> Column:
    """ADC distance over a ``codes`` column against a scalar-broadcast
    ``_lut`` column (see _adc_lut for the layout): m element_at
    lookups + a sum."""
    d2 = None
    for j in range(m):
        term = F.element_at(
            F.col("_lut"),
            F.lit(j * k) + F.element_at(F.col("codes"), j + 1) + 1,
        )
        d2 = term if d2 is None else d2 + term
    return d2


def pq_adc_top_k(
    codes_df: DataFrame,
    centroids: list[list[list[int]]],
    query: list[float],
    id_col: str,
    k_results: int = 10,
) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC): the query
    stays exact while database vectors are represented by their codes.
    The per-subspace lookup table LUT[j][c] = squared L2 (micros^2)
    between the query's j-th slice and codebook entry c is computed
    DRIVER-SIDE from the fitted codebooks (m*k ints — config-bounded),
    flattened, and carried as a one-row scalar broadcast; each row's
    approximate distance is then m element_at lookups + a sum, a
    map-only pass over the codes table (never the raw vectors). Top-k
    executes as TakeOrderedAndProject (per-partition top-k, no global
    sort), ties to the lowest id. All arithmetic is integer-exact, so
    the ranking replays across engines.

    Returns ``(id_col, adc_d2)`` with the k_results nearest codes.
    """
    m = len(centroids)
    k = len(centroids[0])
    d_sub = len(centroids[0][0])
    if len(query) != m * d_sub:
        raise ValueError(f"query dim {len(query)} != {m * d_sub}")
    lut_df = codes_df.sparkSession.createDataFrame(
        [(_adc_lut(centroids, query),)], "_lut: array<bigint>"
    )
    return (
        codes_df.crossJoin(F.broadcast(lut_df))
        .select(F.col(id_col), _adc_d2_col(m, k).alias("adc_d2"))
        .orderBy(F.asc("adc_d2"), F.asc(id_col))
        .limit(k_results)
    )


def ivf_pq_search(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    dim: int,
    coarse_k: int = 4,
    n_probe: int = 2,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    k_results: int = 10,
    materialize: bool = False,
) -> DataFrame:
    """IVF-PQ: the FAISS-style ANN layout composed from the engine's
    two deterministic quantizers — a coarse integer-grid k-means
    partitions the corpus into inverted lists, PQ codes stand in for
    the raw vectors, and a query (a) ranks the coarse centroids
    driver-side and probes only the ``n_probe`` nearest lists, (b)
    ADC-scores the codes of those lists alone. Both fits are
    integer-exact, so the ENTIRE index + search replays in SQL —
    an oracle-checkable IVF-PQ.

    This variant PQ-encodes raw vectors (classic IVF-PQ encodes
    residuals vector - coarse_centroid for tighter codes; same
    plumbing, one extra subtraction before the subspace fits —
    omitted here to keep code assignments reusable corpus-wide).

    Scale shape: persisted, the codes table is PARTITIONED BY coarse
    cluster so partition pruning IS the inverted file (the
    build_ivf_index discipline); inline, the probe filter
    ``cluster IN (...)`` pushes to the scan. The scoring pass reads
    codes only — never raw vectors — and top-k is
    TakeOrderedAndProject with ties to the lowest id.

    Returns ``(id_col, cluster, adc_d2)``.
    """
    coarse, coarse_cents = kmeans_fit(
        df, vec_col, id_col, k=coarse_k, iters=iters,
        materialize=materialize,
    )
    codes, books = pq_fit(
        df, vec_col, id_col, dim=dim, m=m, k=k, iters=iters,
        materialize=materialize,
    )
    qm = [_micros_scalar(q) for q in query]
    ranked = sorted(
        (
            sum((qm[i] - cv[i]) ** 2 for i in range(dim)),
            cid,
        )
        for cid, cv in enumerate(coarse_cents)
    )
    probed = [cid for _, cid in ranked[:n_probe]]

    lut_df = df.sparkSession.createDataFrame(
        [(_adc_lut(books, query),)], "_lut: array<bigint>"
    )
    cand = coarse.where(F.col("cluster").isin(probed)).join(
        codes, id_col
    )
    return (
        cand.crossJoin(F.broadcast(lut_df))
        .select(
            F.col(id_col),
            F.col("cluster"),
            _adc_d2_col(m, k).alias("adc_d2"),
        )
        .orderBy(F.asc("adc_d2"), F.asc(id_col))
        .limit(k_results)
    )


def pq_recall_at_k(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: list[list[float]],
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    top: int = 10,
) -> DataFrame:
    """Measured recall@top of PQ-ADC against exact L2 over a panel of
    query vectors — the measure-don't-guess harness for the PQ layer
    (quantify what (m, k) actually retrieves before shipping codes).
    Returns ``(query_id, n_hit, recall)``, one row per panel query.

    Exact side and ADC side both rank on micro-grid integers (ties to
    lowest id), so recall itself is engine-replayable — unlike float
    ANN recall, a cross-engine oracle can pin it bit-for-bit.

    Scale shape: the panel must stay small BY CONTRACT (it is unrolled
    into |Q| TakeOrderedAndProject passes on the ADC side and |Q|
    distance columns on the exact side — one corpus scan each); the
    per-query top lists are (top x |Q|)-bounded frames, joined on
    (query_id, id) to count hits.
    """
    base = df.select(
        F.col(id_col).alias("_id"), _micros_vec(vec_col).alias("_mic")
    )
    base = base.localCheckpoint(eager=False)
    codes, books = pq_fit(
        df, vec_col, id_col, dim=dim, m=m, k=k, iters=iters
    )
    codes = codes.localCheckpoint(eager=False)
    d_sub = dim // m

    exact_parts = []
    adc_parts = []
    for qi, q in enumerate(queries):
        qm = [_micros_scalar(v) for v in q]
        qarr = F.array(*[F.lit(v).cast("bigint") for v in qm])
        d2 = F.aggregate(
            F.zip_with(F.col("_mic"), qarr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        exact_parts.append(
            base.select(
                F.lit(qi).alias("query_id"),
                F.col("_id").alias(id_col),
                d2.alias("_d2"),
            )
            .orderBy(F.asc("_d2"), F.asc(id_col))
            .limit(top)
            .drop("_d2")
        )
        # scalar-broadcast the LUT (an inline literal would lower to
        # CreateArray and rebuild all m*k words per element_at)
        lut_df = df.sparkSession.createDataFrame(
            [(_adc_lut(books, q),)], "_lut: array<bigint>"
        )
        adc_parts.append(
            codes.crossJoin(F.broadcast(lut_df))
            .select(
                F.lit(qi).alias("query_id"),
                F.col(id_col),
                _adc_d2_col(m, k).alias("_d2"),
            )
            .orderBy(F.asc("_d2"), F.asc(id_col))
            .limit(top)
            .drop("_d2")
        )

    exact_top = exact_parts[0]
    for p in exact_parts[1:]:
        exact_top = exact_top.unionByName(p)
    adc_top = adc_parts[0]
    for p in adc_parts[1:]:
        adc_top = adc_top.unionByName(p)
    hits = exact_top.join(adc_top, ["query_id", id_col], "semi")
    per_q = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    # recall denominator = |exact list| = min(top, corpus size), NOT
    # the fixed top — else a 7-row corpus caps recall@10 at 0.7 even
    # when retrieval was perfect
    exact_n = exact_top.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_exact")
    )
    panel = df.sparkSession.createDataFrame(
        [(i,) for i in range(len(queries))], "query_id: int"
    )
    return (
        panel.join(per_q, "query_id", "left")
        .join(exact_n, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.coalesce("_n_exact", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_hit", F.lit(0)).cast("double")
                    / F.col("_n_exact"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("recall"),
        )
    )


def pq_reconstruction_error(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    materialize: bool = False,
) -> DataFrame:
    """Per-vector PQ reconstruction error — the compression-quality
    diagnostic read before trusting ADC distances (the PQ analogue of
    int8 quantization's max_abs_err): squared L2 in micros^2 between
    each vector and its codebook reconstruction, which equals the sum
    over subspaces of the assignment distances. Computed in ONE extra
    map-only pass after the fit (per-subspace argmin structs carry
    their own d2 — no join against the codes table needed); exact
    integer arithmetic, so the oracle replays it from the fitted
    chains. Returns ``(id_col, pq_d2)``.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    # pq_fit returns zero-filled length-m codebooks even on empty
    # input, so the error pass below is well-defined there too
    _, books = pq_fit(
        df, vec_col, id_col, dim, m, k, iters, materialize=materialize
    )
    d_sub = dim // m
    base = df.select(
        F.col(id_col).alias("_id"), _micros_vec(vec_col).alias("_mic")
    )
    total = None
    for j in range(m):
        s = _argmin_struct(
            F.slice(F.col("_mic"), j * d_sub + 1, d_sub), books[j]
        )
        term = s["d2"]
        total = term if total is None else total + term
    return base.select(
        F.col("_id").alias(id_col), total.alias("pq_d2")
    )
