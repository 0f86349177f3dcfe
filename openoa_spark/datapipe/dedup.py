"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

All stages are expressed with built-in array/hash functions (xxhash64,
crc32, transform/aggregate) so they run JVM-side; no Python in the hot
path. The LSH band-bucket join is the scale path: candidate pairs come
from equi-joins on (band, bucket-hash) — never an all-pairs crossJoin.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, normalized: bool = True
) -> DataFrame:
    """Keep one representative (lowest id) per distinct text; output
    adds ``dup_count``. Hash-groupBy on the (normalized) content — one
    shuffle keyed by a 64-bit content hash, so 100 TB dedups without
    moving full texts twice."""
    c = normalize_text(text_col) if normalized else F.col(text_col)
    keyed = df.withColumn("_key", F.xxhash64(c))
    # HashAggregate over fixed-width (min id, count) — map-side combine,
    # no sort — then an equi-join back to pick up the winning rows.
    # Tempting alternatives that are slower: a row_number window sorts
    # every hash group (19× the oracle in round 1); min_by(struct(row))
    # falls back to SortAggregate with the full text in the agg buffer.
    # The agg's key column is RENAMED before the join: `keyed["_key"] ==
    # agg["_key"]` would resolve both sides to the same attribute (agg is
    # derived from keyed), which Spark drops as a trivially-true
    # predicate — the join would silently run on id == _keep_id alone and
    # cross-match hash groups whenever ids are non-unique.
    agg = keyed.groupBy("_key").agg(
        F.min(F.col(id_col)).alias("_keep_id"),
        F.count(F.lit(1)).alias("dup_count"),
    ).withColumnRenamed("_key", "_agg_key")
    cond = (keyed["_key"] == agg["_agg_key"]) & (keyed[id_col] == agg["_keep_id"])
    return keyed.join(agg, cond).select(*df.columns, "dup_count")


def hash64(c: Column, seed: int | None = None, hash_fn: str = "xxhash64") -> Column:
    """Seedable 64-bit-ish token hash with two interchangeable backends.

    ``xxhash64`` — production default: JVM-native, one pass, cheap.
    ``md5`` — verification mode: a 60-bit value from the first 15 hex
    chars of the md5 digest, which DuckDB can compute bit-identically
    (``CAST('0x' || substring(md5(s), 1, 15) AS BIGINT)``) so the
    correctness oracle can replay MinHash/SimHash exactly. Seeding is
    by suffixing ``|seed`` to the input (md5 has no seed parameter).
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(c) if seed is None else F.xxhash64(c, F.lit(seed))
    if hash_fn == "md5":
        s = c if seed is None else F.concat(c, F.lit(f"|{seed}"))
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def sql_hash64(expr: str, seed: int | None = None) -> str:
    """DuckDB twin of ``hash64(..., hash_fn='md5')``."""
    s = expr if seed is None else f"({expr}) || '|{seed}'"
    return f"CAST('0x' || substring(md5({s}), 1, 15) AS BIGINT)"


def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingle array from raw text (distinct shingles).
    Texts with fewer than ``n`` tokens yield an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(normalize_text(c), " ")
    k = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # guard BEFORE sequence: sequence(1, 0) is a DESCENDING [1, 0] in
    # Spark, and slice(toks, 0, n) throws — short texts must short-
    # circuit to an empty array instead.
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signature(
    shingle_col: Column | str, num_hashes: int = 64, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature: per seed i, min over shingles of
    hash64(shingle, seed=i). Array<long> of length num_hashes,
    computed entirely with JVM array lambdas.

    Shape (r10): ONE aggregate fold — per shingle, zip the running
    minima with the seed array and take the elementwise least. The
    previous num_hashes-branch form (array_min(transform(sh, …)) per
    seed) let CollapseProject re-inline the SHINGLE-construction
    subtree into every branch, so shingling ran num_hashes× per doc —
    the exact trap the md5 double-hash path documented in r8, measured
    here at 138 s → 9 s for 64 hashes over 65k sf1.3 docs (values
    bit-identical: xxhash64(s, i) with i an int ARRAY ELEMENT hashes
    identically to xxhash64(s, lit(i)) — Spark hashes by (type, value)
    — and the md5 seed suffix concatenates the same "|i" string).
    Empty/null shingle arrays keep the old all-null signature."""
    sh = F.col(shingle_col) if isinstance(shingle_col, str) else shingle_col
    seeds = F.array(*[F.lit(i) for i in range(num_hashes)])
    if hash_fn == "xxhash64":
        def hs(s, i):
            return F.xxhash64(s, i)
    elif hash_fn == "md5":
        def hs(s, i):
            return F.conv(
                F.substring(
                    F.md5(F.concat(s, F.lit("|"), i.cast("string"))), 1, 15
                ),
                16, 10,
            ).cast("long")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # NULL elements are out of shingles()'s contract, but guard anyway
    # (r10 ADVICE): an all-NULL-element array must keep the pre-fold
    # all-NULL signature, not [2^63-1, ...] — a silent signature-value
    # change would corrupt persistent LSH state if an upstream ever
    # emitted null shingle elements. The filter is hash-free, so the
    # dominant cost (num_hashes hashes per element) is unchanged.
    sh_nn = F.filter(sh, lambda x: x.isNotNull())
    fold = F.aggregate(
        sh_nn,
        F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(acc, seeds, lambda a, i: F.least(a, hs(s, i))),
    )
    return F.when(F.size(sh_nn) >= 1, fold).otherwise(
        F.array_repeat(F.lit(None).cast("long"), num_hashes)
    )


def _minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_n: int,
    hash_fn: str,
) -> DataFrame:
    """(_id, _sig) MinHash signature frame — the shared front end of
    every MinHash consumer (self-join pairs, incremental state).
    Returned lazily localCheckpoint'ed: signature computation is the
    dominant CPU and every consumer reads it at least twice (self-join
    sides, or within-batch + cross-batch joins)."""
    # don't let a single-file scan serialize the hashing onto one core
    # (no-op at scale)
    from openoa_spark.session import spread_small_input

    df = spread_small_input(df)
    # ≥1-shingle filter as a CHEAP predicate on the raw text (token
    # count ≥ shingle_n ⇔ ≥1 shingle), shared by both hash backends:
    # a filter whose predicate references the signature expression
    # itself (the old getItem(0)-is-null idiom) gets the whole hash
    # tree substituted in by filter pushdown, and constraint
    # propagation then chews on the giant predicate — measured 4-7 s
    # of DRIVER time per plan build at any data size.
    has_shingle = (
        F.size(F.split(normalize_text(F.col(text_col)), " "))
        >= F.lit(shingle_n)
    )
    df = df.where(has_shingle)
    if hash_fn == "md5":
        # Kirsch-Mitzenmacher double hashing: h_i(s) = (h1 + i·h2) mod
        # (2^31-1). Two md5 evaluations per shingle TOTAL instead of
        # num_hashes. 52-bit bases keep i·h2 < 2^58 (no bigint
        # overflow); the WRAPPING mod is what decorrelates the
        # per-seed orderings (without it the i-th min drifts toward
        # argmin(h2) and agreement is overestimated). The oracle SQL
        # replays the identical formula.
        #
        # Shape note (round 8): the signature is ONE aggregate fold —
        # per shingle, zip the running minima with the seed array and
        # take elementwise least. The earlier num_hashes-branch form
        # (array_min(transform(_hp, …)) per seed) let CollapseProject
        # re-inline the md5 struct into every branch — a plan whose
        # first execution paid ~5 s of per-plan codegen/setup at ANY
        # data size (measured sf0.1: 5.2 s → 0.5 s after this
        # rewrite; values bit-identical by construction and pinned by
        # the oracle twin).
        P = 2147483647
        def b52(s):
            return F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("long")

        hp = F.transform(
            shingles(text_col, shingle_n),
            lambda s: F.struct(
                b52(s).alias("h1"), b52(F.concat(s, F.lit("#"))).alias("h2")
            ),
        )
        seeds = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
        hp_df = df.select(F.col(id_col).alias("_id"), hp.alias("_hp"))
        sig = hp_df.select(
            "_id",
            F.aggregate(
                F.col("_hp"),
                F.array_repeat(F.lit(P).cast("long"), num_hashes),
                lambda acc, p: F.zip_with(
                    acc,
                    seeds,
                    lambda a, i: F.least(a, (p["h1"] + i * p["h2"]) % F.lit(P)),
                ),
            ).alias("_sig"),
        )
    else:
        # one-fold signature — see minhash_signature's shape note
        sig = df.select(
            F.col(id_col).alias("_id"),
            minhash_signature(
                shingles(text_col, shingle_n), num_hashes, hash_fn
            ).alias("_sig"),
        )
    # Lazy localCheckpoint: without this the signature lineage
    # (shingle + md5/xxhash + num_hashes array mins) replays on every
    # consumer side (a broadcast side does not reuse the probe side's
    # exchange). Lazy (eager=False) keeps the operator contract lazy.
    return sig.localCheckpoint(eager=False)


def _band_hashes(
    sig: DataFrame, num_hashes: int, bands: int, hash_fn: str
) -> DataFrame:
    """(_id, _sig, band, bhash) LSH band table from a signature frame."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        "_sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bhash",
        hash64(
            F.concat_ws(
                ",",
                F.slice(
                    "_sig", F.col("band") * rows_per_band + 1, F.lit(rows_per_band)
                ),
            ),
            None,
            hash_fn,
        ),
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs with estimated
    Jaccard similarity.

    Pipeline: shingle → minhash signature → split into ``bands`` bands
    of ``num_hashes/bands`` rows → hash each band → self-equi-join on
    (band_idx, band_hash) → estimate Jaccard as signature agreement
    fraction → threshold. The join key is the band hash, so candidate
    generation is linear-ish in data size (LSH guarantee), not O(n²).

    ``max_band_bucket`` bounds the adversarial-skew failure mode (a
    templated corpus where a large fraction of documents share one
    band key, turning the self-join clique quadratic) — see
    :func:`_pairs_from_banded`. None (default) keeps exact clique
    semantics.

    Output: (id_a, id_b, est_jaccard), id_a < id_b.
    """
    sig = _minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, hash_fn
    )
    banded = _band_hashes(sig, num_hashes, bands, hash_fn)
    return _pairs_from_banded(
        banded, num_hashes, jaccard_threshold, max_band_bucket
    )


def _pairs_from_banded(
    banded: DataFrame,
    num_hashes: int,
    jaccard_threshold: float,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, est_jaccard) pairs from a (_id, _sig, band, bhash)
    band table — shared by the batch and incremental paths so the
    signature pipeline is computed exactly once per input.

    ``max_band_bucket``: band buckets LARGER than this cap degrade
    from clique (every pair — m² rows for an m-doc bucket) to STAR
    topology: every member pairs with the bucket's min-id
    representative only (m-1 rows). A hot band key — the production
    failure mode when ~10% of a corpus shares one template — then
    costs O(m) instead of O(m²), and the star keeps exactly the
    connectivity the downstream connected-components dedup needs (all
    bucket members still land in one component). The tradeoff is
    per-pair: a member whose signature agrees with a sibling but not
    with the representative can fall below the threshold — acceptable
    for candidate generation (LSH is already probabilistic), which is
    why the default (None) keeps exact clique semantics.
    """
    a = banded.alias("a")
    b = banded.alias("b")
    # Estimate Jaccard BEFORE the pair-dedup so dropDuplicates runs
    # over scalar columns only: with the signature arrays still
    # attached, Spark is forced into a SortAggregate (first() over
    # array values has no hash-agg support); on scalars it plans the
    # ordinary hash aggregate. The estimate is identical in every
    # band occurrence of a pair, so dedup-after is equivalent, and
    # thresholding first shrinks the dedup input.
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a._sig"), F.col("b._sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = agree / F.lit(float(num_hashes))
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bhash") == F.col("b.bhash")
    )
    pair_cols = [
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        est.alias("est_jaccard"),
    ]
    if max_band_bucket is None:
        pairs = (
            a.join(b, on).where(F.col("a._id") < F.col("b._id"))
            .select(*pair_cols)
        )
    else:
        # One hash-agg pass sizes every bucket and picks its min-id
        # representative; the banded table is then split by size.
        # Small buckets keep the exact clique join. Oversized buckets
        # join members against the ONE representative row per bucket
        # (m-1 output rows; the skewed probe side is splittable by
        # AQE because the build side is bucket-unique).
        sizes = banded.groupBy("band", "bhash").agg(
            F.count(F.lit(1)).alias("_bsz"),
            F.min("_id").alias("_rep_id"),
        ).localCheckpoint(eager=False)
        # NOT broadcast: the size table is bucket-grain (O(docs×bands)
        # rows at corpus scale) — let the join shuffle on the same
        # (band, bhash) key the pair joins use; AQE broadcasts it when
        # it is actually small.
        sized = banded.join(sizes, ["band", "bhash"])
        # ONE self-join covers both topologies (r11, guide §2.4/§3):
        # the star output is exactly the clique predicate restricted
        # to a-side == representative, so filtering the LEFT side to
        # (small bucket) OR (row is the bucket's min-id rep) yields
        # the identical pair set — small buckets keep every a-row
        # (full clique via a._id < b._id), oversized buckets keep only
        # the rep a-row (m-1 star edges; rep = min id, so rep < member
        # holds and no member-member pair can form). The b side stays
        # unfiltered; rep-rep self-pairs die on the strict <. This
        # halves the self-joins (2 SMJ → 1), drops the union, and cuts
        # the banded-lineage evaluations from 5 to 3.
        left = sized.where(
            (F.col("_bsz") <= max_band_bucket)
            | (F.col("_id") == F.col("_rep_id"))
        ).alias("a")
        pairs = (
            left.join(sized.alias("b"), on)
            .where(F.col("a._id") < F.col("b._id"))
            .select(*pair_cols)
        )
    return (
        pairs
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """FUZZY benchmark decontamination — the near-duplicate complement
    of the exact-gram paths (text.benchmark_overlap /
    text.bloom_decontaminate): a corpus document is contaminated when
    it is a MinHash near-duplicate (estimated shingle-Jaccard >=
    ``jaccard_threshold``) of ANY benchmark document — catching
    lightly-paraphrased or whitespace-mangled test-set copies that
    exact n-gram joins miss.

    Scale shape: candidate generation is the banded LSH equi-join
    BETWEEN the two tables (never corpus x bench all-pairs). The bench
    band table is usually benchmark-suite-sized, but callers may pass
    an SF-scaled bench side, so the join strategy is left to AQE
    (which broadcasts it when its measured size is below the
    threshold) rather than forced with a hint that would OOM on a
    large bench table. The Jaccard estimate runs on the banded
    signature arrays and the verdict dedups on scalar ids only (array
    columns never reach an aggregate). Returns the corpus with an
    ``is_contaminated`` flag — filter or quarantine downstream.
    """
    sig_c = _minhash_signatures(
        corpus, text_col, id_col, num_hashes, shingle_n, hash_fn
    )
    sig_b = _minhash_signatures(
        bench, text_col, id_col, num_hashes, shingle_n, hash_fn
    )
    bc = _band_hashes(sig_c, num_hashes, bands, hash_fn).alias("a")
    bb = _band_hashes(sig_b, num_hashes, bands, hash_fn).alias("b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("a._sig"), F.col("b._sig"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = agree / F.lit(float(num_hashes))
    on = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bhash") == F.col("b.bhash")
    )
    hits = (
        bc.join(bb, on)
        .select(F.col("a._id").alias(id_col), est.alias("_est"))
        .where(F.col("_est") >= jaccard_threshold)
        .select(id_col)
        .dropDuplicates([id_col])
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn("is_contaminated", F.col("_hit").isNotNull())
        .drop("_hit")
    )


def simhash(col: Column | str, bits: int = 64, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over word tokens: sign-sum of per-token hash bits.

    Built from array lambdas: for each bit, count tokens whose hash has
    that bit set; bit in result = (count > n_tokens/2).

    NULL text → NULL fingerprint (round 8; the previous branch form
    returned 0, which silently clustered NULL-text rows with each
    other). The registry twin's CASE mirrors the NULL propagation.
    Empty text hashes the single empty token, same as before.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.array_distinct(F.split(normalize_text(c), " "))
    hashes = F.transform(toks, lambda t: hash64(t, None, hash_fn))
    n = F.size(toks)
    # ONE fold over the token hashes accumulating all per-bit
    # majorities, instead of `bits` separate size(filter(hashes, …))
    # branches — the branch form re-inlines the hash pipeline into
    # every branch (each token hashed `bits` times; for md5 that was
    # a measured multi-second per-plan cost at any data size). The
    # per-bit extraction lives INSIDE the transform where the bit
    # index is a Python literal against the lambda variable, so the
    # hash subtree appears exactly once in the plan.
    bit_arrays = F.transform(
        hashes,
        lambda h: F.array(*[
            F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int")
            for b in range(bits)
        ]),
    )
    counts = F.aggregate(
        bit_arrays,
        F.array_repeat(F.lit(0).cast("int"), bits),
        lambda acc, ba: F.zip_with(acc, ba, lambda a, x: a + x),
    )
    # bits are disjoint: accumulate with OR over per-bit weight
    # literals, not addition of 2^b terms — bit 63's weight overflows
    # a signed long literal (and ANSI mode turns the sum's overflow
    # into a runtime error), so its weight is the sign-bit value
    weights = F.array(*[
        F.lit((1 << b) if b < 63 else -(2 ** 63)).cast("long")
        for b in range(bits)
    ])
    return F.aggregate(
        F.zip_with(
            counts,
            weights,
            lambda cnt, w: F.when(cnt * 2 > n, w).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    n_chunks: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: documents whose SimHash
    fingerprints differ in at most ``max_hamming`` bits (the classic
    web-dedup configuration: 64-bit fingerprints, distance 3).

    Candidate generation by pigeonhole banding over ``n_chunks``
    contiguous fingerprint chunks (default ``max_hamming + 1``): a
    pair within distance k has at most k differing chunks, so at
    least ``n_chunks - k`` chunks agree — every combination of
    ``n_chunks - k`` chunks forms a candidate table, and the pair is
    guaranteed to collide in at least one. With the default, tables
    are single chunks of bits/(k+1) bits. At corpus scale, RAISE
    ``n_chunks`` (the Manku et al. web-dedup construction): e.g.
    bits=64, k=3, n_chunks=6 gives C(6,3)=20 tables keyed on 3 chunks
    (~32 bits) — the join key space grows from 2^16 to 2^32, keeping
    buckets sparse at billions of documents for C(m, m-k)× explode
    cost. Either way the join is an equi-join on (table, key) — never
    all-pairs — and one bit_count(XOR) verifies each candidate.
    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    from itertools import combinations

    m = n_chunks if n_chunks is not None else max_hamming + 1
    if m <= max_hamming:
        raise ValueError(
            f"n_chunks ({m}) must exceed max_hamming ({max_hamming})"
        )
    sim = df.select(
        F.col(id_col).alias("_id"),
        simhash(text_col, bits=bits, hash_fn=hash_fn).alias("_sh"),
    )
    # fingerprint computation feeds both sides of the self-join
    sim = sim.localCheckpoint(eager=False)
    base, rem = bits // m, bits % m
    # chunk c covers [off_c, off_c + w_c); first `rem` chunks one wider
    offsets, widths, off = [], [], 0
    for c in range(m):
        w = base + (1 if c < rem else 0)
        offsets.append(off)
        widths.append(w)
        off += w

    def chunk_val(c: int):
        # a 64-bit chunk (n_chunks=1) needs the all-ones mask, whose
        # unsigned literal overflows a Java long — use -1's bit pattern
        w = widths[c]
        mask = F.lit(-1).cast("long") if w >= 64 else F.lit((1 << w) - 1)
        return F.shiftright("_sh", offsets[c]).bitwiseAND(mask)

    combos = list(combinations(range(m), m - max_hamming))
    keyed_rows = [
        F.struct(
            F.lit(ci).alias("tbl"),
            *[chunk_val(c).alias(f"k{j}") for j, c in enumerate(combo)],
        )
        for ci, combo in enumerate(combos)
    ]
    key_cols = [f"k{j}" for j in range(m - max_hamming)]
    chunked = sim.select(
        "_id", "_sh", F.explode(F.array(*keyed_rows)).alias("_c")
    ).select("_id", "_sh", F.col("_c.tbl").alias("tbl"),
             *[F.col(f"_c.{k}").alias(k) for k in key_cols])
    a, b = chunked.alias("a"), chunked.alias("b")
    cond = F.col("a.tbl") == F.col("b.tbl")
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    ham = F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh")))
    return (
        a.join(b, cond)
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    threshold: float = 0.3,
    max_doc_frequency: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs sharing at
    least one shingle (inverted-index join on shingle hash — the
    classic "join on token, aggregate intersection" formulation; no
    crossJoin). Output: (id_a, id_b, jaccard).

    ``max_doc_frequency`` drops shingles appearing in more than that
    many documents BEFORE the self-join (stop-shingle removal): a
    shingle shared by k docs fans out to k² candidate rows, so one
    boilerplate phrase in 1M docs would otherwise dominate the whole
    shuffle at scale. Capped shingles leave |∩| (and doc sizes — both
    sides consistently) so Jaccard becomes a lower bound for the
    affected pairs; None keeps exact semantics (and is what the
    correctness oracle replays).
    """
    from openoa_spark.session import spread_small_input

    # the 16-byte (id, hash) shingle table feeds the size rollup, the
    # doc-frequency cap, and BOTH self-join sides — cut the lineage
    # once so the explode+hash pipeline (the dominant CPU) executes
    # once, the same materialize-the-small-derivative trade as the
    # minhash signature checkpoint
    sh = spread_small_input(df).select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(text_col, shingle_n)).alias("_sh"),
    ).withColumn("_shh", F.xxhash64("_sh")).drop("_sh").localCheckpoint(
        eager=False
    )
    if max_doc_frequency is not None:
        dfreq = sh.groupBy("_shh").agg(F.count(F.lit(1)).alias("_df"))
        sh = sh.join(
            dfreq.where(F.col("_df") <= max_doc_frequency).select("_shh"), "_shh"
        )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a._shh") == F.col("b._shh"))
        .where(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a candidate-pair edge list by
    min-label propagation with pointer doubling: each round every
    vertex adopts the smallest label reachable in one hop, then
    shortcuts to its label's label (path halving). The shortcut step
    makes ``max_iter`` rounds cover chains of length ~2^max_iter, so 25
    rounds handle any realistic component diameter; if the loop still
    exits unconverged a warning is emitted rather than returning
    silently-partial labels. Each round is two joins + one aggregate;
    ``localCheckpoint`` truncates the growing lineage so round N's
    plan doesn't replay rounds 1..N-1.

    Output: (doc_id, component) — component = min doc id in the
    cluster. Only vertices that appear in ``pairs`` are returned
    (isolated docs are their own component by definition; callers
    union them back, see :func:`near_dedup`).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        # materialize ONCE: every propagation round joins edges, and
        # without this the full upstream pair-generation lineage
        # (minhash etc.) replays per round
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("_nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("_nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        # Pointer doubling (path halving): jump to the component's own
        # current component. Turns O(diameter) convergence into
        # O(log diameter) — a length-L chain resolves in ~log2(L)
        # rounds instead of L.
        lab2 = new_labels.select(
            F.col("id").alias("_lid"), F.col("component").alias("_lcomp")
        )
        new_labels = (
            new_labels.join(lab2, new_labels.component == lab2._lid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("_lcomp", F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels may be partial (components with diameter > "
            f"2^{max_iter} unresolved)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), "component")


def near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash-LSH candidate pairs →
    connected components → keep the lowest-id document per cluster
    (plus every unpaired document). The standard LLM-corpus dedup
    composition; every stage is a bucketed equi-join, never all-pairs.
    """
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        jaccard_threshold, hash_fn, max_band_bucket,
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score: Column,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate removal keeping the BEST-scoring document per
    cluster (ties broken by lowest id) instead of near_dedup's lowest
    id — the production corpus-cleaning policy: when a page exists in
    several scraped variants, keep the highest-quality one.

    ``score`` is any deterministic Column over ``df`` (e.g.
    text.quality_score). Same scale shape as near_dedup: LSH candidate
    pairs -> connected components -> ONE hash-agg per component taking
    max(struct(score, -id)) — the arg-max never needs a sort or a
    window over the corpus; unpaired documents bypass the whole path
    via an anti-join.
    """
    pairs = minhash_near_dup_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n,
        jaccard_threshold, hash_fn, max_band_bucket,
    )
    comp = connected_components(pairs).select(
        F.col("doc_id").alias("_cid"), "component"
    )
    scored = df.withColumn("_score", score)
    members = scored.join(comp, scored[id_col] == F.col("_cid")).select(
        "component", F.col(id_col).alias("_id"), "_score"
    )
    # kept = df \ losers: one anti-join, one corpus scan (1978776; plans:
    # git show 9378dbf:plans/r12/near_dedup_keep_best_docs_{before,after}.txt)
    winners = (
        members.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col("_score").alias("s"), (-F.col("_id")).alias("n"))
            ).alias("w")
        )
        .select("component", (-F.col("w.n")).alias("_win_id"))
    )
    losers = (
        members.join(winners, "component")
        .where(F.col("_id") != F.col("_win_id"))
        .select(F.col("_id").alias("_loser_id"))
    )
    return df.join(losers, df[id_col] == F.col("_loser_id"), "left_anti")


def incremental_exact_dedup(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    fingerprint_path: str,
    normalized: bool = True,
) -> DataFrame:
    """Cross-batch exact dedup for a continuously-ingesting corpus:
    drop batch rows whose content hash was already accepted in ANY
    previous batch (via the persistent fingerprint table at
    ``fingerprint_path``), keep one representative (min id) per new
    hash within the batch, and append the newly-accepted fingerprints.

    Scale shape: the fingerprint table stores ONLY the 8-byte content
    hash — never text — so the anti-join ships hashes, and at 100 TB
    the table is ~0.01% of corpus size. The append is the only write
    (no rewrite of accumulated state); re-running the same batch after
    a crash between return and downstream-commit re-filters against
    fingerprints that now include this batch, yielding zero rows —
    the idempotent-by-construction replay story.

    Returns the accepted batch rows (original columns).
    """
    c = normalize_text(text_col) if normalized else F.col(text_col)
    keyed = batch.withColumn("_key", F.xxhash64(c))
    first = keyed.groupBy("_key").agg(F.min(F.col(id_col)).alias("_keep_id"))
    intra = keyed.join(
        first.withColumnRenamed("_key", "_fk"),
        (keyed["_key"] == F.col("_fk")) & (keyed[id_col] == F.col("_keep_id")),
    ).select(*batch.columns, "_key")

    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(fingerprint_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        seen = spark.read.parquet(fingerprint_path)
        fresh = intra.join(seen, intra["_key"] == seen["key"], "left_anti")
    else:
        fresh = intra
    # localCheckpoint: the accepted set must be FIXED before we append
    # its fingerprints, or the lazy plan would re-read the table it
    # just grew and anti-join everything away.
    fresh = fresh.localCheckpoint(eager=True)
    fresh.select(F.col("_key").alias("key")).write.mode("append").parquet(
        fingerprint_path
    )
    return fresh.drop("_key")


def incremental_near_dedup(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    state_path: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    sink=None,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Cross-batch NEAR-duplicate removal for a continuously-ingesting
    corpus — the MinHash analogue of :func:`incremental_exact_dedup`:
    drop batch rows whose estimated Jaccard against ANY previously
    accepted document reaches ``jaccard_threshold`` (history wins:
    first-accepted representative survives, like the exact path), run
    the ordinary within-batch near_dedup on what remains, and append
    the survivors' LSH state.

    Persistent state under ``state_path`` (two append-only tables,
    never rewritten):

    - ``bands/``  (id, band, bhash) — 3 longs per (doc, band): the
      candidate-generation index. The cross-batch join is a bucketed
      equi-join on (band, bhash) shipping 24-byte rows, never text.
    - ``sigs/``   (id, sig) — one array<long> row per accepted doc
      (~8·num_hashes bytes), consulted ONLY for candidate
      verification via a broadcast of the batch's candidate-id set —
      at corpus scale the scan prunes by id when the table is written
      sorted/bucketed by id, and nothing ever shuffles it.

    Replay idempotence by construction: re-running a committed batch
    finds each doc's own signature in history (estimate 1.0 — SELF
    matches are deliberately not excluded) and returns zero rows.
    Docs too short to shingle carry no signature, cannot be judged,
    and pass through (same unpaired-doc semantics as near_dedup).

    Crash-ordering contract: pass ``sink`` (a callable receiving the
    materialized accepted rows) to land output BEFORE any state
    appends — a crash after the sink replays the batch against
    unchanged state and overwrites the same output, a crash after the
    state appends replays to zero rows against an output that already
    landed. (Returning rows for a later external write instead leaves
    a window where appended state suppresses rows that never landed —
    the same at-most-once caveat incremental_exact_dedup documents.)
    State append order is sigs/ then bands/, and history existence is
    gated on bands/ (written LAST), so a crash between the two leaves
    a sigs-only remnant that reads as empty history and is safely
    re-processed — never a bands-without-sigs state that would fail
    every subsequent read.
    """
    sig = _minhash_signatures(
        batch, text_col, id_col, num_hashes, shingle_n, hash_fn
    )
    # lineage-cut the signature pipeline (lazy — materializes at the
    # first of this function's several actions, reused by the rest),
    # so the accepted-checkpoint, CC, and new_sig actions cannot each
    # re-run tokenize/shingle/minhash from the source. Measured at the
    # r10 probe's 2.5k-doc micro-batches the wall delta is noise (the
    # LSH joins + CC + state writes dominate), but the guarantee is
    # what scales: without it the recompute cost grows with trigger
    # size. Storage pin is micro-batch-sized (~8·num_hashes B/doc).
    # (The probe's numInputRows = 2x batch is EXPECTED and unrelated:
    # the raw batch legitimately feeds two consumers — this signature
    # pipeline and the survivors anti-join.)
    sig = sig.localCheckpoint(eager=False)
    banded = _band_hashes(sig, num_hashes, bands, hash_fn)

    jvm = spark._jvm
    bands_path = f"{state_path}/bands"
    sigs_path = f"{state_path}/sigs"
    p = jvm.org.apache.hadoop.fs.Path(bands_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())

    dup_of_history = None
    if fs.exists(p):
        hist_bands = spark.read.parquet(bands_path)
        hist_sigs = spark.read.parquet(sigs_path)
        # candidate history docs per batch doc: equi-join on the band
        # key, then verify against the full history signature
        cand = (
            banded.join(
                hist_bands,
                (banded["band"] == hist_bands["band"])
                & (banded["bhash"] == hist_bands["bhash"]),
            )
            .select(F.col("_id"), F.col("_sig"), hist_bands["id"].alias("_hid"))
            .dropDuplicates(["_id", "_hid"])
        )
        verified = cand.join(
            hist_sigs.withColumnRenamed("id", "_hid"), "_hid"
        ).withColumn(
            "_est",
            F.size(
                F.filter(
                    F.zip_with(F.col("_sig"), F.col("sig"), lambda x, y: x == y),
                    lambda v: v,
                )
            )
            / F.lit(float(num_hashes)),
        )
        dup_of_history = (
            verified.where(F.col("_est") >= jaccard_threshold)
            .select(F.col("_id").alias(id_col))
            .distinct()
        )
        survivors = batch.join(dup_of_history, id_col, "left_anti")
        banded_surv = banded.join(
            dup_of_history.withColumnRenamed(id_col, "_id"), "_id",
            "left_anti",
        )
    else:
        survivors = batch
        banded_surv = banded

    # within-batch near-dedup of what history didn't already cover —
    # REUSING the batch's banded signatures (the signature pipeline is
    # the dominant CPU; it must run once per batch, not twice).
    # max_band_bucket bounds a templated batch's clique blowup the
    # same way as the batch operator; the CROSS-batch join above needs
    # no cap because history buckets hold only accepted (already
    # deduped) representatives — the dedup itself keeps them small.
    pairs = _pairs_from_banded(
        banded_surv, num_hashes, jaccard_threshold, max_band_bucket
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    accepted = survivors.join(losers, id_col, "left_anti")
    # fix the accepted set BEFORE the sink and state appends (the lazy
    # plan would otherwise re-read the tables it is about to grow)
    accepted = accepted.localCheckpoint(eager=True)
    if sink is not None:
        sink(accepted)

    acc_ids = accepted.select(F.col(id_col).alias("_aid"))
    new_sig = sig.join(acc_ids, sig["_id"] == F.col("_aid")).select(
        F.col("_id").alias("id"), F.col("_sig").alias("sig")
    )
    new_sig = new_sig.localCheckpoint(eager=True)
    new_sig.write.mode("append").parquet(sigs_path)
    _band_hashes(
        new_sig.select(F.col("id").alias("_id"), F.col("sig").alias("_sig")),
        num_hashes, bands, hash_fn,
    ).select(F.col("_id").alias("id"), "band", "bhash").write.mode(
        "append"
    ).parquet(bands_path)
    return accepted


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 10,
) -> DataFrame:
    """Chunk-level exact deduplication — the C4/RefinedWeb "line
    dedup" analogue for corpora without newline structure: split each
    document into consecutive ``chunk_tokens``-token chunks, keep each
    distinct chunk only at its FIRST occurrence corpus-wide (smallest
    ``(id, position)``), drop every other occurrence, and reassemble
    the surviving chunks of each document in order.

    Documents whose every chunk appeared earlier vanish from the
    output entirely — that IS the dedup (the whole document is
    repeated content). Training-data-pipeline extension; the reference
    has no corpus-level text dedup.

    Scale shape: ownership is decided on a 128-bit chunk fingerprint
    (two independent xxhash64 passes — collision odds ~n²/2¹²⁹, i.e.
    ~1e-15 even at 10¹² chunks, so the "exact" claim survives corpus
    scale where a single 64-bit hash would be expected to collide) —
    the ownership aggregate and its join back shuffle only
    (hash₁, hash₂, id, pos) tuples, never chunk text.
    (``min(struct(id, pos))`` plans as a SortAggregate — Spark has no
    hash-agg buffer for struct extrema — but the sorted rows are
    post-shuffle fixed-width tuples, so the extra cost is a
    per-partition sort, not a second shuffle.) Chunk TEXT crosses the
    network exactly once: the kept (id, pos) pairs collapse to one
    int-array row per doc, the reassembly joins on ``id`` alone, and
    the final per-doc aggregate reuses that join's hash partitioning
    (joining on (id, pos) instead would partition by the pair and
    force a second full-text exchange for the id-grain aggregate).
    The in-doc membership probe is ``array_contains`` over the doc's
    own kept positions — O(chunks-per-doc) per chunk, bounded by
    document length, never by corpus size. The chunk table feeds both
    the ownership path and the reassembly join and is lineage-cut
    once with a SERIALIZED lazy checkpoint. Broadcast of kept_sets
    loses: the reassembly aggregate then cannot reuse the join's hash
    partitioning (receipts: OPTIMIZATION_r12.md).
    """
    chunks = _chunk_table(df, text_col, id_col, chunk_tokens)
    # serialized level: two consumers, ~2x at ×48 (receipts: OPTIMIZATION_r12.md)
    chunks = chunks.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    hashed = _chunk_fingerprints(chunks)
    # packed-decimal min instead of min(struct) lost 5/5 (OPTIMIZATION_r11.md)
    owner = hashed.groupBy("_h1", "_h2").agg(
        F.min(F.struct("_id", "pos")).alias("_o")
    )
    kept = owner.select(
        F.col("_o._id").alias("_id"), F.col("_o.pos").alias("pos")
    )
    return _reassemble(chunks, kept, id_col)


def _chunk_table(
    df: DataFrame, text_col: str, id_col: str, chunk_tokens: int,
    checkpoint: bool = False,
) -> DataFrame:
    """(id, pos, chunk) rows: consecutive ``chunk_tokens``-token chunks
    per document. split() yields >= 1 element even for empty text, so
    n_chunks >= 1 and sequence() never sees stop < start (which would
    COUNT DOWN); null text -> null array -> posexplode drops the row.

    ``checkpoint=True`` lineage-cuts the table at the default storage
    level, for inputs that are NOT a cheap re-scannable source (e.g.
    the incremental path's already-transformed micro-batch);
    chunk_dedup takes its own serialized cut instead."""
    from openoa_spark.datapipe.text import tokens
    from openoa_spark.session import spread_small_input

    df = spread_small_input(df)
    toks = tokens(F.col(text_col))  # the corpus-canonical tokenizer
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    ct = F.lit(chunk_tokens)
    out = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(F.slice(toks, i * ct + 1, ct), " "),
            )
        ).alias("pos", "chunk"),
    )
    return out.localCheckpoint(eager=False) if checkpoint else out


def _chunk_fingerprints(chunks: DataFrame) -> DataFrame:
    """128-bit chunk fingerprint (two independent xxhash64 passes)."""
    return chunks.select(
        "_id",
        "pos",
        F.xxhash64(F.col("chunk")).alias("_h1"),
        F.xxhash64(F.lit(1), F.col("chunk")).alias("_h2"),
    )


def _reassemble(chunks: DataFrame, kept: DataFrame, id_col: str) -> DataFrame:
    """Rebuild documents from their kept (id, pos) chunk occurrences.
    The kept pairs collapse to one int-array row per doc so the join
    runs on id alone and the final id-grain aggregate reuses its
    partitioning — chunk TEXT crosses the network exactly once."""
    kept_sets = kept.groupBy("_id").agg(F.collect_list("pos").alias("_keep"))
    return (
        chunks.join(kept_sets, "_id")
        .where(F.array_contains(F.col("_keep"), F.col("pos")))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("_id").alias(id_col), "n_kept", "clean_text")
    )


def incremental_chunk_dedup(
    spark,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    state_path: str,
    chunk_tokens: int = 10,
    sink=None,
) -> DataFrame:
    """Cross-batch chunk-level dedup for a continuously-ingesting
    corpus: a chunk survives only if it was never accepted in ANY
    previous batch (persistent 128-bit fingerprint table at
    ``state_path``) and is the first occurrence within this batch;
    documents reassemble from their surviving chunks (docs whose every
    chunk is old vanish — they carry no new content).

    Crash ordering follows the corrected incremental_near_dedup
    discipline: the accepted output is FIXED (eager localCheckpoint),
    handed to ``sink`` first, and only then are the new fingerprints
    appended — a crash between sink and state append replays the same
    batch output (sink must be idempotent per batch, e.g. the
    overwrite-by-batch partitioned writers in sources/sinks.py); a
    crash after the append makes the replay yield zero rows. State
    stores ONLY 16 bytes per distinct chunk — never text — so the
    anti-join ships fingerprints and the table is ~0.1% of corpus
    size. The append is the only write (no rewrite of accumulated
    state).
    """
    chunks = _chunk_table(batch, text_col, id_col, chunk_tokens,
                          checkpoint=True)
    hashed = _chunk_fingerprints(chunks)
    owner = hashed.groupBy("_h1", "_h2").agg(
        F.min(F.struct("_id", "pos")).alias("_o")
    )
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(state_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        seen = spark.read.parquet(state_path)
        fresh_owner = owner.join(
            seen,
            (owner["_h1"] == seen["h1"]) & (owner["_h2"] == seen["h2"]),
            "left_anti",
        )
    else:
        fresh_owner = owner
    # fix the accepted set BEFORE the sink and the state append (the
    # lazy plan would otherwise re-read the table it is about to grow)
    fresh_owner = fresh_owner.localCheckpoint(eager=True)
    kept = fresh_owner.select(
        F.col("_o._id").alias("_id"), F.col("_o.pos").alias("pos")
    )
    accepted = _reassemble(chunks, kept, id_col).localCheckpoint(eager=True)
    if sink is not None:
        sink(accepted)
    fresh_owner.select(
        F.col("_h1").alias("h1"), F.col("_h2").alias("h2")
    ).write.mode("append").parquet(state_path)
    return accepted


def duplicated_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 10,
) -> DataFrame:
    """ExactSubstr-style duplicated-span excision at token grain (the
    "deduplicating training data" operator, approximated with
    OVERLAPPING stride-1 windows instead of a suffix array): every
    ``window_tokens``-token window that occurred earlier in the corpus
    — smallest (id, pos) owns it — marks its token range as
    duplicated; a document keeps exactly its tokens covered by NO
    non-first window occurrence, reassembled in order. Unlike
    chunk_dedup (non-overlapping chunks), this catches duplicated
    spans at ANY alignment, the way boilerplate actually repeats.

    Defined approximation for self-overlapping repetition: a run of a
    repeated token collapses toward its first window (tokens covered
    by a non-first occurrence are excised even where that occurrence
    overlaps the first) — deterministic and engine-agnostic.

    Scale shape: windows are one stride-1 posexplode — one row per
    token — hashed to 128 bits (two xxhash64 passes) in the SAME
    projection, so window TEXT never crosses the network; ownership is
    one map-side-combined hash aggregate on the fingerprint; coverage
    fans each duplicate window to its ``window_tokens`` positions
    (bounded k×dups) into a distinct + anti-join at token grain; the
    final id-grain aggregate reassembles survivors. Every stage is an
    equi-join or hash agg on scalars.
    """
    from openoa_spark.datapipe.text import tokens
    from openoa_spark.session import spread_small_input

    k = int(window_tokens)
    if k < 2:
        raise ValueError("window_tokens must be >= 2")
    base = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("_id"),
            tokens(F.col(text_col)).alias("_toks"),
        )
        .localCheckpoint(eager=False)  # two consumers: windows + tokens
    )
    nt = F.size("_toks")
    wins = F.when(
        nt >= k,
        F.transform(
            F.sequence(F.lit(0), nt - k),
            lambda i: F.array_join(F.slice("_toks", i + 1, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    w = base.select(
        "_id", F.posexplode(wins).alias("pos", "_win")
    ).select(
        "_id",
        "pos",
        F.xxhash64("_win").alias("_h1"),
        F.xxhash64(F.lit(1), "_win").alias("_h2"),
    )
    owner = w.groupBy("_h1", "_h2").agg(F.min(F.struct("_id", "pos")).alias("_o"))
    dup = (
        w.join(owner, ["_h1", "_h2"])
        .where(
            (F.col("_id") != F.col("_o._id")) | (F.col("pos") != F.col("_o.pos"))
        )
        .select("_id", "pos")
    )
    covered = dup.select(
        "_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias("pos")
    ).distinct()
    tok_tbl = base.select("_id", F.posexplode("_toks").alias("pos", "_tok"))
    kept = tok_tbl.join(covered, ["_id", "pos"], "left_anti")
    return (
        kept.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("_id").alias(id_col), "n_kept", "clean_text")
    )
