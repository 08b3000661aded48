"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design (the 100 TB contract):
- exact dedup = hash-groupBy on a fingerprint — one shuffle;
- MinHash-LSH = signature computation is explode+groupBy (linear in
  corpus tokens), candidate generation joins on (band, band_hash) —
  only near-identical docs collide, so the join output is ~linear;
- SimHash = 64-bit signature via per-token bit votes, bucket join on
  signature prefix;
- NEVER an unblocked O(n²) self-join; the exact-Jaccard verifier runs
  only on LSH/blocking candidates.

All hashes are md5-derived for engine-independent determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.pipeline.text import fingerprint


def spread_input(df: DataFrame, n: int | None = None) -> DataFrame:
    """Round out scan parallelism BEFORE a per-row-expensive pass
    (shingle/gram transforms are interpreted higher-order lambdas —
    guide §2.5 'input skew'): a small corpus arrives as ONE parquet
    split (single-row-group files cannot split further however low
    maxPartitionBytes goes), so the whole gram fan-out would run in a
    single task. Repartition ONLY when the scan has fewer partitions
    than the target — at 100 TB the scan already has thousands of
    splits and this is a no-op (no shuffle added); measured at sf0.1
    the serial 8-gram pass was 4.0 s against ~0.4 s spread."""
    n = n or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id document per exact (normalized) text
    fingerprint."""
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .drop("__fp")
    )


def shingles(text_col: str, k: int = 3):
    """k-word shingles of lowercased text (distinct). Guarded for
    docs shorter than k tokens: Spark's sequence(1, 0) is DESCENDING
    [1,0] (not empty like DuckDB's generate_series), so short docs
    must short-circuit to an empty array.

    The token array is BOUND ONCE per doc as a transform() lambda
    variable (the pipeline/text.py hash_lm_ppl_micro idiom):
    interpreted higher-order functions get no common-subexpression
    elimination, so inlining the split() into the slice lambda re-ran
    the tokenizer once per shingle — O(tokens^2) per doc, measured 2x
    on the shingle explode at sf0.1 (0.47 s -> 0.23 s)."""
    toks = f"split(lower(trim({text_col})), '\\\\s+')"
    return F.array_distinct(
        F.expr(
            f"flatten(transform(array({toks}), t -> "
            f"CASE WHEN size(t) >= {k} THEN "
            f"transform(sequence(1, size(t) - {k - 1}),"
            f" i -> concat_ws(' ', slice(t, i, {k}))) "
            f"ELSE cast(array() as array<string>) END))"
        )
    )


_MERSENNE31 = 2_147_483_647  # 2^31-1, the classic minhash modulus


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_perm: int = 16, k: int = 3
) -> DataFrame:
    """(id, mh0..mh{num_perm-1}) wide signature: ONE md5 per shingle
    (60-bit base hash h), then ``num_perm`` affine permutations
    h_p = ((2p+1)·(h mod M) + 40503p) mod M over the Mersenne prime
    M=2^31-1 — the standard universal-hashing MinHash construction.

    All permutations are folded in a SINGLE groupBy as ``num_perm``
    min() aggregate columns over the shingle rows (each permutation is
    a cheap codegen'd expression): shuffle volume is |docs| wide rows,
    not |tokens|×num_perm exploded rows — at 100 TB that ×num_perm
    fan-out was the pipeline's dominant shuffle, and min() partials
    fold it map-side to one row per doc before the exchange."""
    sh = df.select(F.col(id_col), F.explode(shingles(text_col, k)).alias("__sh")).select(
        id_col,
        F.conv(F.substring(F.md5(F.col("__sh")), 1, 15), 16, 10).cast("bigint").alias("__h"),
    )
    hmod = F.col("__h") % _MERSENNE31
    return sh.groupBy(id_col).agg(
        *[
            F.min(((2 * p + 1) * hmod + p * 40503) % _MERSENNE31).alias(f"mh{p}")
            for p in range(num_perm)
        ]
    )


def _band_rows(
    signatures: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band, band_hash) rows from a wide signature: band b hashes
    its rows_per_band consecutive minhashes (md5 of the comma-joined
    values — the same text the oracle string_agg's)."""
    rows_per_band = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{p}").cast("string")
                            for p in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("__b")
    ).select(id_col, F.col("__b.band").alias("band"), F.col("__b.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    max_bucket: int | None = 1000,
    persist_banded=None,
    materialize: bool = False,
) -> DataFrame:
    """Band the wide signature (rows_per_band = num_perm/bands), hash
    each band, join docs sharing any (band, band_hash). Returns
    distinct (id_a < id_b) candidate pairs. The band explode fans out
    |docs|×bands tiny rows — negligible next to the corpus scan.

    Hot-bucket guard (``max_bucket``): a boilerplate-heavy corpus puts
    thousands of near-identical docs into ONE (band, band_hash) bucket,
    and the all-pairs self-join goes quadratic in that bucket — the
    classic 100 TB LSH failure mode. Buckets larger than ``max_bucket``
    therefore switch from all-pairs to a STAR join: every member pairs
    with the bucket's minimum id only (n-1 pairs instead of n·(n-1)/2).
    Recall impact: within a hot bucket, pairs not involving the
    representative are only found transitively — exact duplicates still
    form one connected component through the representative (their
    Jaccard vs the rep is 1.0), but a near-dup pair (a, b) where BOTH
    a-rep and b-rep fall below the verify threshold is missed unless
    some other (non-hot) band catches it. That is the documented price
    of linear candidate volume; raise ``max_bucket`` or pass ``None``
    (no cap) for small corpora where exactness matters more. Both
    bucket size and representative come from one window over the same
    (band, band_hash) shuffle the join needs anyway — no extra exchange
    on the banded rows.

    ``materialize=True`` localCheckpoints the banded-and-sized frame
    and forces it with one count() — the caller's whole upstream
    (corpus scan, shingle+md5 signature fold, band explode, window)
    then runs EXACTLY ONCE in a single job, and the three consumers
    (both self-join sides + the star branch) read the materialized
    narrow (id, band, band_hash, size, rep) rows instead of
    re-deriving the subtree per consumer. This replaced
    minhash_dedup_pairs' two separate persist+count barriers (r12
    shape: persist sigs, count; persist cands, count) — measured
    4.75 -> 2.77 s at sf0.1 and 8.94 -> 6.96 s at the sf1 probe (r13,
    alternating A/B, results identical). State is |docs|·bands narrow
    rows — bounded at any corpus scale; same recompute-on-executor-
    loss caveat as jaccard_verify's checkpoint."""
    banded = _band_rows(signatures, id_col, num_perm, bands)
    if max_bucket is None:
        if materialize:
            banded = banded.localCheckpoint(eager=False)
            banded.count()
        a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
        b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
        return (
            a.join(b, ["band", "band_hash"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    from pyspark.sql import Window

    wb = Window.partitionBy("band", "band_hash")
    # without materialize, three consumers recompute this frame (banded
    # explode + window shuffle per consumer) — measured FASTER than
    # plain .persist() at local scale when the upstream signatures are
    # already cached (5.9 s vs 8.3 s at sf0.1 r12: the deserialized
    # cache write of the full banded frame costs more than 2 extra
    # narrow shuffles). At 100 TB pass
    # ``persist_banded=StorageLevel.DISK_ONLY`` to trade the cache
    # write for skipping 2 shuffles of |docs|×bands rows (clear with
    # spark.catalog.clearCache() when done — r2 ADVICE flagged the
    # always-on persist as a session-lifetime cache leak).
    sized = banded.withColumn("__bsz", F.count("*").over(wb)).withColumn(
        "__rep", F.min(id_col).over(wb)
    )
    if persist_banded is not None:
        sized = sized.persist(persist_banded)
    if materialize:
        sized = sized.localCheckpoint(eager=False)
        sized.count()
    cold = sized.where(F.col("__bsz") <= max_bucket)
    a = cold.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = cold.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    all_pairs = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # rep = min(id) ⇒ id_a < id_b holds by construction
    star = sized.where(
        (F.col("__bsz") > max_bucket) & (F.col(id_col) != F.col("__rep"))
    ).select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    return all_pairs.unionByName(star).distinct()


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = 3,
) -> DataFrame:
    """Exact k-shingle Jaccard on candidate pairs only. Each candidate
    DOCUMENT is shingled exactly once in a pre-join projection and the
    pair join consumes the finished arrays. Shingling per PAIR (the
    obvious join-texts-then-shingle shape) is a trap: the shingle
    expression is a higher-order ``transform`` lambda, which disables
    whole-stage codegen for the enclosing operators, and the
    interpreted evaluator has no subexpression elimination — the
    filter + double array op re-evaluated the whole shingle tree ~6x
    per pair (measured ~10-20ms/pair at sf0.1). Keeping the lambda in
    its own per-doc projection bounds it to one eval per candidate doc
    regardless of how many pairs the doc appears in — at 100 TB the
    candidate-doc set is the small side by LSH construction."""
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # per-doc projection carries HASHED shingles (60-bit md5 prefix as
    # BIGINT) plus the set size. Two per-pair savings vs raw string
    # sets: (1) array_intersect hashes/compares 8-byte longs instead of
    # ~20+ char shingle strings (and the join shuffle payload shrinks
    # the same way); (2) |a ∪ b| = |a| + |b| − |a ∩ b| replaces the
    # per-pair array_union materialization with integer arithmetic on
    # sizes hoisted to one per-doc column. Set cardinalities (and hence
    # jaccard) are unchanged modulo md5 collisions, which are
    # deterministic and reproduced bit-for-bit by the DuckDB oracle
    # (same md5-prefix arithmetic on both engines — the float rule).
    # Measured at the sf1 scale probe: verify stage 37.8 s → arrays of
    # longs cut the interpreted intersect cost ~3x.
    hashed_set = F.transform(
        shingles(text_col, k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )
    # size() reads the materialized __set column, not a second copy of
    # the transform tree (CollapseProject keeps the alias because it is
    # referenced twice and non-cheap — the interpreted-lambda CSE trap
    # documented above)
    sets_ = (
        df.join(F.broadcast(cand_ids), id_col)
        .select(F.col(id_col), hashed_set.alias("__set"))
        .withColumn("__n", F.size("__set"))
    )
    # materialize the per-doc sets ONCE (lazy localCheckpoint: computed
    # on first use, reused by the second join side) — both the a and b
    # sides read this frame, and without the barrier each side re-ran
    # the candidate-doc shingle+md5 pass AND the planner, seeing only
    # size estimates, sort-merge-joined the array payloads (measured
    # 5.4 s -> 1.1 s for the verify stage at sf0.1). Size is bounded by
    # the candidate-doc count — the small side by LSH construction at
    # any scale. Same fault-tolerance caveat as the pipeline's result
    # checkpoint below: recompute-on-executor-loss is lost, acceptable
    # for a bounded intermediate; the ContextCleaner frees the blocks
    # once the returned frame is dropped.
    sets_ = sets_.localCheckpoint(eager=False)
    a = sets_.select(
        F.col(id_col).alias("id_a"),
        F.col("__set").alias("__set_a"),
        F.col("__n").alias("__n_a"),
    )
    b = sets_.select(
        F.col(id_col).alias("id_b"),
        F.col("__set").alias("__set_b"),
        F.col("__n").alias("__n_b"),
    )
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__set_a", "__set_b"))
    union = F.col("__n_a") + F.col("__n_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return joined.select(
        "id_a", "id_b", F.round(jac, 4).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    join → exact-Jaccard verification.

    The entry repartition spreads the shingle/permutation fan-out over
    the cluster — small corpora otherwise ride a single input split
    through the whole pipeline (one task doing all the hashing); at
    scale the same shuffle co-locates docs by id ahead of the per-doc
    groupBys."""
    # explicit partition count: AQE would coalesce a by-size repartition
    # of the (small, pre-explode) doc rows down to one task, serializing
    # the ~|tokens|×num_perm hash fan-out that follows
    n = df.sparkSession.sparkContext.defaultParallelism
    # persist the repartitioned corpus: the signature pass and the two
    # verify-side text joins each re-scan it; at 100 TB swap this for
    # DISK_ONLY or drop it and pay the re-scan — the pipeline is
    # correct either way. Only (id, text) is carried — caching the
    # full row width just inflates the cache and the shuffle.
    df = df.select(id_col, text_col).repartition(n, F.col(id_col)).persist()
    sigs = minhash_signatures(df, text_col, id_col, num_perm, k)
    # ONE materialization barrier for the whole candidate side (r13,
    # VERDICT r12 #3): lsh_candidate_pairs(materialize=True)
    # localCheckpoints the banded+sized frame and counts it, so corpus
    # cache fill, the shingle+md5 signature fold, the band explode and
    # the bucket window all run in a single job, exactly once. The r12
    # shape paid two extra barriers (persist+count sigs, persist+count
    # cands) whose job fixed costs dominated at bench scale — and the
    # sigs cache existed only to shield the three banded consumers,
    # which the checkpoint now feeds directly. cands is deliberately
    # NOT persisted: its two consumers (the cand_ids broadcast and the
    # verify join) re-derive it from the materialized banded rows —
    # narrow work, cheaper than another barrier (A/B in
    # lsh_candidate_pairs' docstring; results identical).
    cands = lsh_candidate_pairs(
        sigs, id_col, num_perm, bands, max_bucket, materialize=True
    )
    # materialize the (small) verified-pair result eagerly, then release
    # every cache this pipeline holds: repeated invocations previously
    # accumulated session-lifetime cached frames (r2 ADVICE). The
    # localCheckpoint blocks back the returned frame and is freed by the
    # ContextCleaner once unreferenced (caveat: not fault-tolerant —
    # recompute-on-executor-loss is lost, acceptable for a result set
    # bounded by the near-dup pair count).
    res = jaccard_verify(df, cands, text_col, id_col, threshold, k).localCheckpoint(
        eager=True
    )
    df.unpersist()
    return res


def minhash_dedup_against(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.6,
    num_perm: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """INCREMENTAL MinHash-LSH dedup — near-dup pairs of a NEW shard
    against an EXISTING base corpus (the dedup-the-new-crawl-against-
    the-index pass every rolling ingestion pipeline runs; CCNet /
    RefinedWeb both dedup incoming snapshots against prior ones).
    Returns verified (id_a = base doc, id_b = new doc, jaccard) pairs;
    dropping matched new docs is an anti-join on id_b. Id spaces must
    be disjoint. Within-shard duplicates are ``minhash_dedup_pairs``'
    job — this op's candidate join is strictly base x new, so the
    quadratic term of a self-join never appears: at 100 TB the base
    side's banded rows are a static index you materialize once and the
    per-snapshot cost is |new| signatures + the bucket join.

    Hot-bucket guard mirrors ``lsh_candidate_pairs``: a bucket whose
    BASE side exceeds ``max_bucket`` pairs each new member with the
    bucket's min base id only (the star representative) — candidate
    volume stays linear in |new|; same documented recall price."""
    from pyspark.sql import Window

    spark = new_df.sparkSession
    n = spark.sparkContext.defaultParallelism
    base = base_df.select(id_col, text_col).repartition(n, F.col(id_col)).persist()
    new = new_df.select(id_col, text_col).repartition(n, F.col(id_col)).persist()
    # one signature pass per side; materialize before the bucket join
    # fans out (the r8 cold-cache-race lesson)
    sigs_b = minhash_signatures(base, text_col, id_col, num_perm, k).persist()
    sigs_b.count()
    sigs_n = minhash_signatures(new, text_col, id_col, num_perm, k).persist()
    sigs_n.count()
    banded_b = _band_rows(sigs_b, id_col, num_perm, bands).select(
        F.col(id_col).alias("id_a"), "band", "band_hash"
    )
    banded_n = _band_rows(sigs_n, id_col, num_perm, bands).select(
        F.col(id_col).alias("id_b"), "band", "band_hash"
    )
    if max_bucket is None:
        cands = (
            banded_n.join(banded_b, ["band", "band_hash"])
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        wb = Window.partitionBy("band", "band_hash")
        sized = banded_b.withColumn("__bsz", F.count("*").over(wb)).withColumn(
            "__rep", F.min("id_a").over(wb)
        )
        cold = sized.where(F.col("__bsz") <= max_bucket).select(
            "id_a", "band", "band_hash"
        )
        pairs_cold = banded_n.join(cold, ["band", "band_hash"]).select("id_a", "id_b")
        hot = (
            sized.where(F.col("__bsz") > max_bucket)
            .select("band", "band_hash", F.col("__rep").alias("id_a"))
            .distinct()
        )
        pairs_hot = banded_n.join(hot, ["band", "band_hash"]).select("id_a", "id_b")
        cands = pairs_cold.unionByName(pairs_hot).distinct()
    cands = cands.persist()
    cands.count()
    sigs_b.unpersist()
    sigs_n.unpersist()
    corpus = base.unionByName(new)
    res = jaccard_verify(corpus, cands, text_col, id_col, threshold, k).localCheckpoint(
        eager=True
    )
    base.unpersist()
    new.unpersist()
    cands.unpersist()
    return res


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash signature: per-token md5-derived ``bits``-bit hash; each
    bit position votes +1/-1 weighted by token frequency; sign of the
    vote is the signature bit. Work is one token explode + one groupBy
    with ``bits`` sum columns — no per-bit row fan-out.

    r12: ``bits`` up to 64 — votes for bits 60+ read a SECOND 60-bit
    hash limb (md5 hex chars 16-30; the first limb is chars 1-15), and
    bit 63 contributes the two's-complement sign term (−2^63), so a
    full 64-bit signature round-trips through BIGINT exactly — the
    classic 64-bit SimHash whose sign bit the hamming band join now
    handles (ADVICE r11 #1)."""
    if bits > 64:
        raise ValueError("simhash supports at most 64 bits (BIGINT signature)")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    )
    hcols = [
        F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10)
        .cast("bigint").alias("__h"),
    ]
    if bits > 60:
        hcols.append(
            F.conv(F.substring(F.md5(F.col("__tok")), 16, 15), 16, 10)
            .cast("bigint").alias("__h2")
        )
    tok_h = toks.select(id_col, *hcols)
    # one groupBy with ``bits`` sum() columns (each bit test is a
    # codegen'd expression) instead of a ×bits row explode — shuffle is
    # |docs| wide rows and the sums fold map-side, same shape as the
    # minhash signature agg
    votes = tok_h.groupBy(id_col).agg(
        *[
            F.sum((
                (F.shiftright("__h", b) if b < 60
                 else F.shiftright("__h2", b - 60)) % 2
            ) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        bitval = F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("bigint")
        term = F.when(F.col(f"v{b}") > 0, bitval).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return votes.select(id_col, sig.alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With ``block_col`` the self-join
    is restricted to equal blocks (LSH bucket / cluster id / shard key)
    — at 100 TB pass a bucket column from similarity.lsh_bucket, never
    run unblocked."""
    cols = [F.col(id_col), F.col(vec_col)] + ([F.col(block_col)] if block_col else [])
    v = F.col(vec_col).cast("array<double>")
    # norms hoisted to one per-row column (O(n·d)) — recomputing them
    # inside the pair join is O(pairs·d); dot/(na*nb) association is
    # unchanged, so the rounded threshold surface is bit-identical
    base = df.select(
        *cols,
        F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)).alias("__norm"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
        *([F.col(block_col).alias("__blk")] if block_col else []),
    )
    on = ["__blk"] if block_col else None
    joined = a.join(b, on) if on else a.crossJoin(b)
    joined = joined.where(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with(
            F.col("__va").cast("array<double>"),
            F.col("__vb").cast("array<double>"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("__na") * F.col("__nb"))
    return joined.select("id_a", "id_b", F.round(cos, 4).alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def _cosine(a, b):
    """Pair cosine with norms evaluated inline. Hot-path note: inside a
    pair JOIN this recomputes each side's norm per pair — hoist the
    norm to a per-row column before the join and divide the dot by the
    product instead (bit-identical: same dot/(na*nb) association), as
    semantic_dedup does. Fine as-is for map-side probe × broadcast-
    query shapes where one side is a literal."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))
    return dot / (na * nb)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) labeling of the near-dup pair graph: component
    = the minimum node id reachable through the pairs. This is the step
    that turns pairwise dedup output into droppable clusters (keep one
    doc per component) — at 100 TB the pair list alone is useless
    without it.

    Algorithm: iterative min-label propagation (the simple variant of
    the alternating-star map-reduce CC algorithms): each round every
    node takes min(own label, neighbors' labels); converges in
    O(diameter) rounds — near-dup graphs are star/clique-shaped, so
    2-4 rounds in practice. Each round is two shuffles (edge-label
    join + min groupBy) and the frame is localCheckpoint-ed so the
    loop doesn't build an N-deep plan (same superstep pattern as
    DataStream.iterate). The driver sees only the converged/not flag
    (a count), never data.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.where(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            break
    return labels


def keep_canonical(
    df: DataFrame, pairs: DataFrame, id_col: str, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Drop every near-duplicate except the minimum-id doc of its
    connected component — the terminal dedup step of a training-data
    pipeline (pairs → components → one canonical row per cluster).
    Docs that appear in no pair survive untouched (left-anti on the
    non-canonical node set, a broadcast-friendly small side)."""
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans: every maximal token range whose
    k-token windows ALL occur in >= ``min_docs`` distinct documents —
    the distributed approximation of suffix-array substring dedup
    ("Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2021): a duplicated substring of length >= k is exactly a run of
    duplicated k-windows, so window-hashing + islands-merging finds the
    same spans without a (cluster-hostile) global suffix array.

    Plan shape (the 100 TB contract):
    - one map pass builds per-doc window hashes (transform over the
      token array — no explode of raw gram TEXT; the shuffle carries
      md5 keys, not k-word strings);
    - one groupBy(window-hash) with map-side partial counts finds
      windows seen in >= min_docs docs;
    - one hash join marks hit positions;
    - islands-merge runs per document (window partitioned by doc id —
      bounded by the doc's token count, never corpus-sized).

    Returns (id_col, span_start, span_end, n_windows) in 0-based token
    offsets, end exclusive. Documents with a NULL id are left out: they
    would all share one islands partition, merging their hits into
    cross-document spans, and ``remove_duplicate_spans``'s equi-join on
    the id could not apply their spans anyway. They count toward no
    gram either (``countDistinct`` ignores NULL ids)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    d = spread_input(
        df.select(F.col(id_col), F.col(text_col)).where(F.col(id_col).isNotNull())
    ).select(F.col(id_col), toks.alias("__toks"))
    # windows i = tokens [i, i+k) for i in 0..n-k; short docs produce
    # none (sequence(0, negative) would DESCEND — guard like shingles())
    grams = F.expr(
        f"CASE WHEN size(__toks) >= {k} THEN "
        f"transform(sequence(0, size(__toks) - {k}), "
        f"i -> md5(concat_ws(' ', slice(__toks, i + 1, {k})))) "
        f"ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    wins = d.select(id_col, F.posexplode(grams).alias("pos", "__gh"))
    if min_docs <= 2:
        # "seen in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id):
        # ONE exchange of (gh, min, max) partials replaces the
        # countDistinct expansion's TWO token-scale exchanges (partial
        # dedup on (gh, doc_id), then the per-gh count) — measured
        # 8.6 -> 3.4 s for the aggregate at the sf1 probe (r13).
        # min_docs == 1 means every gram is a hit (NULL ids are gone);
        # min != max would wrongly drop single-doc grams there.
        agged = wins.groupBy("__gh").agg(
            F.min(id_col).alias("__lo"), F.max(id_col).alias("__hi")
        )
        dup = agged.where(
            F.lit(True) if min_docs <= 1
            else F.col("__lo") != F.col("__hi")
        ).select("__gh")
    else:
        dup = (
            wins.groupBy("__gh")
            .agg(F.countDistinct(id_col).alias("__nd"))
            .where(F.col("__nd") >= min_docs)
            .select("__gh")
        )
    # measure-then-choose the dup join strategy (guide §3.1 — size
    # ESTIMATES above an aggregate are unusable, and without the hint
    # AQE first materialized the token-scale wins shuffle before
    # flipping SMJ -> broadcast at runtime: measured 5.1-7.9 s vs
    # 3.2-4.3 s per run at the sf1 probe, every rep, r13). The dup-gram
    # frame is materialized once (it is this pass's whole output
    # anyway), its REAL row count picks the strategy: broadcast when it
    # provably fits, plain shuffle join otherwise — at 100 TB the dup
    # set exceeds any broadcast budget and the rule degrades to the
    # exchange the optimizer would pick. Threshold parameterized
    # (rows; ~32-char md5 keys, default ≈ 100-150 MB built relation).
    import os as _os

    dup = dup.localCheckpoint(eager=False)
    n_dup = dup.count()
    bcast_max = int(_os.environ.get("SPARK_GRAFT_BCAST_DUP_ROWS", "2000000"))
    jdup = F.broadcast(dup) if n_dup <= bcast_max else dup
    hits = wins.join(jdup, "__gh").select(id_col, "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.withColumn(
        "__new",
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k).cast("bigint").alias("span_end"),
            F.count("*").cast("bigint").alias("n_windows"),
        )
        .drop("__isl")
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Cut the duplicated token ranges out of each document (the
    destructive half of substring dedup — Lee et al. 2021 drop the span
    from all but one occurrence; here every occurrence is cut, the
    conservative variant that never trains on the substring twice).
    Docs without spans pass through untouched. One aggregation of the
    (bounded, per-doc) span list + one left join — the corpus never
    re-shuffles by anything other than the id."""
    cuts = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__cuts")
    )
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return (
        df.join(cuts, id_col, "left")
        .withColumn("__toks", toks)
        .withColumn(
            "__idx",
            F.expr("CASE WHEN size(__toks) > 0 THEN sequence(0, size(__toks) - 1) "
                   "ELSE CAST(array() AS ARRAY<INT>) END"),
        )
        .withColumn(
            "__kept_text",
            F.when(
                F.col("__cuts").isNull(), F.lower(F.trim(F.col(text_col)))
            ).otherwise(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(filter(__idx, i -> NOT exists(__cuts, "
                        "c -> i >= c.span_start AND i < c.span_end)), "
                        "i -> __toks[i])"
                    ),
                )
            ),
        )
        .drop("__cuts", "__toks", "__idx", text_col)
        .withColumnRenamed("__kept_text", text_col)
    )


def _pair_block_groups(base: DataFrame, id_col: str, max_cell: int) -> DataFrame:
    """Replicate each row of an oversized cell into its pair-of-blocks
    groups: cell members hash into B = ceil(|cell| / max_cell)
    sub-blocks, and a row in block b joins group (min(b, j), max(b, j))
    for every j in [0, B) — so every pair of cell members meets in
    exactly one (cell, __gi, __gj) group and each group holds at most
    two blocks (~2*max_cell rows). Cells at or under the cap get B == 1
    (a single (0, 0) group — today's per-cell pass unchanged)."""
    cnts = base.groupBy("cell").agg(F.count("*").alias("__n"))
    # cnts is k rows (bounded coordination state) — broadcast it
    return (
        base.join(F.broadcast(cnts), "cell")
        .withColumn("__nb", F.ceil(F.col("__n") / F.lit(int(max_cell))).cast("int"))
        .withColumn(
            "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nb")).cast("int")
        )
        # __nb is always >= 1 so sequence() is ascending (the
        # sequence(1, 0) descending trap never applies)
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)))
        .withColumn("__gi", F.least("__blk", "__j"))
        .withColumn("__gj", F.greatest("__blk", "__j"))
        .drop("__n", "__nb", "__j")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seeds: list[list[float]],
    threshold: float,
    max_cell: int = 8192,
    materialize: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    space with a k-means quantizer, then deduplicate only WITHIN each
    cluster — pairwise cosine never crosses cluster boundaries, so the
    candidate set is sum(|cluster|^2), not |corpus|^2 (the paper's
    scaling trick, same blocking contract as the LSH banded join).

    Keep rule: among duplicates (rounded cosine >= threshold) the
    member FARTHEST from its cluster centroid survives (the paper's
    low-similarity-to-centroid representative), min-id tiebreak.
    Expressed as one rank comparison per duplicate pair — a vector is
    dropped iff ANY duplicate neighbor outranks it — so the result is
    order-independent (no greedy sweep) and needs no iteration.

    Determinism contract: centroid distances rank-compared at 6 dp,
    pair cosines thresholded at 4 dp (the repo float rule — raw-double
    comparisons flip across engines near ties).

    Scale: seeds are k x dim driver-held literals (bounded coordination
    state); assignment is map-only; the pairwise stage shuffles on
    cell. In the paper's fixed-cell-size regime (k ∝ N — what the
    registry query uses) the within-cell PAIR volume is linear in N
    (measured flat across the r12 sf0.1→sf1 decade), but the N x k
    assignment matmul grows quadratically — fine while assignment is
    BLAS-bound (sub-second at the probe sizes), and at true 100 TB
    scale swap the flat quantizer for a two-level one (coarse cells,
    then sub-cells within) to keep assignment ~N^1.5. Cells LARGER
    than ``max_cell`` are additionally
    split into hash sub-blocks and deduped via a pair-of-blocks pass,
    so the per-executor pandas group is bounded by ~2*max_cell rows
    even when a near-duplicate blob collapses into one cell (the
    workload dedup exists for). The keep rule is block-invariant:
    a vector drops iff ANY duplicate neighbor outranks it, and every
    pair of cell members meets in exactly one (block_i, block_j)
    group, so the blocked result is identical to the single-group one
    (pinned by tests/test_dedup_property.py::test_semantic_dedup_mega
    _cluster_blocked_matches_unblocked).
    """
    from flink_1_16_0_src_spark.pipeline.similarity import _ivf_assign_blas

    assigned = _ivf_assign_blas(df, vec_col, id_col, seeds, emit="min")
    v = F.col(vec_col).cast("array<double>")
    # the vector is materialized ONCE as array<double> (__vd): a cast
    # EXPRESSION would re-cast the whole array per element access (no
    # CSE for repeated non-attribute subtrees — measured 270 s vs 5 s
    # at sf0.1). Norms are computed in numpy inside the Arrow stage
    # (einsum) — no interpreted per-row fold here.
    base = assigned.select(
        F.col(id_col),
        v.alias("__vd"),
        F.col("cell"),
        F.col("__d"),  # already rounded 6 dp by the assignment
    )
    # Within-cluster pairwise stage as a per-cell Arrow-batched
    # applyInPandas (one numpy/BLAS matmul per cluster). The previous
    # SQL self-join on cell was structurally right (blocked, never
    # cartesian) but materialized BOTH 64-dim arrays per joined row —
    # ~1 kB x sum(|cluster|^2) rows of intermediate row data (13 GB at
    # the 10x probe corpus; the r8 probe measured the stage at ~107 s
    # while the cosine arithmetic itself was ~20 CPU-seconds). The
    # matmul form moves only |cluster| rows per group across Arrow and
    # evaluates the |cluster|^2 cosines in BLAS; row-blocked so the
    # score matrix stays bounded (block x |cluster|), and the V matrix
    # itself is bounded by the max_cell split below.
    #
    # Determinism: cosines rounded HALF-AWAY at 4 dp (matching Spark's
    # round() and the DuckDB oracle); numpy's dot-product summation
    # order differs from either engine's sequential fold at the
    # ~1e-16 level, the same accepted class as DuckDB's own
    # list_cosine_similarity internals vs Spark's fold (both engines
    # round to 4 dp before any comparison — the repo float rule).
    import numpy as np

    from pyspark.sql.types import BooleanType, StructField, StructType

    out_schema = StructType(
        [base.schema[id_col], base.schema["cell"]]
    )
    thr = float(threshold)

    def _mark_outranked(rows, nbrs, drop, V, norms, ids, d):
        """drop[x] |= exists dup neighbor y in nbrs that outranks x:
        y farther from the centroid (6-dp __d), min-id tiebreak. x vs
        itself never outranks — no diagonal masking needed."""
        block = 1024
        for s in range(0, len(rows), block):
            r = rows[s : s + block]
            C = (V[r] @ V[nbrs].T) / np.outer(norms[r], norms[nbrs])
            C = np.where(
                C >= 0, np.floor(C * 1e4 + 0.5), np.ceil(C * 1e4 - 0.5)
            ) / 1e4
            dup = C >= thr
            outrank = (d[nbrs][None, :] > d[r][:, None]) | (
                (d[nbrs][None, :] == d[r][:, None])
                & (ids[nbrs][None, :] < ids[r][:, None])
            )
            drop[r] |= (dup & outrank).any(axis=1)

    def _dedupe_cell(pdf):
        n = len(pdf)
        if n == 1:
            return pdf[[id_col, "cell"]]
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__vd"]])
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        ids = pdf[id_col].to_numpy()
        d = pdf["__d"].to_numpy()
        drop = np.zeros(n, dtype=bool)
        idx = np.arange(n)
        _mark_outranked(idx, idx, drop, V, norms, ids, d)
        return pdf.loc[~drop, [id_col, "cell"]]

    # One barrier job: materializes the cache with a SINGLE consumer
    # (the multi-consumer cold-cache race is the r8 minhash lesson) and
    # returns the largest cluster size so the plan can stay the cheap
    # single-group shape when no cell exceeds the cap.
    base = base.persist()
    row = base.groupBy("cell").count().agg(F.max("count")).first()
    largest = int(row[0] or 0)
    if largest <= max_cell:
        # eager materialize then free the cached assignment frame —
        # same persist hygiene as minhash_dedup_pairs (cached
        # mega-frames must not accumulate across registry sweeps);
        # materialize=False keeps the lazy plan (plan tests) and
        # leaves base cached for the caller to manage
        res = base.groupBy("cell").applyInPandas(_dedupe_cell, out_schema)
        if materialize:
            res = res.localCheckpoint(eager=True)
            base.unpersist()
        return res

    # Mega-cluster path: split each oversized cell into
    # B = ceil(|cell| / max_cell) hash sub-blocks and run one Arrow
    # group per unordered block pair (i <= j): group (b, b) compares
    # block b's pairs, group (i, j) compares cross pairs both ways.
    # Every pair of cell members meets in exactly one group, so the
    # drop set (and therefore the survivor set) is identical to the
    # unblocked pass; per-group rows are bounded by ~2*max_cell.
    flag_schema = StructType(
        [
            base.schema[id_col],
            base.schema["cell"],
            StructField("__drop", BooleanType(), False),
        ]
    )

    def _dedupe_block_pair(pdf):
        n = len(pdf)
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["__vd"]])
        norms = np.sqrt(np.einsum("ij,ij->i", V, V))
        ids = pdf[id_col].to_numpy()
        d = pdf["__d"].to_numpy()
        drop = np.zeros(n, dtype=bool)
        gi, gj = int(pdf["__gi"].iat[0]), int(pdf["__gj"].iat[0])
        if gi == gj:
            idx = np.arange(n)
            _mark_outranked(idx, idx, drop, V, norms, ids, d)
        else:
            blk = pdf["__blk"].to_numpy()
            a = np.flatnonzero(blk == gi)
            b = np.flatnonzero(blk == gj)
            if len(a) and len(b):
                _mark_outranked(a, b, drop, V, norms, ids, d)
                _mark_outranked(b, a, drop, V, norms, ids, d)
        out = pdf[[id_col, "cell"]].copy()
        out["__drop"] = drop
        return out

    grouped = _pair_block_groups(base, id_col, max_cell)
    flags = grouped.groupBy("cell", "__gi", "__gj").applyInPandas(
        _dedupe_block_pair, flag_schema
    )
    res = (
        flags.groupBy(id_col, "cell")
        .agg(F.max("__drop").alias("__dropped"))
        .where(~F.col("__dropped"))
        .select(id_col, "cell")
    )
    if materialize:
        res = res.localCheckpoint(eager=True)
        base.unpersist()
    return res


def exact_dedup_against(
    new_df: DataFrame, base_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact-match tier of incremental ingestion (the cheap pass run
    BEFORE minhash_dedup_against): drop new docs whose normalized-text
    fingerprint already exists in the base corpus — a left-anti join on
    md5(whitespace-normalized lowercase text). The base side reduces to
    distinct fingerprints first (one narrow column), so at 100 TB the
    anti join probes a fingerprint set, never base text; new-shard
    internal dups are exact_dedup's job."""
    base_fp = base_df.select(fingerprint(text_col).alias("__fp")).distinct()
    return (
        new_df.withColumn("__fp", fingerprint(text_col))
        .join(base_fp, "__fp", "left_anti")
        .drop("__fp")
    )


def simhash_dedup_against(
    new_df: DataFrame,
    base_df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 2,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """INCREMENTAL SimHash dedup — the third tier of crawl-vs-index
    ingestion (after exact_dedup_against and minhash_dedup_against):
    near-dup pairs of a NEW shard against the base corpus by signature
    hamming distance. Candidates come from the PIGEONHOLE band join:
    the ``bits``-bit signature splits into ``max_hamming + 1``
    contiguous bands, and any pair within hamming distance
    <= max_hamming must agree EXACTLY on at least one band (it differs
    in at most max_hamming bits, which cannot touch every band) — so
    the candidate join is a band-key equi-join base x new, never
    all-pairs, and the bit_count(xor) verify makes the result EQUAL to
    the full hamming join (no recall loss, unlike MinHash banding)
    unless the hot-bucket cap triggers. Returns (id_a base, id_b new,
    hamming); id spaces must be disjoint.

    Scale: the base side's band rows are a materialize-once index
    (|base| x (max_hamming+1) narrow rows); per-snapshot cost is |new|
    signatures + the bucket join. ``max_bucket`` mirrors the minhash
    star cap: a band value whose BASE bucket exceeds it pairs each new
    member with the bucket's min base id only (candidate volume linear
    in |new|; documented recall price — pass None for the exact
    result)."""
    from pyspark.sql import Window

    nb = max_hamming + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offs = [sum(widths[:i]) for i in range(nb)]

    def band_rows(sdf: DataFrame, out_id: str) -> DataFrame:
        parts = [
            F.struct(
                F.lit(i).alias("band"),
                (
                    F.shiftright("simhash", offs[i])
                    % F.lit(1 << widths[i]).cast("bigint")
                ).alias("band_val"),
            )
            for i in range(nb)
        ]
        return sdf.select(
            F.col(id_col).alias(out_id), F.explode(F.array(*parts)).alias("__b")
        ).select(out_id, F.col("__b.band").alias("band"),
                 F.col("__b.band_val").alias("band_val"))

    sig_b = simhash(base_df, text_col, id_col, bits).persist()
    sig_b.count()  # materialize before the band fan-out (r8 lesson)
    sig_n = simhash(new_df, text_col, id_col, bits).persist()
    sig_n.count()
    banded_b = band_rows(sig_b, "id_a")
    banded_n = band_rows(sig_n, "id_b")
    if max_bucket is None:
        cands = (
            banded_n.join(banded_b, ["band", "band_val"])
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        wb = Window.partitionBy("band", "band_val")
        sized = banded_b.withColumn("__bsz", F.count("*").over(wb)).withColumn(
            "__rep", F.min("id_a").over(wb)
        )
        cold = sized.where(F.col("__bsz") <= max_bucket).select(
            "id_a", "band", "band_val"
        )
        pairs_cold = banded_n.join(cold, ["band", "band_val"]).select("id_a", "id_b")
        hot = (
            sized.where(F.col("__bsz") > max_bucket)
            .select("band", "band_val", F.col("__rep").alias("id_a"))
            .distinct()
        )
        pairs_hot = banded_n.join(hot, ["band", "band_val"]).select("id_a", "id_b")
        cands = pairs_cold.unionByName(pairs_hot).distinct()
    res = (
        cands.join(sig_b.select(F.col(id_col).alias("id_a"),
                                F.col("simhash").alias("__sa")), "id_a")
        .join(sig_n.select(F.col(id_col).alias("id_b"),
                           F.col("simhash").alias("__sb")), "id_b")
        .select(
            "id_a", "id_b",
            F.bit_count(F.expr("__sa ^ __sb")).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .localCheckpoint(eager=True)
    )
    sig_b.unpersist()
    sig_n.unpersist()
    return res


def semantic_dedup_against(
    new_df: DataFrame,
    base_df: DataFrame,
    vec_col: str,
    id_col: str,
    seeds: list[list[float]],
    threshold: float,
    max_cell: int = 8192,
) -> DataFrame:
    """INCREMENTAL SemDeDup — the EMBEDDING tier of crawl-vs-index
    ingestion, completing the incremental family (exact_dedup_against
    / minhash_dedup_against / simhash_dedup_against): drop NEW vectors
    whose 4-dp cosine against ANY base vector in the same k-means cell
    reaches ``threshold``; survivors return as (id, cell). Candidates
    are strictly base x new WITHIN a cell (the SemDeDup blocking
    contract, Abbas et al. 2023 — cross-cell misses are the
    quantizer's, identical to semantic_dedup), so re-ingesting a crawl
    snapshot costs |new| assignments + the cell-blocked probe, never a
    within-base pass.

    Scale: assignment is the map-only BLAS pass (_ivf_assign_blas);
    the probe join shuffles on cell with HOT-CELL SALTING — a base
    cell larger than ``max_cell`` splits into ceil(|cell|/max_cell)
    hash sub-blocks and each new row of that cell replicates across
    the sub-blocks (split table = one row per cell, broadcast), so no
    task sees more than ~max_cell base rows and the result is EXACT:
    every in-cell base x new pair meets in exactly one sub-block.
    Norms hoist to one per-row column (the embedding_near_dup_pairs
    precedent); cosines round at 4 dp before the threshold compare
    (the repo float rule)."""
    from flink_1_16_0_src_spark.pipeline.similarity import _ivf_assign_blas

    a_base = _ivf_assign_blas(base_df, vec_col, id_col, seeds, emit="cell")
    a_new = _ivf_assign_blas(new_df, vec_col, id_col, seeds, emit="cell")
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    b = a_base.select(
        F.col(id_col).alias("__bid"), v.alias("__vb"), norm.alias("__nb"),
        "cell",
    )
    n = a_new.select(
        F.col(id_col), v.alias("__vn"), norm.alias("__nn"), "cell",
    )
    splits = F.broadcast(
        b.groupBy("cell").agg(
            F.ceil(F.count("*") / F.lit(max_cell)).cast("int").alias("__nblk")
        )
    )
    b_s = b.join(splits, "cell").withColumn(
        "__sub", F.pmod(F.xxhash64("__bid"), F.col("__nblk"))
    )
    # new rows in cells ABSENT from the base have no candidates — the
    # left join keeps them (they survive unconditionally)
    n_s = (
        n.join(splits, "cell", "left")
        .withColumn("__nblk", F.coalesce(F.col("__nblk"), F.lit(1)))
        .withColumn(
            "__sub",
            F.explode(F.sequence(F.lit(0).cast("long"),
                                 F.col("__nblk").cast("long") - 1)),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("__vn"), F.col("__vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dropped = (
        n_s.join(b_s, ["cell", "__sub"])
        .where(F.round(dot / (F.col("__nn") * F.col("__nb")), 4)
               >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )
    return a_new.join(dropped, id_col, "left_anti").select(id_col, "cell")


def prefix_dedup(
    df: DataFrame, text_col: str, id_col: str, n_tokens: int = 50
) -> DataFrame:
    """Truncation-duplicate removal: keep ONE doc (min id) per
    prefix-fingerprint group — md5 of the first ``n_tokens``
    whitespace tokens (text.prefix_fingerprint). Whole-document
    fingerprints miss the same article cut at different lengths /
    with different boilerplate tails; the head-of-doc hash catches
    them (the crawl-pipeline companion pass to exact_dedup, run after
    it). Keep rule favors the LONGEST member (most complete copy),
    min-id tiebreak — deterministic, order-independent.

    Scale: one hash-groupBy shuffle on the 16-byte fingerprint (same
    shape as exact_dedup); the keep rule is a max_by aggregate, no
    window sort."""
    from flink_1_16_0_src_spark.pipeline.text import prefix_fingerprint

    fp = df.select(
        F.col(id_col),
        prefix_fingerprint(text_col, n_tokens).alias("__pfp"),
        F.length(text_col).cast("bigint").alias("__len"),
    )
    # min_by on the (−len, id) struct = keep the longest member, min-id
    # tiebreak — and unlike the old (−id) trick it works for ANY
    # orderable id type (a string doc id under non-ANSI Spark used to
    # cast −id to NULL and silently drop the whole corpus; ADVICE r11
    # #2). (−len, id) is unique per row (ids are unique), so the pick
    # is deterministic.
    keep = fp.groupBy("__pfp").agg(
        F.min_by(
            F.col(id_col),
            F.struct((-F.col("__len")).alias("nl"), F.col(id_col).alias("i")),
        ).alias("__keep_id")
    ).select("__keep_id")
    return df.join(
        keep.withColumnRenamed("__keep_id", id_col), id_col, "left_semi"
    )


def cluster_census(components: DataFrame) -> DataFrame:
    """Duplicate-cluster SIZE census — the dedup report every corpus
    writeup includes (how much of the corpus sits in 2-doc pairs vs
    mega-clusters; a fat tail means boilerplate/mirror domains): from
    a connected_components labeling, per cluster size the number of
    clusters and total docs. Two narrow aggregations over the
    |clustered docs|-row label table — nothing touches the corpus."""
    sizes = components.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size", "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Within-corpus hamming near-dup pairs over ANY integer signature
    column (SimHash, image dHash, audio fingerprints …) via the
    PIGEONHOLE band join: the ``bits``-bit signature splits into
    ``max_hamming + 1`` contiguous bands; any pair within hamming
    distance <= max_hamming agrees exactly on at least one band, so
    candidates come from a band-key equi-join (never all-pairs) and
    the bit_count(xor) verify makes the result EQUAL to the full
    hamming join — no recall loss, unless the hot-bucket star cap
    triggers (``max_bucket``, the minhash precedent: an oversized
    band bucket pairs members with its min id only; None = exact).
    Self-join twin of simhash_dedup_against's base x new form."""
    from pyspark.sql import Window

    # Materialize the (id, signature) projection ONCE (r12): both join
    # sides derive from it, and without the barrier Catalyst re-runs
    # the caller's ENTIRE upstream subtree per side — for the
    # multimodal callers that is the per-asset codec DECODE pass, the
    # single most expensive stage of the pipeline, paid twice (the
    # plan audit read 4 media scans per near-dup plan). Two BIGINTs
    # per row at any scale; recompute-on-executor-loss caveat as
    # documented at jaccard_verify.
    df = df.select(F.col(id_col), F.col(hash_col)).localCheckpoint(eager=False)

    nb = max_hamming + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offs = [sum(widths[:i]) for i in range(nb)]
    # Band extraction must be SIGN-INDEPENDENT: a full 64-bit signature
    # with the sign bit set (classic 64-bit SimHash) makes arithmetic
    # shiftright carry the sign and '%' return negative remainders, so a
    # negative-sig vs positive-sig pair agreeing on a band would get
    # different band_vals and the equi-join would miss it (silent recall
    # loss). Logical shift + mask keeps band values non-negative for any
    # bits <= 64 (ADVICE r11 #1).
    parts = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col(hash_col).cast("bigint"), offs[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1).cast("bigint"))
            .alias("band_val"),
        )
        for i in range(nb)
    ]
    banded = df.select(
        F.col(id_col), F.col(hash_col).alias("__sig"),
        F.explode(F.array(*parts)).alias("__b"),
    ).select(id_col, "__sig", F.col("__b.band").alias("band"),
             F.col("__b.band_val").alias("band_val"))
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("__sig").alias("__sa"), "band", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"),
                      F.col("__sig").alias("__sb"), "band", "band_val")
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_val")
        a = (
            a.withColumn("__bn", F.count("*").over(w))
            .withColumn("__rep", F.min("id_a").over(w))
            .where((F.col("__bn") <= max_bucket)
                   | (F.col("id_a") == F.col("__rep")))
            .drop("__bn", "__rep")
        )
    cands = (
        a.join(b, ["band", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    return (
        cands.select(
            "id_a", "id_b",
            F.bit_count(F.expr("__sa ^ __sb")).cast("bigint").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
