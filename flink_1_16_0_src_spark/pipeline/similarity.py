"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk`` / ``threshold_pairs``: exact cosine; the query
  side is broadcast, the corpus streams — fine up to ~10⁵ queries ×
  any corpus size (work is |Q|·|C|, distributed over corpus
  partitions).
- ``lsh_bucket``: sign-random-projection bucket id (md5-derived
  deterministic hyperplanes, ±1 components). At 100 TB: bucket both
  sides, join on bucket (optionally multi-probe neighboring buckets),
  then exact-rerank — turns O(|Q|·|C|) into O(collisions).

Cosine is accumulated in float64 in deterministic element order so the
DuckDB oracle (DOUBLE[] cosine) matches bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.pipeline.dedup import _cosine


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (excluding self).
    Output: (query_id, neighbor_id, cosine, rank_num)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__cos", _cosine(F.col("__qv"), F.col("__cv")))
    )
    # rank on the ROUNDED cosine: near-ties at the k boundary differ by
    # one ulp across engines (Spark fold vs DuckDB list_cosine_similarity),
    # so raw-float ordering is nondeterministic — rounding collapses those
    # into id-broken ties identically everywhere (same pattern as pq_adc_topk)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__cos"), 4).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank_num", F.row_number().over(w))
        .where(F.col("rank_num") <= k)
        .select("query_id", "neighbor_id", F.round("__cos", 4).alias("cosine"), "rank_num")
    )


def threshold_pairs(
    queries: DataFrame, corpus: DataFrame, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__cos", _cosine(F.col("__qv"), F.col("__cv")))
    )
    return scored.where(F.round("__cos", 4) >= threshold).select(
        "query_id", "neighbor_id", F.round("__cos", 4).alias("cosine")
    )


def plane_component(plane: Column | int, dim: Column | int) -> Column:
    """Deterministic ±1 hyperplane component from md5(plane:dim) parity —
    reproducible across engines/runs without shipping a matrix."""
    p = F.lit(plane) if isinstance(plane, int) else plane
    d = F.lit(dim) if isinstance(dim, int) else dim
    h = F.conv(F.substring(F.md5(F.concat_ws(":", p, d)), 1, 15), 16, 10).cast("bigint")
    return (h % 2) * 2 - 1


def _plane_sign(plane: int, dim: int) -> int:
    """Driver-side twin of ``plane_component`` — identical md5('p:d')
    parity, so oracles that re-derive components in SQL still match."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 2) * 2 - 1


def lsh_bucket(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 8, dim: int | None = None
) -> DataFrame:
    """Sign-random-projection bucket: bit j = (Σ_d v[d]·s(j,d)) ≥ 0,
    bucket = Σ_j bit_j·2^j.

    The ±1 hyperplane matrix is only n_planes×dim values — it is
    precomputed ONCE on the driver and embedded as array literals, so
    the per-row work is n_planes codegen'd dot products and ZERO
    hashing (the previous formulation recomputed an md5 per
    row×plane×component — at 100 TB that hash work dwarfed the actual
    scan). ``dim`` is probed from the first row when not given."""
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    terms = []
    for j in range(n_planes):
        signs = _arr_sql([float(_plane_sign(j, d)) for d in range(dim)])
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {signs},"
            f" (x, s) -> CAST(x AS DOUBLE) * s), 0.0D, (acc, x) -> acc + x)"
        )
        # sign test on the ROUNDED dot (6 dp, the _argmin_sql
        # convention): a one-ulp cross-engine difference at dot≈0 flips
        # a bucket bit; rounding collapses ±1-ulp-of-zero to ±0.0 (≥ 0
        # in both engines). Oracles mirror round(dot, 6).
        terms.append(f"(CASE WHEN round({dot}, 6) >= 0 THEN {1 << j} ELSE 0 END)")
    return df.selectExpr(
        f"`{id_col}`", f"CAST({' + '.join(terms)} AS INT) AS bucket"
    )


def _dsql(x: float) -> str:
    """Exact SQL double literal: ``repr`` emits the shortest decimal
    that round-trips the IEEE-754 value, and Spark's parser
    (Double.parseDouble) is correctly rounded — the parsed double is
    bit-identical to ``x``."""
    return f"{float(x)!r}D"


def _arr_sql(vals) -> str:
    """SQL array literal of exact double literals.

    These centroid/LUT literals used to be built as nested ``F.lit``
    Columns — one py4j round-trip per element, ~2 ms each, so an
    8-seed × 64-dim assignment cost >1 s of DRIVER time before any job
    ran (guide §5: the driver should do almost no work; §7.3 planning
    time). One ``F.expr`` parse of the same tree is ~3 ms total; the
    parsed plan — and therefore every computed value — is identical."""
    return "array(" + ", ".join(_dsql(x) for x in vals) + ")"


def _l2sq_sql(vec_sql: str, seed: list[float]) -> str:
    """SQL text of the squared-L2 left fold from an array<double>
    expression to a literal centroid — summation order is the ascending
    dimension index (the oracle's generate_series order), exactly the
    tree the previous Column-by-Column builder produced."""
    return (
        f"aggregate(zip_with({vec_sql}, {_arr_sql(seed)}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )


def _argmin_sql(dists_sql: str) -> str:
    """SQL text of the first-minimum index (0-based) over distances
    ROUNDED to 6 dp. Raw-double argmin is the same cross-engine hazard
    as raw-float ranking (repo float rule): two near-equal distances
    can differ in the last ulp between Spark's fold and DuckDB's
    list_sum, flipping the chosen cell near a tie (the driver r2/r3
    kmeans hash-fail class). Rounding collapses near-ties into exact
    ties broken by the lowest index identically on both engines;
    oracles mirror with ``ORDER BY round(d, 6), cell``."""
    rd = f"transform({dists_sql}, x -> round(x, 6))"
    return f"CAST(array_position({rd}, array_min({rd})) - 1 AS INT)"


# expression-built assignment evaluates n_cells sibling fold expressions
# per row — fine for the handful-of-cells quantizers every pinned query
# uses, but O(N·n_cells·dim) interpreted work once n_cells grows (the
# sqrt(N)-cells variant measured 67 s at the sf1 probe on it, r13). At
# and above this cell count the BLAS mapInPandas form takes over — same
# contract (6-dp HALF_UP rounded squared L2, first-minimum tie to the
# lowest cell; numpy's fold order differs at the ~1e-15 level, absorbed
# by the 6-dp round both engines apply before any comparison).
_BLAS_CELLS_MIN = 32


def _ivf_assign_blas(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seeds: list[list[float]],
    emit: str = "dists",
) -> DataFrame:
    """BLAS form of ``ivf_assign`` — the one coarse-quantizer kernel:
    ``cell`` is the nearest seed over 6-dp HALF_UP rounded squared L2,
    ties to the lowest cell, with the N x k distances evaluated in numpy
    instead of k interpreted expressions per row. ``emit`` picks what
    rides along with (id, vec, cell):

    - ``"dists"``: ``__dists``, the RAW distances (``ivf_assign``'s
      contract; only nprobe selection reads them);
    - ``"min"``: ``__d``, the ROUNDED min distance (SemDeDup's keep rule
      compares it at 6 dp anyway);
    - ``"cell"``: nothing — shipping k doubles per row out of the
      Python worker is the dominant cost of the kernel once k is large,
      and corpus assignment and Lloyd refinement need the cell only.

    numpy's summation order differs from the engines' sequential folds
    at the ~1e-15 level — the same accepted class as DuckDB's list_*
    internals; both sides round to 6 dp before any comparison."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    assert emit in ("dists", "min", "cell"), f"unknown emit={emit!r}"
    S = np.asarray(seeds, dtype=np.float64)  # k x d
    fields = [df.schema[id_col], df.schema[vec_col]]
    if emit == "dists":
        fields.append(StructField("__dists", ArrayType(DoubleType()), True))
    fields.append(StructField("cell", IntegerType(), False))
    if emit == "min":
        fields.append(StructField("__d", DoubleType(), True))
    out_schema = StructType(fields)

    def _fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
            n = len(pdf)
            # n x k doubles only when they are shipped: at 10k rows and
            # k=1e5 the matrix alone is 8 GB per Arrow batch
            dists = np.empty((n, len(S)), dtype=np.float64) if emit == "dists" else None
            dmins = np.empty(n, dtype=np.float64) if emit == "min" else None
            cells = np.empty(n, dtype="int32")
            # bound the block x k x d intermediate (~8 MB at any k)
            block = max(1, 16384 // max(1, len(S)))
            for s in range(0, n, block):
                e = min(s + block, n)
                # direct (v - s)^2 form, row-blocked
                D = ((V[s:e, None, :] - S[None, :, :]) ** 2).sum(axis=2)
                R = np.floor(D * 1e6 + 0.5) / 1e6  # HALF_UP like round(,6)
                cells[s:e] = np.argmin(R, axis=1)  # first minimum
                if dists is not None:
                    dists[s:e] = D
                if dmins is not None:
                    dmins[s:e] = R.min(axis=1)
            out = pdf[[id_col, vec_col]].copy()
            if dists is not None:
                out["__dists"] = list(dists)
            out["cell"] = cells
            if dmins is not None:
                out["__d"] = dmins
            yield out

    return df.select(id_col, vec_col).mapInPandas(_fn, out_schema)


def ivf_assign(df: DataFrame, vec_col: str, id_col: str, seeds: list[list[float]]) -> DataFrame:
    """IVF coarse quantizer: each vector joins the cell of its nearest
    seed centroid. Ties break to the lowest cell id (array_position
    returns the FIRST minimum) over 6-dp-rounded distances (see
    ``_argmin_sql``); ``__dists`` stays raw for objective sums.
    Map-only — no explode, no shuffle: the n_cells distances are
    sibling expressions in one projection, the same shape as the
    minhash permutation fold. Built as ONE parsed SQL projection
    (``_arr_sql`` rationale): the Column-by-Column form paid
    ~n_cells×dim py4j round-trips of driver time per call. Above
    ``_BLAS_CELLS_MIN`` cells the BLAS form takes over (see above)."""
    if len(seeds) >= _BLAS_CELLS_MIN:
        return _ivf_assign_blas(df, vec_col, id_col, seeds)
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    dists_sql = "array(" + ", ".join(_l2sq_sql(vsql, s) for s in seeds) + ")"
    return df.selectExpr(
        f"`{id_col}`", f"`{vec_col}`", f"{dists_sql} AS __dists"
    ).selectExpr("*", f"{_argmin_sql('__dists')} AS cell")


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_pred: Column,
    k: int = 5,
    n_cells: int = 8,
    nprobe: int = 2,
    refine: int = 0,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_cells``
    inverted lists, probe each query's ``nprobe`` nearest cells, exact
    cosine rerank inside the probed cells only — work is
    |Q|·|corpus|/n_cells·nprobe instead of |Q|·|corpus|.

    Seeds are the ``n_cells`` lowest-id vectors (deterministic, no
    training RNG); ``refine`` Lloyd passes (decimal-exact means —
    bitwise reproducible) de-degenerate them on clustered corpora. The
    centroid table is collected driver-side — k×dim floats, the classic
    bounded coordination state of an IVF/k-means quantizer, never
    O(corpus). At 100 TB: assignment is a map-only pass over the
    corpus; the probe join shuffles on the cell id, whose cardinality
    (n_cells) caps skew; raise n_cells so cells fit a partition."""
    seeds_rows = df.where(F.col(id_col) < n_cells).select(id_col, vec_col).collect()
    seeds = [list(map(float, r[1])) for r in sorted(seeds_rows, key=lambda r: r[0])]
    if refine:
        from flink_1_16_0_src_spark.pipeline.cluster import refine_seeds

        seeds = refine_seeds(df, vec_col, id_col, seeds, refine)
    if len(seeds) >= _BLAS_CELLS_MIN:
        # large-cell regime: the corpus side needs ONLY the cell — the
        # k-doubles __dists row it would otherwise ship out of the
        # Python worker for every corpus vector is read by nothing
        # (and `assigned` has two consumers, so it shipped TWICE);
        # probe selection reruns the kernel with dists on the FILTERED
        # query side only. Same 6-dp HALF_UP argmin both ways.
        corpus_assigned = _ivf_assign_blas(df, vec_col, id_col, seeds, emit="cell")
        q_assigned = _ivf_assign_blas(df.where(query_pred), vec_col, id_col, seeds)
    else:
        assigned = ivf_assign(df, vec_col, id_col, seeds)
        corpus_assigned = assigned
        q_assigned = assigned.where(query_pred)
    # norms hoisted to one per-row column on EACH side (the
    # embedding_near_dup_pairs precedent): inside the probe join the
    # inline-_cosine form recomputed both norms per candidate PAIR —
    # O(pairs·d) interpreted folds; dot/(nq·nc) association is
    # unchanged, so the rounded cosine surface is bit-identical
    vd = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x))
    corpus = corpus_assigned.select(
        F.col(id_col).alias("neighbor_id"), vd.alias("__vc"),
        norm.alias("__nc"), "cell",
    )
    q = q_assigned.select(
        F.col(id_col).alias("query_id"), vd.alias("__vq"),
        norm.alias("__nq"), "__dists",
    )
    # nprobe nearest cells: repeated first-minimum with the taken cell
    # masked out — identical tie behavior to sorting by (round(d,6), cell);
    # round ONCE up front (inf masking preserves roundedness), same
    # cross-engine argmin rule as ivf_assign/_argmin_sql
    probe_cols = []
    q = q.withColumn("__rdists", F.transform(F.col("__dists"), lambda x: F.round(x, 6)))
    cur = F.col("__rdists")
    for i in range(nprobe):
        q = q.withColumn(f"__p{i}", (F.array_position(cur, F.array_min(cur)) - 1).cast("int"))
        taken = F.col(f"__p{i}")
        nxt = F.transform(
            cur, lambda x, j: F.when(j == taken, F.lit(float("inf"))).otherwise(x)
        )
        q = q.withColumn(f"__d{i}", nxt)
        cur = F.col(f"__d{i}")
        probe_cols.append(f"__p{i}")
    probes = q.select(
        "query_id", "__vq", "__nq",
        F.explode(F.array(*[F.col(c) for c in probe_cols])).alias("cell"),
    )
    joined = probes.join(corpus, "cell").where(F.col("neighbor_id") != F.col("query_id"))
    dot = F.aggregate(
        F.zip_with(F.col("__vq"), F.col("__vc"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("__nq") * F.col("__nc"))
    # rounded-cosine ranking — same ulp-tie determinism rule as
    # brute_force_topk / pq_adc_topk
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__cos"), 4).desc(), "neighbor_id"
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("__cos"))
        .withColumn("rank_num", F.row_number().over(w))
        .where(F.col("rank_num") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__cos"), 4).alias("cosine"),
            "rank_num",
        )
    )


def pq_codebooks(
    df: DataFrame, vec_col: str, id_col: str, m: int = 8, ncent: int = 4,
    refine: int = 0,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector space splits into
    ``m`` contiguous subspaces; each subspace's ``ncent`` centroids are
    the sub-vectors of the ``ncent`` lowest-id corpus vectors —
    deterministic sampled codebooks, the same no-RNG seeding policy as
    ``ivf_topk``. ``refine`` runs that many per-subspace Lloyd passes
    (decimal-exact means, deterministic) for production recall;
    correctness of encode/ADC is independent of codebook quality.
    Driver state = m × ncent × (dim/m) floats — bounded."""
    rows = df.where(F.col(id_col) < ncent).select(id_col, vec_col).collect()
    seeds = [list(map(float, r[1])) for r in sorted(rows, key=lambda r: r[0])]
    dim = len(seeds[0])
    sub = dim // m
    books = [[s[j * sub : (j + 1) * sub] for s in seeds] for j in range(m)]
    if refine:
        from flink_1_16_0_src_spark.pipeline.cluster import refine_seeds

        v = F.col(vec_col).cast("array<double>")
        for j in range(m):
            sliced = df.select(
                F.col(id_col), F.slice(v, j * sub + 1, sub).alias("__sub")
            )
            books[j] = refine_seeds(sliced, "__sub", id_col, books[j], refine)
    return books


def pq_encode(
    df: DataFrame, vec_col: str, id_col: str, codebooks: list[list[list[float]]]
) -> DataFrame:
    """PQ encode: each vector → ``m`` uint8-sized codes (nearest
    centroid per subspace, first-minimum tie-break to the lowest code —
    array_position semantics). Map-only: every subspace's ncent
    distances are sibling expressions in ONE projection (the
    minhash-fold shape); a 100 TB corpus encodes in a single narrow
    pass and the stored codes are m bytes per vector instead of
    4·dim — the memory compression that lets an ADC scan run from RAM."""
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    sub = len(codebooks[0][0])
    exprs = [f"`{id_col}`", f"`{vec_col}`"]
    for j, cents in enumerate(codebooks):
        svec = f"slice({vsql}, {j * sub + 1}, {sub})"
        dists = "array(" + ", ".join(_l2sq_sql(svec, c) for c in cents) + ")"
        exprs.append(f"{_argmin_sql(dists)} AS code{j}")
    return df.selectExpr(*exprs)


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id: int,
    k: int = 5,
    n_cells: int = 4,
    nprobe: int = 2,
    m: int = 8,
    ncent: int = 4,
) -> DataFrame:
    """IVF-PQ composed index (Jégou et al. §V / FAISS IndexIVFPQ): the
    coarse quantizer routes each vector to a cell, PQ encodes the
    RESIDUAL (vector − cell centroid), and a query scans only its
    ``nprobe`` nearest cells with a per-cell asymmetric-distance table
    built from the query's residual against that cell.

    Scale: residual + encode are one map-only projection (codes = m
    bytes/vector); the probe phase is ``nprobe`` map-only filtered
    scans (cell is a stored column — partition/cluster by it at 100 TB
    and the scans touch only their lists); LUTs are
    nprobe × m × ncent driver floats; the global top-k is a
    TakeOrderedAndProject heap merge. Determinism: every argmin runs
    over 6-dp-rounded distances (``_argmin_sql``), cell probe
    order ties on the cell id, final ranking on the 4-dp ADC — the
    engine-exact conventions of the sibling IVF/PQ operators."""
    seeds_rows = df.where(F.col(id_col) < n_cells).select(id_col, vec_col).collect()
    seeds = [list(map(float, r[1])) for r in sorted(seeds_rows, key=lambda r: r[0])]
    assigned = ivf_assign(df, vec_col, id_col, seeds)
    cents_sql = "array(" + ", ".join(_arr_sql(s) for s in seeds) + ")"
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    res_df = assigned.selectExpr(
        f"`{id_col}`",
        "cell",
        f"zip_with({vsql}, element_at({cents_sql}, cell + 1),"
        f" (x, y) -> x - y) AS __res",
    )
    books = pq_codebooks(res_df, "__res", id_col, m, ncent)
    sub = len(books[0][0])
    enc_exprs = [f"`{id_col}`", "cell"]
    for j, cents in enumerate(books):
        svec = f"slice(__res, {j * sub + 1}, {sub})"
        dists = "array(" + ", ".join(_l2sq_sql(svec, c) for c in cents) + ")"
        enc_exprs.append(f"{_argmin_sql(dists)} AS code{j}")
    encoded = res_df.selectExpr(*enc_exprs)

    qrow = df.where(F.col(id_col) == query_id).select(vec_col).collect()
    qv = list(map(float, qrow[0][0]))
    # nprobe nearest cells: 6-dp-rounded coarse distances, ties to the
    # lowest cell id — the _argmin_sql convention, driver-side
    coarse = sorted(
        (round(sum((qv[i] - s[i]) ** 2 for i in range(len(qv))), 6), c)
        for c, s in enumerate(seeds)
    )[:nprobe]
    scans = []
    for _d, cell in coarse:
        qres = [qv[i] - seeds[cell][i] for i in range(len(qv))]
        lut = [
            [
                sum((qres[j * sub + i] - c[i]) ** 2 for i in range(sub))
                for c in books[j]
            ]
            for j in range(m)
        ]
        dist_sql = " + ".join(
            f"element_at({_arr_sql(lut[j])}, code{j} + 1)" for j in range(m)
        )
        scans.append(
            encoded.where(
                (F.col("cell") == cell) & (F.col(id_col) != query_id)
            ).selectExpr(
                f"CAST({int(query_id)} AS BIGINT) AS query_id",
                f"`{id_col}` AS neighbor_id",
                f"round({dist_sql}, 4) AS adc_dist",
            )
        )
    allscans = scans[0]
    for s in scans[1:]:
        allscans = allscans.unionByName(s)
    topk = allscans.orderBy("adc_dist", "neighbor_id").limit(k)
    return (
        topk.withColumn(
            "rank_num",
            F.row_number()
            .over(Window.orderBy("adc_dist", "neighbor_id"))
            .cast("int"),
        )
        .select("query_id", "neighbor_id", "adc_dist", "rank_num")
    )


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_id: int,
    k: int = 5,
    m: int = 8,
    ncent: int = 4,
) -> DataFrame:
    """Asymmetric-distance PQ search: the query stays exact, the corpus
    is its codes. Driver precomputes the m×ncent lookup table (squared
    L2 from each query sub-vector to each centroid); the corpus scan
    then costs ``m`` literal-array ``element_at`` picks + adds per row
    — no per-row vector math, no shuffle until the global top-k. This
    is the canonical RAM-speed ANN scan (Jégou et al., PQ for nearest
    neighbor search); at 100 TB the codes table is dim·4/m× smaller
    than the vectors and the scan is embarrassingly parallel."""
    codebooks = pq_codebooks(df, vec_col, id_col, m, ncent)
    sub = len(codebooks[0][0])
    qrow = df.where(F.col(id_col) == query_id).select(vec_col).collect()
    qv = list(map(float, qrow[0][0]))
    lut = [
        [
            sum((qv[j * sub + i] - c[i]) ** 2 for i in range(sub))
            for c in codebooks[j]
        ]
        for j in range(m)
    ]
    encoded = pq_encode(df, vec_col, id_col, codebooks)
    dist_sql = " + ".join(
        f"element_at({_arr_sql(lut[j])}, code{j} + 1)" for j in range(m)
    )
    # Global top-k as orderBy().limit(k): Spark plans this as
    # TakeOrderedAndProject — a size-k heap per partition, then a
    # driver-side merge of k·partitions rows — never a corpus-sized
    # single-partition sort (the unpartitioned row_number() it
    # replaces shipped EVERY row's distance through one task).
    # Ranking happens on the ROUNDED distance: near-equal raw sums
    # differ in the last ulp across engines (and across DuckDB's
    # parallel sum orders), so raw-float ordering at the k boundary
    # is nondeterministic — rounding collapses those into id-broken
    # ties identically everywhere. The row_number() window after the
    # limit runs over exactly k rows, so its single partition is
    # bounded by k, not by the corpus.
    topk = (
        encoded.where(F.col(id_col) != query_id)
        .selectExpr(
            f"CAST({int(query_id)} AS BIGINT) AS query_id",
            f"`{id_col}` AS neighbor_id",
            f"round({dist_sql}, 4) AS adc_dist",
        )
        .orderBy("adc_dist", "neighbor_id")
        .limit(k)
    )
    return (
        topk.withColumn(
            "rank_num",
            F.row_number()
            .over(Window.orderBy("adc_dist", "neighbor_id"))
            .cast("int"),
        )
        .select("query_id", "neighbor_id", "adc_dist", "rank_num")
    )


def random_projection(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8
) -> DataFrame:
    """Johnson-Lindenstrauss ±1 random projection (Achlioptas 2001's
    database-friendly signs) to ``k`` output dimensions — the
    dimensionality-reduction pass run before clustering/LSH at corpus
    scale. The projection matrix is never shipped: component (j, i) is
    the md5('j:i') parity sign (``_plane_sign``), derived identically
    on every executor and in SQL oracles.

    Exact-integer contract (the repo float rule): inputs quantize to
    floor(x·1e6) BIGINT micro-units first, so each output coordinate
    is an exact ±1-weighted integer sum — equal regardless of
    summation order, hence hashable across engines (a float dot
    product would differ in ulps between numpy's pairwise sums and an
    oracle's sequential fold).

    Scale: map-only (Arrow-batched numpy int64 matmul per batch, k×d
    sign matrix rebuilt per batch from the hash — no broadcast, no
    shuffle); output is k BIGINT columns p0..p{k-1}."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [df.schema[id_col]] + [StructField(f"p{j}", LongType()) for j in range(k)]
    )

    def proj(batches):
        S = None
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Q = np.floor(V * 1_000_000.0).astype(np.int64)
            if S is None or S.shape[0] != Q.shape[1]:
                d = Q.shape[1]
                S = np.array(
                    [[_plane_sign(j, i) for j in range(k)] for i in range(d)],
                    dtype=np.int64,
                )
            P = Q @ S  # exact int64: |q| <= ~2^31, d sums stay far under 2^63
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(k):
                out[f"p{j}"] = P[:, j]
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(proj, out_schema)


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training (the DPR /
    Contriever negative-selection step): per query, the top-k most
    similar corpus vectors with a DIFFERENT label — near the decision
    boundary, so far more informative than random negatives. Same
    broadcast-query scan shape as brute_force_topk (work |Q|·|C|
    distributed over corpus partitions; at real scale feed the
    IVF-bucketed candidates instead of the full corpus — the exclusion
    filter composes the same either way). Output: (query_id,
    negative_id, cosine, rank_num); ranking on the 4-dp rounded cosine
    with id tiebreak (the repo float rule)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__ql"),
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("__cl"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("__ql") != F.col("__cl"))
        .withColumn("__cos", _cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__cos"), 4).desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank_num", F.row_number().over(w))
        .where(F.col("rank_num") <= k)
        .select(
            "query_id", "negative_id",
            F.round("__cos", 4).alias("cosine"), "rank_num",
        )
    )
