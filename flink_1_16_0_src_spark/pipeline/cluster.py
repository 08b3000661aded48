"""Embedding clustering — driver-coordinated Lloyd k-means over the
IVF coarse quantizer (pipeline extra next to similarity search: cluster
ids are the blocking/bucketing key for dedup, curation and IVF cells).

Scale contract: centroids are k x dim floats held driver-side (the
classic bounded coordination state — never O(corpus)); each iteration
is ONE map-only assignment pass plus ONE groupBy whose shuffle is k
rows x dim agg columns (dimension means fold as sibling avg() columns,
map-side partials — no per-dimension row explode)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.pipeline.similarity import ivf_assign


def _centroid_means(assigned: DataFrame, vec_col: str, dim: int) -> DataFrame:
    # Decimal-exact means: sum each dimension in DECIMAL(25,10) (decimal
    # addition is order-independent, unlike double — Spark's partition
    # summation order flipped a round(avg(double),4) hash at a …x.00005
    # boundary in driver r2), then ONE double divide per cell. Each
    # per-dim aggregate is ONE parsed F.expr instead of six chained
    # Column calls — the Column form cost ~dim×6 py4j round-trips of
    # driver time per refine pass (similarity._arr_sql rationale).
    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    aggs = [
        F.expr(
            f"CAST(SUM(CAST(element_at({vsql}, {d + 1}) AS DECIMAL(25,10)))"
            f" AS DOUBLE) / COUNT(1)"
        ).alias(f"m{d}")
        for d in range(dim)
    ]
    return assigned.groupBy("cell").agg(F.count("*").alias("n"), *aggs)


def refine_seeds(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    seeds: list[list[float]],
    iters: int = 1,
) -> list[list[float]]:
    """``iters`` Lloyd refinement passes over given seed centroids —
    deterministic (no RNG; decimal-exact means are bitwise reproducible
    across engines and partitionings). Empty clusters keep their
    previous centroid. Used to de-degenerate the sampled lowest-id
    seeds of the IVF/PQ quantizers on clustered corpora."""
    cents = [list(map(float, s)) for s in seeds]
    dim = len(cents[0])
    for _ in range(iters):
        # refinement reads only the cell — skip the per-row k-doubles
        # __dists Arrow transfer in the large-cell BLAS regime (r13)
        from flink_1_16_0_src_spark.pipeline.similarity import (
            _BLAS_CELLS_MIN,
            _ivf_assign_blas,
        )

        assigned = (
            _ivf_assign_blas(df, vec_col, id_col, cents, emit="cell")
            if len(cents) >= _BLAS_CELLS_MIN
            else ivf_assign(df, vec_col, id_col, cents)
        )
        stats = _centroid_means(assigned, vec_col, dim).collect()
        new = {int(r["cell"]): [float(r[f"m{d}"]) for d in range(dim)] for r in stats}
        cents = [new.get(c, cents[c]) for c in range(len(cents))]
    return cents


def kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 3,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's algorithm with deterministic init (the ``k`` lowest-id
    vectors seed the centroids — no RNG, reproducible across engines).
    Returns (assignments with ``cell`` column, final centroids).
    Empty clusters keep their previous centroid (the standard Lloyd
    fallback)."""
    seed_rows = df.where(F.col(id_col) < k).select(id_col, vec_col).collect()
    cents = [list(map(float, r[1])) for r in sorted(seed_rows, key=lambda r: r[0])]
    cents = refine_seeds(df, vec_col, id_col, cents, iters)
    return ivf_assign(df, vec_col, id_col, cents).drop("__dists"), cents


def inertia(assigned: DataFrame, vec_col: str, cents: list[list[float]]) -> float:
    """Sum of squared distances to the assigned centroid — the Lloyd
    objective (non-increasing across iterations)."""
    from flink_1_16_0_src_spark.pipeline.similarity import _l2sq_sql

    vsql = f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"
    # one masked distance term per centroid, summed — k sibling
    # expressions, no row fan-out
    terms = " + ".join(
        f"(CASE WHEN cell = {c} THEN {_l2sq_sql(vsql, cent)} ELSE 0.0D END)"
        for c, cent in enumerate(cents)
    )
    return assigned.select(F.expr(f"SUM({terms})").alias("i")).collect()[0]["i"]
