"""k-means clustering tests (pipeline extra — Lloyd iterations over
the IVF coarse quantizer)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.pipeline.cluster import inertia, kmeans
from flink_1_16_0_src_spark.pipeline.similarity import ivf_assign

SF_DIR = "/root/testdata/sf0.001"


def test_kmeans_inertia_non_increasing(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    seed_rows = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    seeds = [list(map(float, r[1])) for r in sorted(seed_rows, key=lambda r: r[0])]
    i0 = inertia(ivf_assign(emb, "embedding", "vec_id", seeds), "embedding", seeds)

    assigned1, cents1 = kmeans(emb, "embedding", "vec_id", k=8, iters=1)
    i1 = inertia(assigned1.join(emb.select("vec_id"), "vec_id"), "embedding", cents1)
    assigned3, cents3 = kmeans(emb, "embedding", "vec_id", k=8, iters=3)
    i3 = inertia(assigned3, "embedding", cents3)

    assert i1 <= i0 * (1 + 1e-9)
    assert i3 <= i1 * (1 + 1e-9)
    assert assigned3.count() == emb.count()
    # every cell id is a valid [0, k) label
    cells = [r.cell for r in assigned3.select("cell").distinct().collect()]
    assert all(0 <= c < 8 for c in cells)


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """IVF exactness contract: probing ALL cells (nprobe == n_cells)
    must reproduce brute-force top-k exactly — the approximation comes
    only from probing fewer cells, never from the cell routing itself."""
    from flink_1_16_0_src_spark import tables
    from flink_1_16_0_src_spark.pipeline.similarity import brute_force_topk, ivf_topk
    from pyspark.sql import functions as F

    emb = tables.load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    pred = F.col("vec_id") % 29 == 0
    n_cells = 4
    got = {
        (r.query_id, r.rank_num): r.neighbor_id
        for r in ivf_topk(
            emb, "embedding", "vec_id", pred, k=3, n_cells=n_cells, nprobe=n_cells
        ).collect()
    }
    want = {
        (r.query_id, r.rank_num): r.neighbor_id
        for r in brute_force_topk(
            emb.where(pred), emb, "embedding", "vec_id", k=3
        ).collect()
    }
    assert got == want and len(got) > 0


def test_pq_seed_vectors_encode_to_own_centroids(spark):
    """PQ invariant: the codebook seed vectors encode to their own
    centroid in EVERY subspace (distance 0), and ADC distance of a
    query to a seed vector equals the exact LUT-sum for those codes."""
    from flink_1_16_0_src_spark import tables
    from flink_1_16_0_src_spark.pipeline.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    cbs = pq_codebooks(emb, "embedding", "vec_id", m=8, ncent=4)
    enc = pq_encode(emb, "embedding", "vec_id", cbs)
    seeds = {r.vec_id: r for r in enc.where("vec_id < 4").collect()}
    for c in range(4):
        assert all(seeds[c][f"code{j}"] == c for j in range(8)), seeds[c]
    # top-k returns k rows with strictly ranked, non-negative distances
    top = pq_adc_topk(emb, "embedding", "vec_id", query_id=7, k=5, m=8, ncent=4).collect()
    assert [r.rank_num for r in top] == [1, 2, 3, 4, 5]
    ds = [r.adc_dist for r in top]
    assert ds == sorted(ds) and all(d >= 0 for d in ds)


def test_centroid_means_partition_order_independent(spark):
    """Decimal-exact means (VERDICT r2 'What's wrong' #1): the centroid
    update must be bitwise identical under any partitioning — double
    avg() varies with Spark's summation order and flipped a
    round(.,4)-and-hash boundary in driver r2."""
    from flink_1_16_0_src_spark.pipeline.cluster import _centroid_means

    emb = tables.load(spark, SF_DIR, "embeddings")
    seed_rows = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    seeds = [list(map(float, r[1])) for r in sorted(seed_rows, key=lambda r: r[0])]

    def stats(df):
        assigned = ivf_assign(df, "embedding", "vec_id", seeds)
        rows = _centroid_means(assigned, "embedding", dim=4).collect()
        return sorted((r["cell"], r["n"], r["m0"], r["m1"], r["m2"], r["m3"]) for r in rows)

    a = stats(emb.repartition(1))
    b = stats(emb.repartition(17, "vec_id"))
    c = stats(emb.repartition(5).sortWithinPartitions(F.col("vec_id").desc()))
    assert a == b == c  # bitwise: no tolerance


def test_ivf_refined_seeds_recall_not_worse(spark, sf_dir):
    """Seed-quality contract (VERDICT r2 #6): one Lloyd refinement pass
    must not lose recall vs the raw lowest-id sampled seeds, measured
    against brute-force ground truth on the fixture corpus."""
    from flink_1_16_0_src_spark.pipeline.similarity import brute_force_topk, ivf_topk

    emb = tables.load(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 17 == 0
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb.where(pred), emb, "embedding", "vec_id", k=5).collect()
    }

    def recall(refine):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(
                emb, "embedding", "vec_id", pred, k=5, n_cells=8, nprobe=2, refine=refine
            ).collect()
        }
        return len(got & truth) / len(truth)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0, f"refinement lost recall: {r1} < {r0}"
    assert r1 > 0.3  # sanity floor: probing 2/8 cells finds a real share


def test_pq_refined_codebooks_lower_distortion(spark, sf_dir):
    """Per-subspace Lloyd refinement lowers (or keeps) total encode
    distortion — the PQ analog of the k-means inertia contract."""
    from flink_1_16_0_src_spark.pipeline.similarity import pq_codebooks, pq_encode

    emb = tables.load(spark, sf_dir, "embeddings")

    def distortion(books):
        enc = pq_encode(emb, "embedding", "vec_id", books)
        m, sub = len(books), len(books[0][0])
        v = F.col("embedding").cast("array<double>")
        total = None
        for j in range(m):
            cents = books[j]
            sq = F.array(*[
                F.aggregate(
                    F.zip_with(
                        F.slice(v, j * sub + 1, sub),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0), lambda acc, x: acc + x,
                )
                for c in cents
            ])
            term = F.element_at(sq, F.col(f"code{j}") + 1)
            total = term if total is None else total + term
        return enc.select(F.sum(total)).collect()[0][0]

    d0 = distortion(pq_codebooks(emb, "embedding", "vec_id", m=8, ncent=4, refine=0))
    d1 = distortion(pq_codebooks(emb, "embedding", "vec_id", m=8, ncent=4, refine=1))
    assert d1 <= d0 * (1 + 1e-9), f"refinement raised distortion: {d1} > {d0}"


def test_ivf_assign_blas_cells_same_without_dists(spark):
    """``emit="cell"`` (Lloyd refinement's path) keeps only the
    per-block argmin; its cells must equal the full-matrix mode's,
    including vectors exactly equidistant from two seeds (lowest wins)."""
    import numpy as np

    from flink_1_16_0_src_spark.pipeline.similarity import _BLAS_CELLS_MIN, _ivf_assign_blas

    k, dim = max(40, _BLAS_CELLS_MIN), 4
    rng = np.random.RandomState(11)
    seeds = [[float(c), 0.0, 0.0, 0.0] for c in range(k)]
    vecs = [[c + 0.5, 0.0, 0.0, 0.0] for c in range(k - 1)]  # exact ties c / c+1
    # > 16384 // k rows per partition, so each batch spans several blocks
    vecs += rng.uniform(-1.0, k, size=(1200, dim)).round(3).tolist()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id: bigint, embedding: array<double>"
    ).repartition(2)

    def cells(with_dists):
        emit = "dists" if with_dists else "cell"
        out = _ivf_assign_blas(df, "embedding", "vec_id", seeds, emit=emit)
        assert ("__dists" in out.columns) == with_dists
        return {r.vec_id: r.cell for r in out.select("vec_id", "cell").collect()}

    full, lean = cells(True), cells(False)
    assert len(full) == len(vecs) and full == lean
    assert [full[c] for c in range(k - 1)] == list(range(k - 1))
