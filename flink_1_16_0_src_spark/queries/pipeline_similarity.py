"""Similarity-search pipeline queries (BASELINE.json north-star
extras) over the embeddings fixture."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.pipeline.similarity import (
    brute_force_topk,
    lsh_bucket,
    threshold_pairs,
)
from flink_1_16_0_src_spark.registry import query
from flink_1_16_0_src_spark.tables import load


@query(
    "sim_topk_bruteforce",
    oracle="""
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank_num FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                                      CAST(b.embedding AS DOUBLE[])), 4) DESC,
                                         b.vec_id) AS rank_num
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 10
    ) WHERE rank_num <= 5
    """,
    tags=("pipeline", "similarity"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 10 query vectors — the ANN
    baseline. Query side broadcast; corpus streams (work |Q|·|C|
    distributed over corpus partitions)."""
    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk(
        emb.where(F.col("vec_id") < 10), emb, "embedding", "vec_id", k=5
    )


@query(
    "sim_threshold_pairs",
    oracle="""
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 25
      AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.25
    """,
    tags=("pipeline", "similarity"),
)
def sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All embedding pairs with cosine >= threshold (query side broadcast, corpus streamed)."""
    emb = load(spark, sf_dir, "embeddings")
    return threshold_pairs(
        emb.where(F.col("vec_id") < 25), emb, "embedding", "vec_id", threshold=0.25
    )


@query(
    "sim_lsh_buckets",
    oracle="""
    WITH comps AS (
      SELECT e.vec_id, p.plane,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               d -> CAST(e.embedding[d] AS DOUBLE) *
                    (((('0x' || substr(md5(p.plane || ':' || (d - 1)), 1, 15))::BIGINT % 2) * 2) - 1)
             )) AS dot
      FROM embeddings e, generate_series(0, 7) p(plane)
    )
    SELECT vec_id,
           CAST(sum(CASE WHEN round(dot, 6) >= 0 THEN (1 << plane) ELSE 0 END) AS INT) AS bucket
    FROM comps GROUP BY vec_id
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH buckets (8 md5-derived ±1 hyperplanes
    → 256 buckets): the scale path for ANN — bucket-join then rerank
    instead of |Q|·|C| cosine evaluations."""
    emb = load(spark, sf_dir, "embeddings")
    return lsh_bucket(emb, "embedding", "vec_id", n_planes=8)


@query(
    "sim_bucket_join_ann",
    oracle="""
    WITH comps AS (
      SELECT e.vec_id, e.embedding, p.plane,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               d -> CAST(e.embedding[d] AS DOUBLE) *
                    (((('0x' || substr(md5(p.plane || ':' || (d - 1)), 1, 15))::BIGINT % 2) * 2) - 1)
             )) AS dot
      FROM embeddings e, generate_series(0, 7) p(plane)
    ),
    buckets AS (
      SELECT vec_id, any_value(embedding) AS embedding,
             CAST(sum(CASE WHEN round(dot, 6) >= 0 THEN (1 << plane) ELSE 0 END) AS INT) AS bucket
      FROM comps GROUP BY vec_id
    )
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, a.bucket,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cosine
    FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_bucket_join_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LSH ANN shape: bucket both sides, join on bucket, exact
    cosine rerank inside buckets — O(collisions), not O(n²)."""
    emb = load(spark, sf_dir, "embeddings")
    # materialize the (vec_id, bucket) LSH projection once (r12): both
    # join sides derive from it, and without the barrier the 8-plane
    # dot-product pass ran twice. Two ints per vector; the embedding
    # payload stays OUT of the checkpoint and re-reads from parquet
    # per side (scans are cheap, vector recompute is not).
    bk = lsh_bucket(emb, "embedding", "vec_id", n_planes=8).localCheckpoint(
        eager=False
    )
    buckets = bk.join(emb.select("vec_id", "embedding"), "vec_id")
    a = buckets.select(
        F.col("vec_id").alias("query_id"), F.col("bucket"), F.col("embedding").alias("__va")
    )
    b = buckets.select(
        F.col("vec_id").alias("neighbor_id"), F.col("bucket"), F.col("embedding").alias("__vb")
    )
    from flink_1_16_0_src_spark.pipeline.dedup import _cosine

    return (
        a.join(b, "bucket")
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            F.round(_cosine(F.col("__va"), F.col("__vb")), 4).alias("cosine"),
        )
    )


@query(
    "sim_ivf_topk",
    oracle="""
    WITH seeds0 AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < 8
    ),
    d0 AS (
      SELECT e.vec_id, s.cell,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i]))) AS d
      FROM embeddings e, seeds0 s
    ),
    a0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY round(d, 6), cell) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    -- one Lloyd refinement pass: decimal-exact per-dimension means
    -- (order-independent sums, ONE double divide — mirrors Spark's
    -- _centroid_means), empty cells keep their seed
    dims AS (
      SELECT a.cell, i.i,
             CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(25,10)) AS dv
      FROM a0 a
      JOIN embeddings e ON e.vec_id = a.vec_id
      CROSS JOIN generate_series(1, 64) i(i)
    ),
    refined AS (
      SELECT cell, list(m ORDER BY i) AS cvec FROM (
        SELECT cell, i, CAST(sum(dv) AS DOUBLE) / count(*) AS m
        FROM dims GROUP BY cell, i
      ) GROUP BY cell
    ),
    seeds AS (
      SELECT s0.cell, COALESCE(r.cvec, s0.cvec) AS cvec
      FROM seeds0 s0 LEFT JOIN refined r ON r.cell = s0.cell
    ),
    dists AS (
      SELECT e.vec_id, s.cell,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i]))) AS d
      FROM embeddings e, seeds s
    ),
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(d, 6), cell) AS rn
      FROM dists
    ),
    assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, cell FROM ranked WHERE rn <= 2 AND vec_id % 50 = 0)
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank_num FROM (
      SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 4) DESC,
                        a.vec_id) AS rank_num
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
      JOIN embeddings q ON q.vec_id = p.vec_id
      JOIN embeddings c ON c.vec_id = a.vec_id
    ) WHERE rank_num <= 5
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the scale path next to LSH): 8 inverted cells seeded by
    the lowest-id vectors + ONE Lloyd refinement pass (deterministic
    decimal-exact means — de-degenerates sampled seeds on clustered
    corpora), queries probe their 2 nearest cells, exact cosine top-5
    rerank inside probed cells — |Q|x|C|/4 work vs brute force.
    Centroids are driver-held k x dim state, assignment is a map-only
    pass. The oracle replays the full pipeline including the Lloyd
    pass."""
    from flink_1_16_0_src_spark.pipeline.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "embedding", "vec_id", F.col("vec_id") % 50 == 0, k=5, n_cells=8,
        nprobe=2, refine=1,
    )


@query(
    "sim_ivf_topk_autocells",
    oracle="""
    WITH nc AS (
      SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS n_cells FROM embeddings
    ),
    seeds0 AS (
      SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings WHERE vec_id < (SELECT n_cells FROM nc)
    ),
    d0 AS (
      SELECT e.vec_id, s.cell,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i]))) AS d
      FROM embeddings e, seeds0 s
    ),
    a0 AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY round(d, 6), cell) AS rn
        FROM d0
      ) WHERE rn = 1
    ),
    -- one Lloyd refinement pass: decimal-exact per-dimension means
    -- (order-independent sums, ONE double divide — mirrors Spark's
    -- _centroid_means), empty cells keep their seed
    dims AS (
      SELECT a.cell, i.i,
             CAST(CAST(e.embedding[i.i] AS DOUBLE) AS DECIMAL(25,10)) AS dv
      FROM a0 a
      JOIN embeddings e ON e.vec_id = a.vec_id
      CROSS JOIN generate_series(1, 64) i(i)
    ),
    refined AS (
      SELECT cell, list(m ORDER BY i) AS cvec FROM (
        SELECT cell, i, CAST(sum(dv) AS DOUBLE) / count(*) AS m
        FROM dims GROUP BY cell, i
      ) GROUP BY cell
    ),
    seeds AS (
      SELECT s0.cell, COALESCE(r.cvec, s0.cvec) AS cvec
      FROM seeds0 s0 LEFT JOIN refined r ON r.cell = s0.cell
    ),
    dists AS (
      SELECT e.vec_id, s.cell,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               i -> (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i])
                  * (CAST(e.embedding[i] AS DOUBLE) - s.cvec[i]))) AS d
      FROM embeddings e, seeds s
    ),
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY round(d, 6), cell) AS rn
      FROM dists
    ),
    assign AS (SELECT vec_id, cell FROM ranked WHERE rn = 1),
    probes AS (SELECT vec_id, cell FROM ranked
               WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 2000)
    SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rank_num FROM (
      SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                     CAST(c.embedding AS DOUBLE[])), 4) DESC,
                        a.vec_id) AS rank_num
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
      JOIN embeddings q ON q.vec_id = p.vec_id
      JOIN embeddings c ON c.vec_id = a.vec_id
    ) WHERE rank_num <= 5
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_ivf_topk_autocells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE-HONEST IVF variant (r13, VERDICT r12 #5): same pipeline as
    ``sim_ivf_topk`` but (a) n_cells grows as ceil(sqrt(N)) — the
    standard IVF sizing rule that keeps per-query rerank ~ nprobe·sqrt(N)
    instead of the pinned-8-cell variant's N/4 — and (b) the query set
    is FIXED to sf0.1's (vec_id % 50 = 0 AND vec_id < 2000), the
    realistic 100 TB framing of a constant external workload against a
    growing corpus. Every term is then sublinear-or-linear in N:
    assignment N·sqrt(N) cheap codegen'd arithmetic, rerank |Q|·2·sqrt(N)
    exact cosines. The oracle derives the identical n_cells from its own
    count(*) and replays seeds/Lloyd/probes bit-for-bit. At true 100 TB
    n_cells the expression-built assignment would swap to the BLAS
    mapInPandas pass (similarity._ivf_assign_blas — same contract); at probe
    scales the expression form measures the honest decade. The pinned
    sim_ivf_topk stays registered unchanged (its oracle pins 8 cells)."""
    import math

    from flink_1_16_0_src_spark.pipeline.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    n_cells = int(math.ceil(math.sqrt(n)))
    return ivf_topk(
        emb, "embedding", "vec_id",
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000),
        k=5, n_cells=n_cells, nprobe=2, refine=1,
    )


@query(
    "sim_pq_adc_topk",
    oracle="""
    WITH cb AS (
      SELECT j.j, c.c,
             list_slice(e.embedding::DOUBLE[], j.j*8 + 1, j.j*8 + 8) AS cent
      FROM generate_series(0, 7) j(j)
      CROSS JOIN generate_series(0, 3) c(c)
      JOIN embeddings e ON e.vec_id = c.c
    ),
    dists AS (
      SELECT e.vec_id, cb.j, cb.c,
             (SELECT sum(((e.embedding::DOUBLE[])[cb.j*8 + s.i] - cb.cent[s.i]) ^ 2)
              FROM generate_series(1, 8) s(i)) AS d
      FROM embeddings e CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY round(d, 6), c) AS rn
        FROM dists) t WHERE rn = 1
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
    lut AS (
      SELECT cb.j, cb.c,
             (SELECT sum((q.qv[cb.j*8 + s.i] - cb.cent[s.i]) ^ 2)
              FROM generate_series(1, 8) s(i)) AS d
      FROM cb, q
    ),
    adc AS (
      SELECT codes.vec_id AS neighbor_id, sum(lut.d) AS dist
      FROM codes JOIN lut ON codes.j = lut.j AND codes.code = lut.c
      WHERE codes.vec_id <> 42
      GROUP BY codes.vec_id
    )
    SELECT CAST(42 AS BIGINT) AS query_id, neighbor_id,
           round(dist, 4) AS adc_dist,
           CAST(row_number() OVER (ORDER BY round(dist, 4), neighbor_id) AS INT) AS rank_num
    FROM adc QUALIFY rank_num <= 5
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al.): 64-dim embeddings →
    8 subspaces × 4 sampled centroids; corpus stored as 8 codes/vector;
    query answered by an asymmetric-distance scan (driver-precomputed
    8×4 lookup table as literal arrays, element_at picks per row —
    zero per-row vector math). The DuckDB oracle replays the whole
    pipeline: codebook slicing, first-minimum encoding, LUT build, and
    the ADC top-5."""
    from flink_1_16_0_src_spark.pipeline.similarity import pq_adc_topk

    emb = load(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, "embedding", "vec_id", query_id=42, k=5, m=8, ncent=4)


@query(
    "sim_ann_recall_eval",
    oracle="""
    WITH comps AS (
      SELECT e.vec_id, e.embedding, p.plane,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
               d -> CAST(e.embedding[d] AS DOUBLE) *
                    (((('0x' || substr(md5(p.plane || ':' || (d - 1)), 1, 15))::BIGINT % 2) * 2) - 1)
             )) AS dot
      FROM embeddings e, generate_series(0, 7) p(plane)
    ),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN round(dot, 6) >= 0 THEN (1 << plane) ELSE 0 END) AS INT) AS bucket
      FROM comps GROUP BY vec_id
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                       CAST(b.embedding AS DOUBLE[])), 4) DESC,
                          b.vec_id) AS rank_num
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 10
      ) WHERE rank_num <= 5
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      WHERE q.vec_id < 10
    )
    SELECT e.query_id,
           CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(count(c.neighbor_id) AS BIGINT) AS n_hits,
           CAST(count(c.neighbor_id) * 2000 AS BIGINT) AS recall_e4
    FROM exact e
    LEFT JOIN cand c ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
    LEFT JOIN (SELECT query_id, count(*) AS n_candidates FROM cand GROUP BY query_id) n
           ON n.query_id = e.query_id
    GROUP BY e.query_id, n.n_candidates
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the LSH bucket candidates
    against the exact brute-force top-5 for 10 query vectors — the
    harness a pipeline runs before trusting an approximate index.
    recall_e4 = hits·2000 (hits/5 in exact 1e-4 integer units — no
    float divide on the hashed surface). Both sides reuse the
    production operators; the candidate count shows the |candidates| vs
    recall trade the bucket width buys."""
    from flink_1_16_0_src_spark.pipeline.similarity import lsh_bucket

    emb = load(spark, sf_dir, "embeddings")
    # The three reused frames each materialize ONCE (r12 lazy
    # localCheckpoints, the jaccard_verify precedent): without the
    # barriers the plan re-derived the LSH projection pass FOUR times
    # (both sides of the bucket join × both cand consumers), the
    # brute-force ground truth twice, and the candidate join twice —
    # the audit read 8 embeddings scans for one eval. All three are
    # bounded: exact is |queries|·k rows, b is two ints per vector,
    # cand is the candidate set the harness by definition enumerates.
    exact = brute_force_topk(
        emb.where(F.col("vec_id") < 10), emb, "embedding", "vec_id", k=5
    ).select("query_id", "neighbor_id").localCheckpoint(eager=False)
    b = lsh_bucket(emb, "embedding", "vec_id", n_planes=8).localCheckpoint(
        eager=False
    )
    cand = (
        b.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), "bucket")
        .join(b.select(F.col("vec_id").alias("neighbor_id"), "bucket"), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    ).localCheckpoint(eager=False)
    ncand = cand.groupBy("query_id").agg(F.count("*").alias("n_candidates"))
    hits = exact.join(cand, ["query_id", "neighbor_id"], "left_semi")
    per_q = (
        exact.select("query_id").distinct()
        .join(hits.groupBy("query_id").agg(F.count("*").alias("n_hits")),
              "query_id", "left")
        .join(ncand, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) * 2000).cast("bigint").alias("recall_e4"),
        )
    )
    return per_q


@query(
    "sim_ivfpq_topk",
    oracle="""
    WITH seeds AS (
      SELECT vec_id AS cell, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id < 4
    ),
    cd AS (
      SELECT e.vec_id, s.cell,
             (SELECT sum(((e.embedding::DOUBLE[])[g.i] - s.cv[g.i]) ^ 2)
              FROM generate_series(1, 64) g(i)) AS d
      FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY round(d, 6), cell) AS rn
        FROM cd) t WHERE rn = 1
    ),
    resid AS (
      SELECT e.vec_id, a.cell,
             list_transform(generate_series(1, 64),
                i -> (e.embedding::DOUBLE[])[i] - s.cv[i]) AS r
      FROM embeddings e
      JOIN assign a ON a.vec_id = e.vec_id
      JOIN seeds s ON s.cell = a.cell
    ),
    cb AS (
      SELECT j.j, c.c, list_slice(r.r, j.j*8 + 1, j.j*8 + 8) AS cent
      FROM generate_series(0, 7) j(j)
      CROSS JOIN generate_series(0, 3) c(c)
      JOIN resid r ON r.vec_id = c.c
    ),
    cdists AS (
      SELECT r.vec_id, cb.j, cb.c,
             (SELECT sum((r.r[cb.j*8 + s.i] - cb.cent[s.i]) ^ 2)
              FROM generate_series(1, 8) s(i)) AS d
      FROM resid r CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT vec_id, j, c,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY round(d, 6), c) AS rn
        FROM cdists) t WHERE rn = 1
    ),
    qprobe AS (
      SELECT cell FROM (
        SELECT cd.cell, row_number() OVER (ORDER BY round(cd.d, 6), cd.cell) AS rn
        FROM cd WHERE cd.vec_id = 42) t WHERE rn <= 2
    ),
    qres AS (
      SELECT p.cell,
             list_transform(generate_series(1, 64),
                i -> (q.embedding::DOUBLE[])[i] - s.cv[i]) AS r
      FROM qprobe p
      JOIN seeds s ON s.cell = p.cell
      CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 42) q
    ),
    lut AS (
      SELECT qr.cell, cb.j, cb.c,
             (SELECT sum((qr.r[cb.j*8 + s.i] - cb.cent[s.i]) ^ 2)
              FROM generate_series(1, 8) s(i)) AS d
      FROM qres qr CROSS JOIN cb
    ),
    adc AS (
      SELECT a.vec_id AS neighbor_id, round(sum(l.d), 4) AS adc_dist
      FROM assign a
      JOIN qprobe p ON p.cell = a.cell
      JOIN codes k2 ON k2.vec_id = a.vec_id
      JOIN lut l ON l.cell = a.cell AND l.j = k2.j AND l.c = k2.code
      WHERE a.vec_id <> 42
      GROUP BY a.vec_id
    )
    SELECT CAST(42 AS BIGINT) AS query_id, neighbor_id, adc_dist,
           CAST(row_number() OVER (ORDER BY adc_dist, neighbor_id) AS INT) AS rank_num
    FROM adc QUALIFY rank_num <= 5
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN index (Jégou et al. §V, the FAISS IndexIVFPQ
    shape): coarse quantizer (4 cells) routes vectors, PQ (8×4) encodes
    RESIDUALS, the query scans its 2 nearest cells with per-cell ADC
    tables built from the query's residual. The DuckDB oracle replays
    the whole pipeline — assignment, residuals, residual codebooks,
    encoding, probe ordering, per-cell LUTs, and the heap top-5."""
    from flink_1_16_0_src_spark.pipeline.similarity import ivfpq_topk

    emb = load(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, "embedding", "vec_id", query_id=42, k=5, n_cells=4, nprobe=2,
        m=8, ncent=4,
    )


@query(
    "knn_label_predict",
    oracle="""
    WITH nn AS (
      SELECT q.vec_id AS query_id, c.label,
             row_number() OVER (PARTITION BY q.vec_id
                ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                      CAST(c.embedding AS DOUBLE[])), 4) DESC,
                         c.vec_id) AS rn
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 8
    ), votes AS (
      SELECT query_id, label, count(*) AS votes FROM nn WHERE rn <= 5 GROUP BY 1, 2
    )
    SELECT query_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) = 1
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def knn_label_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding column: majority label of
    the 5 nearest neighbors (rounded-cosine rank, id tie-break;
    vote ties break on the smaller label) for a FIXED 8-query set —
    the standard label-propagation / quality-transfer pass a curation
    pipeline runs from a small labeled seed set onto the corpus.

    Scale shape: the query set is broadcast (fixed |Q|, NOT a corpus
    fraction — a % predicate would grow |Q| with the corpus and go
    quadratic, the sim_ivf_topk scale_probe lesson); the corpus streams
    once through the cosine + per-query top-5; the vote/argmax windows
    run over <= |Q|*k = 40 rows. Swap brute_force_topk for ivf_topk to
    trade exactness for a probed scan at 100 TB — the vote logic is
    index-agnostic."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    nn = brute_force_topk(
        emb.where(F.col("vec_id") < 8), emb, "embedding", "vec_id", k=5
    )
    labeled = F.broadcast(nn).join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
    )
    votes = labeled.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    w = W.partitionBy("query_id").orderBy(F.col("votes").desc(), "label")
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("label").alias("predicted_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )


@query(
    "sim_hard_negatives",
    oracle="""
    SELECT query_id, negative_id, round(cos, 4) AS cosine, rank_num FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS negative_id,
             list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])) AS cos,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                                      CAST(b.embedding AS DOUBLE[])), 4) DESC,
                                         b.vec_id) AS rank_num
      FROM embeddings a JOIN embeddings b ON a.label <> b.label
      WHERE a.vec_id < 10
    ) WHERE rank_num <= 5
    """,
    tags=("pipeline", "similarity", "custom-op"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (pipeline.similarity.hard_negative_mining —
    the DPR/Contriever contrastive-training negative selection): per
    query vector, the top-5 most-similar vectors with a DIFFERENT
    label. Broadcast-query corpus scan; swap the corpus for IVF
    candidates at real scale."""
    from flink_1_16_0_src_spark.pipeline.similarity import hard_negative_mining

    emb = load(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb.where(F.col("vec_id") < 10), emb, "embedding", "vec_id", "label", k=5
    )
