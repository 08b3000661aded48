#!/usr/bin/env python
"""Headline benchmark: runs the flagship queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}.

Each query is executed three times: a warm-up that also triggers
JIT/codegen, then two timed runs of which the MINIMUM is reported.
The timed number is end-to-end (plan + execute + collect-to-count),
which is what a user of the engine experiences; min-of-2 because the
shared-host CPU budget swings several-fold between runs and a single
sample can report a noise spike instead of the engine.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

BENCH_QUERIES = [
    # one representative per operator family (SURVEY.md §2), heavy ones
    "agg_q1_pricing_summary",    # scan+filter+agg (TPC-H q1)
    "agg_q6_forecast_revenue",   # selective scan (TPC-H q6)
    "agg_distinct",              # distinct agg expansion
    "agg_grouping_sets",         # Expand + agg
    "join_multiway_q5",          # 6-table join (TPC-H q5)
    "join_theta_nonequi",        # broadcast NLJ
    "tpch_q9_product_profit",    # LIKE-filtered 5-way join + agg
    "tpch_q21_suppliers_waiting",  # EXISTS + NOT EXISTS (semi+anti)
    "tpcds_q67_rollup_rank",     # ROLLUP + window rank
    "subq_tpch_q20_nested_in",   # nested subqueries
    "over_rows_sliding",         # OVER window frames
    "topn_per_group",            # rank + filter
    "tvf_hop_agg",               # sliding window TVF (row fan-out)
    "setop_intersect_all",       # counted set op
    "dedup_minhash_lsh",         # shingle→minhash→band join. NB r3:
                                 # timings through r2 were flattered by a
                                 # cache leak — the pipeline's persisted
                                 # frames outlived each invocation, so
                                 # timed runs re-matched the warmup's
                                 # caches. Caches are now scoped to the
                                 # invocation (r2 ADVICE); every timed
                                 # run pays the full pipeline honestly.
    "sim_ivf_topk",              # IVF-bucketed ANN top-k (the scale path;
                                 # brute-force stays registered as the
                                 # small-|Q| exact tool). r5 watch item
                                 # RETIRED in r6: canary ratio 11.69 ->
                                 # 9.57 on a quiet host with zero code
                                 # change since r4 — confirmed host
                                 # noise, do not re-litigate.
    "text_token_stats",          # text analysis over documents
    "sketch_hll_distinct_users", # HLL cardinality sketch (pure-Catalyst
                                 # register fold, 64-row shuffle)
    "decontam_ngram_overlap",    # benchmark n-gram decontamination
                                 # (broadcast grams, map-side check)
    "cep_adjacent_click_purchase",  # MATCH_RECOGNIZE NFA per key
    "stream_tumble_drain",       # streaming throughput: file-stream →
                                 # watermark → windowed agg → sink (M7)
    # r5 additions (NB: the headline TOTAL is not comparable to r4's —
    # compare per-query seconds / canary ratios instead):
    "sim_pq_adc_topk",           # PQ ADC scan + heap top-k (r5 fix:
                                 # TakeOrderedAndProject, no global sort)
    "vocab_top_tokens",          # tokenizer vocab head (same r5 fix)
    # r7 addition (per-query comparison only; totals shift by the new
    # entry):
    "dedup_substring_spans",     # exact substring dedup (Lee et al.):
                                 # window-md5 map pass + grouped distinct
                                 # count + per-doc islands merge
    "text_tfidf_topk",           # TF-IDF retrieval: postings filter at
                                 # the scan, broadcast df, heap top-20
    "stream_doc_dedup_drain",    # streaming ingest dedup of documents
                                 # (bag-fp keep-first, stateful)
    # r7 second wave:
    "pipeline_e2e_curation",     # the composed curation DAG (dedup →
                                 # gopher gate → decontam → sample →
                                 # pack) — end-to-end pipeline
                                 # throughput in ONE plan
    "dedup_semantic",            # SemDeDup: k-means-blocked
                                 # within-cluster cosine dedup
    "sample_dsir_weights",       # DSIR hashed-ngram importance weights
                                 # (broadcast log-ratio table)
    # r10 addition (per-query comparison only):
    "stream_sql_composed_drain", # streaming statement composition:
                                 # interval-join view feeding a TUMBLE
                                 # TVF agg in one statement (two
                                 # stateful operators, one drain)
    # r11 addition (per-query comparison only):
    "stream_sql_window_topn_drain",  # window Top-N via the r11
                                 # RANK-BOUNDED stateful buffer
                                 # (k rows per (window, key) state +
                                 # event-time-timer emission) — the
                                 # perf canary for the rewrite
]


def _canary_sec() -> float:
    """Fixed-cost single-core CPU reference task (VERDICT r3 #7): a
    deterministic pure-Python integer loop, timed min-of-3. Cross-round
    bench totals drown in shared-host contention (±30% uniform drift in
    r2→r3); per-query wall/canary RATIOS cancel the host factor, so a
    real regression is visible through the noise. The task is
    allocation-free arithmetic — no NumPy/JVM — so it measures raw CPU
    timeslice, not library versions."""
    def task() -> int:
        acc = 7
        for i in range(2_000_000):
            acc = (acc * 1_103_515_245 + 12_345 + i) % 2_147_483_648
        return acc

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        task()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


# -- sf1 scale probe (VERDICT r6 #4) ---------------------------------------
# One decade of empirical scaling for the five most expensive pipeline
# ops: each is timed at sf0.1 and again at a derived 10x corpus, so the
# 100x-design claims rest on a measured decade, not plans alone. The 10x
# corpus replicates sf0.1's documents/embeddings with per-replica token
# and vector perturbation so the near-duplicate RATE stays at sf0.1's
# level (verbatim replication would instead 10x every LSH bucket and
# measure hot-bucket behavior, not data growth).

SCALE_PROBE_QUERIES = [
    "dedup_minhash_lsh",
    "decontam_ngram_overlap",
    "sim_ivf_topk",
    "sim_pq_adc_topk",
    "sim_ivfpq_topk",
    "pipeline_e2e_curation",  # the composed curation DAG: the decade
                              # for the WHOLE pipeline, not just stages
    # r8 additions — the two heaviest ops the probe had not covered;
    # dedup_semantic's 57x-per-decade regression was caught exactly by
    # this kind of one-off measurement (fixed to ~6.6x in r8)
    "dedup_semantic",
    "dedup_substring_spans",
    # r13 addition (ADDITIVE — VERDICT r12 #5): the scale-honest IVF
    # variant (n_cells = ceil(sqrt N), fixed query set) next to the
    # pinned-8-cell bench query, so the probe separates corpus growth
    # from the pinned config's quadratic-by-construction rerank
    "sim_ivf_topk_autocells",
]
_SCALE_BASE = "/root/testdata/sf0.1"
_SCALE_DIR = "/tmp/spark_graft_scale_probe/sf1"
_SCALE_FACTOR = 10


def _ensure_scale_corpus() -> str | None:
    """Materialize the 10x documents/embeddings replica (idempotent).
    Returns the directory, or None if the base fixture is absent."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(_SCALE_BASE):
        return None
    docs_out = os.path.join(_SCALE_DIR, "documents.parquet")
    embs_out = os.path.join(_SCALE_DIR, "embeddings.parquet")
    if os.path.exists(docs_out) and os.path.exists(embs_out):
        return _SCALE_DIR
    os.makedirs(_SCALE_DIR, exist_ok=True)

    docs = pq.read_table(os.path.join(_SCALE_BASE, "documents.parquet"))
    n_docs = docs.num_rows
    doc_id = docs.column("doc_id").to_pylist()
    text = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    source = docs.column("source").to_pylist()
    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for k in range(_SCALE_FACTOR):
        # suffix every word with the replica tag (k>0) so every shingle
        # differs across replicas: no cross-replica near-dups, the dup
        # rate per 10th of the corpus is exactly sf0.1's
        tag = "" if k == 0 else str(k)
        for i in range(n_docs):
            t = text[i] if not tag else " ".join(w + tag for w in text[i].split())
            out["doc_id"].append(doc_id[i] + k * n_docs)
            out["text"].append(t)
            out["lang"].append(lang[i])
            out["source"].append(source[i])
            out["n_chars"].append(len(t))
    schema = docs.schema
    pq.write_table(
        pa.table(
            {f: pa.array(out[f], type=schema.field(f).type) for f in out},
            schema=pa.schema([schema.field(f) for f in out]),
        ),
        docs_out,
    )

    embs = pq.read_table(os.path.join(_SCALE_BASE, "embeddings.parquet"))
    n_vec = embs.num_rows
    vec_id = np.asarray(embs.column("vec_id").to_pylist())
    mat = np.asarray(embs.column("embedding").to_pylist(), dtype=np.float32)
    label = np.asarray(embs.column("label").to_pylist())
    dims = mat.shape[1]
    ids, vecs, labels = [], [], []
    for k in range(_SCALE_FACTOR):
        # deterministic per-(replica, dim) offset: replicas occupy
        # shifted copies of the cluster structure instead of 10 exact
        # stacked copies (which would put 10x mass on every IVF cell)
        delta = (((k * 37 + np.arange(dims) * 11) % 13) - 6).astype(np.float32) * 0.004 * k
        ids.append(vec_id + k * n_vec)
        vecs.append(mat + delta)
        labels.append(label)
    eschema = embs.schema
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.concatenate(ids), type=eschema.field("vec_id").type),
                "embedding": pa.array(
                    [row for chunk in vecs for row in chunk.tolist()],
                    type=eschema.field("embedding").type,
                ),
                "label": pa.array(np.concatenate(labels), type=eschema.field("label").type),
            },
            schema=eschema,
        ),
        embs_out,
    )
    return _SCALE_DIR


def _scale_probe(spark, registry) -> dict:
    """Time each probe op at sf0.1 and at the 10x corpus (single timed
    run each — the signal is the decade growth ratio, where a
    superlinear blowup dwarfs host noise). Linear-in-data ops should
    land near 10x wall or below (fixed overheads amortize).

    Shared-host honesty: neighbor contention can swing wall times 3x
    mid-run (the r2→r3 lesson), which would masquerade as superlinear
    growth. Each timed run is therefore bracketed by the single-core
    canary, and ``growth_x_norm`` divides each wall by the mean of its
    bracketing canaries before taking the decade ratio — read the
    normalized number when raw and normalized disagree."""
    out: dict[str, dict] = {}
    scale_dir = _ensure_scale_corpus()
    if scale_dir is None:
        return out

    def _pcanary_sec() -> float:
        """PARALLEL canary: a fixed all-core Spark job. Neighbor load
        on the shared host hits 32-way stages via slot QUEUEING that
        the single-core canary cannot see (it always gets a full
        timeslice) — this canary inflates with the same queueing the
        probe ops suffer, so growth_x_pnorm stays comparable across
        host states. Min-of-2."""
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(300_000_000).selectExpr("sum(id * 3 + 1)").collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)

    _pcanary_sec()  # warm the parallel-canary codegen once per probe run

    def _min2(fn, d) -> float:
        # min-of-2 like the headline loop: single-shot probe timings
        # are bimodal for the persist-heavy pipelines (a prior
        # invocation's lingering localCheckpoint blocks squeeze the
        # storage fraction and the cold-cache race re-runs upstream
        # passes — stage-level diag shows run 2 lands at the true
        # value, e.g. minhash sf1 23 s → 12.4 s)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(d).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            _reclaim(spark)
        return best

    def _timed(fn) -> dict:
        fn(_SCALE_BASE).count()  # warm JIT/codegen
        _reclaim(spark)
        c1, p1 = _canary_sec(), _pcanary_sec()
        base = _min2(fn, _SCALE_BASE)
        c2, p2 = _canary_sec(), _pcanary_sec()
        x10 = _min2(fn, scale_dir)
        c3, p3 = _canary_sec(), _pcanary_sec()
        base_n = base / ((c1 + c2) / 2)
        x10_n = x10 / ((c2 + c3) / 2)
        base_p = base / ((p1 + p2) / 2)
        x10_p = x10 / ((p2 + p3) / 2)
        return {
            "sf0.1_sec": round(base, 4),
            "sf1_sec": round(x10, 4),
            "growth_x": round(x10 / base, 2) if base > 0 else None,
            "growth_x_norm": round(x10_n / base_n, 2) if base_n > 0 else None,
            # queueing-aware normalization — read THIS one when the
            # loadavg fields show a neighbor was active
            "growth_x_pnorm": round(x10_p / base_p, 2) if base_p > 0 else None,
            "canaries_sec": [round(c, 4) for c in (c1, c2, c3)],
            "parallel_canaries_sec": [p1, p2, p3],
            "loadavg_1m": round(os.getloadavg()[0], 2),
        }

    for n in SCALE_PROBE_QUERIES:
        if n not in registry:
            continue
        out[n] = _timed(lambda d, _fn=registry[n].fn: _fn(spark, d))

    # The registered sim_ivf_topk's query predicate (vec_id % 50 = 0)
    # grows |Q| WITH the corpus, so its probe growth conflates corpus
    # scale-up with workload scale-up: per-query rerank is ~N/4 rows
    # (n_cells pinned at 8 by the oracle) and |Q| ~ N/50, total ~N^2/200
    # — quadratic BY CONFIG, the named offender. The realistic 100 TB
    # framing is a FIXED external query workload against a growing
    # corpus: this variant pins |Q| to the sf0.1 query set (vec_id <
    # 2000) so every term — assignment N x cells, per-query candidates
    # nprobe x N/cells — is linear in N, and the measured decade should
    # sit near 10x or below.
    from pyspark.sql import functions as F

    from flink_1_16_0_src_spark.pipeline.similarity import ivf_topk
    from flink_1_16_0_src_spark.tables import load as _load

    def _fixed_q_ivf(sf_dir: str):
        emb = _load(spark, sf_dir, "embeddings")
        return ivf_topk(
            emb, "embedding", "vec_id",
            (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000),
            k=5, n_cells=8, nprobe=2, refine=1,
        )

    out["sim_ivf_topk_fixed_queryset"] = _timed(_fixed_q_ivf)
    return out


def _reclaim(spark) -> None:
    """Drop state left behind by the previous query so 36 back-to-back
    executions don't contaminate each other's timings: persisted frames
    (the pipeline persists are scoped per call, never shared across
    queries), then a driver GC so the ContextCleaner releases dead
    broadcasts/shuffles — with a 48g heap the JVM otherwise goes whole
    bench runs without a collection and block-manager pressure stalls
    random later queries for tens of seconds."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # free Python-side DataFrame refs first
    spark.sparkContext._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from flink_1_16_0_src_spark.registry import all_queries
    from flink_1_16_0_src_spark.session import get_spark, jit_flags

    load_start = os.getloadavg()
    spark = get_spark("bench")
    registry = all_queries()
    names = [n for n in BENCH_QUERIES if n in registry]

    # sf1 scale probe FIRST (VERDICT r8 #7): the probe's absolute
    # seconds are the scale evidence, so measure them before the
    # 29-query headline loop has heated the JVM/page cache unevenly
    # across ops; each probe entry still does its own warm-up pass
    probe = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "auto") != "0" and (
        "sf0.1" in sf_dir or os.environ.get("SPARK_GRAFT_SCALE_PROBE") == "1"
    ):
        probe = _scale_probe(spark, registry)

    def _pcanary() -> float:
        """Parallel-capacity canary for the HEADLINE loop (additive
        r12 field; the probe already brackets its ops with one): a
        fixed 32-way Spark sum, min-of-2. The sandbox's PARALLEL
        capacity swings 3-10x across hours (burst throttling /
        invisible neighbors) while the single-core canary stays flat —
        a 32-way query's wall time tracks this number, so cross-round
        per-query comparisons must read it before blaming code.
        Measured r12: pcanary 0.09-0.17 s fresh box, 0.31-1.57 s
        drained; dedup_minhash_lsh moved 4.6 -> 14.3 s with ZERO code
        change, ratio matching the pcanary swing."""
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(300_000_000).selectExpr("sum(id * 3 + 1)").collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)

    _pcanary()  # warm codegen so the start sample is honest
    pcanary_start = _pcanary()
    timings: dict[str, float] = {}
    query_canaries: dict[str, float] = {}
    for n in names:
        # warm-up: JIT/codegen, parquet footers, this query's persists
        registry[n].fn(spark, sf_dir).count()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            registry[n].fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[n] = round(best, 4)
        # isolate queries from each other's leftovers
        _reclaim(spark)
        # per-query interleaved canary (VERDICT r7 #4): host load can
        # swing mid-run, so each query's ratio divides by a canary
        # measured NEXT to it, not one end-of-run sample — cross-round
        # ratio comparisons then stop being hostage to when in the run
        # the contention spike landed
        query_canaries[n] = _canary_sec()

    # headline canary = median of the interleaved per-query canaries
    # (kept for cross-round continuity with r1-r7 bench JSONs)
    cvals = sorted(query_canaries.values()) or [_canary_sec()]
    canary = cvals[len(cvals) // 2]
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # contention canary: compare rounds via queries[q]/canary ratios,
        # not raw seconds (shared-host CPU swings several-fold). Each
        # ratio divides by the canary interleaved right after that query.
        "canary_sec": canary,
        "query_canaries": {n: round(c, 4) for n, c in query_canaries.items()},
        "query_canary_ratios": {
            n: round(t / query_canaries.get(n, canary), 2)
            for n, t in timings.items()
        },
        # one measured decade of scaling (sf0.1 -> derived 10x corpus)
        # for the heaviest pipeline ops; see _scale_probe
        "scale_probe": probe,
        # shared-host contention evidence: neighbor load hits 32-way
        # parallel stages much harder than the single-core canary
        # (queueing, not timeslice), so ratios on a loaded host inflate
        # for the heaviest queries specifically — read these before
        # cross-round ratio comparisons. 1/5/15-min load averages at
        # bench start and end; this box has 32 CPUs.
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # parallel-capacity canaries bracketing the headline loop
        # (r12, additive — see _pcanary): a 32-way query's seconds
        # scale with these, not with canary_sec
        "pcanary_start_sec": pcanary_start,
        "pcanary_end_sec": _pcanary(),
        # the JVM's effective compiler flags: the canaries time one long
        # JIT-compiled loop, so their seconds and every ratio against
        # them compare only between runs with the same flags
        "jit_flags": jit_flags(spark),
    }
    print(json.dumps(out))
    # durability: a caller that keeps only a short tail of stdout loses
    # the per-query ratio map and the probe entry, so the full JSON also
    # goes to a file, by default the git-ignored .bench_local.json at
    # the repo root (a run leaves the tracked tree as it was). Override
    # the path with SPARK_GRAFT_BENCH_OUT; set it empty to skip the
    # file write.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_local.json"),
    )
    if out_path:
        try:
            with open(out_path, "w") as fh:
                json.dump(out, fh, indent=1)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout: stdout already has the line
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
