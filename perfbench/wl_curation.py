"""The curation part of ``sql_mix``: a generated document corpus through
the registry's ``dedup_minhash_lsh`` and ``pipeline_e2e_curation``
queries, two operations per round beside the SQL statements.

The seed draws the corpus from the fixture vocabulary and plants
near-duplicates (small token edits of earlier documents). Doc ids stay
below 100000 because the registry's dup-corpus adds 100000 and 200000
to build its copies; that way the registry's oracle SQL applies
verbatim. ``dedup_recall`` is the share of planted pairs found.

In the traced loop both pipelines run stage by stage through the
``pipeline.*`` functions, each stage materialised under its own job
group, so time and shuffle bytes land on the function that built them.
"""

from __future__ import annotations

import threading

import pandas as pd

import gen
from common import compare

DOCS = 400
QUERIES = ("dedup_minhash_lsh", "pipeline_e2e_curation")
STAGES = ("dedup", "gate", "sample", "decontam", "pack")


class Curation:
    def __init__(self, cache_dir: str, seed: int):
        self.corpus = gen.cached(cache_dir, "docs", seed, DOCS, gen.build_documents)
        import pyarrow.parquet as pq

        planted = pq.read_table(f"{self.corpus}/planted.parquet").to_pandas()
        self.planted = set(zip(planted.id_a, planted.id_b))
        self.outputs: list[tuple[str, pd.DataFrame]] = []
        self.counts: dict[str, list[int]] = {"candidates": [], "verified": []}
        self._oracle: dict[str, pd.DataFrame] = {}
        self._oracle_thread: threading.Thread | None = None

    def start_oracle(self, lib) -> None:
        """Compute the registry's oracle answers in a background thread:
        they depend on the inputs alone, and the first (cold) set-up
        repetition leaves cores idle while the JVM starts."""

        def work():
            con = lib.oracle.duckdb_connection(self.corpus)
            con.execute("SET enable_progress_bar = false")
            con.execute("SET threads = 2")
            for name in QUERIES:
                self._oracle[name] = con.execute(lib.registry.QUERIES[name].oracle).fetchdf()

        self._oracle_thread = threading.Thread(target=work, daemon=True)
        self._oracle_thread.start()

    def open(self, spark, lib) -> None:
        self.spark, self.lib = spark, lib
        self.queries = lib.registry.all_queries()
        if self._oracle_thread is None:
            self.start_oracle(lib)

    def warmup_ops(self) -> list:
        return [lambda n=n: self.queries[n].fn(self.spark, self.corpus).toPandas()
                for n in QUERIES]

    def begin_loop(self) -> None:
        self.counts = {"candidates": [], "verified": []}

    def run(self, name: str, spans, counters) -> None:
        if not spans.enabled:
            out = self.queries[name].fn(self.spark, self.corpus).toPandas()
        elif name == "dedup_minhash_lsh":
            out = self._traced_minhash(spans, counters)
        else:
            out = self._traced_e2e(spans, counters)
        self.outputs.append((name, out))

    def _stage(self, spans, counters, cached: list, name: str, df):
        with counters.group(f"pipeline/{name}"), spans.span(f"pipeline.{name}"):
            df = df.persist()
            cached.append(df)
            rows = df.count()
        return df, rows

    def _traced_minhash(self, spans, counters) -> pd.DataFrame:
        """``minhash_dedup_pairs`` stage by stage over the registry's
        dup-corpus (same operators and arguments as the registry query)."""
        from pyspark.sql import functions as F

        dd, cached = self.lib.pipeline.dedup, []
        d = self.lib.tables.load(self.spark, self.corpus, "documents").select("doc_id", "text", "lang")
        corpus = d.unionByName(
            d.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang")
        ).unionByName(
            d.where(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz yy")).alias("text"), "lang")
        )
        n = self.spark.sparkContext.defaultParallelism
        stage = lambda name, df: self._stage(spans, counters, cached, name, df)  # noqa: E731
        docs, _ = stage("minhash.input", corpus.select("doc_id", "text").repartition(n, "doc_id"))
        sigs, _ = stage("minhash.signatures", dd.minhash_signatures(docs, "text", "doc_id", 16, 3))
        cands, n_cands = stage("minhash.candidates",
                               dd.lsh_candidate_pairs(sigs, "doc_id", 16, 4, 1000))
        pairs, n_pairs = stage("minhash.verify",
                               dd.jaccard_verify(docs, cands, "text", "doc_id", 0.6, 3))
        self.counts["candidates"].append(n_cands)
        self.counts["verified"].append(n_pairs)
        out = pairs.toPandas()
        for df in cached:
            df.unpersist()
        return out

    def _traced_e2e(self, spans, counters) -> pd.DataFrame:
        """``pipeline_e2e_curation``'s five stages, each materialised."""
        from pyspark.sql import functions as F

        p, cached = self.lib.pipeline, []
        stage = lambda name, df: self._stage(spans, counters, cached, name, df)  # noqa: E731
        docs = p.dedup.spread_input(self.lib.tables.load(self.spark, self.corpus, "documents"))
        kept, _ = stage("stage.dedup", p.dedup.exact_dedup(docs, "text", "doc_id").select("doc_id"))
        pre, _ = stage("stage.gate", docs.where(p.text.gopher_gate("text")))
        cand, _ = stage("stage.sample", p.sampling.hash_sample(pre, "doc_id", 0.5))
        bench = docs.where(F.col("doc_id") % 97 == 0)
        hits, _ = stage("stage.decontam",
                        p.decontam.contamination_hits(cand, bench, "text", "doc_id", n=8))
        flagged = F.broadcast(hits.where(F.col("n_contaminated_ngrams") > 0).select("doc_id"))
        clean = cand.join(kept, "doc_id").join(flagged, "doc_id", "left_anti")
        packed, _ = stage("stage.pack",
                          p.packing.pack_sequences(clean, "text", "doc_id", budget=2048, n_buckets=8))
        out = packed.toPandas()
        for df in cached:
            df.unpersist()
        return out

    def recall(self) -> float:
        for name, got in self.outputs:
            if name == "dedup_minhash_lsh":
                found = set(zip(got.id_a, got.id_b))
                return len(self.planted & found) / len(self.planted)
        return 0.0

    def verify(self) -> tuple[int, list[str]]:
        self._oracle_thread.join()
        problems: list[str] = []
        for name, got in self.outputs:
            problems += compare(self.lib, name, got, self._oracle[name])
        return len(self.outputs), problems

    def layer_metrics(self, spans, counters) -> dict[str, float]:
        ni = max(len(self.counts["candidates"]), 1)
        c = counters.collect(("pipeline/",))
        cands, verified = sum(self.counts["candidates"]), sum(self.counts["verified"])
        return {
            "pipeline.minhash.candidate_pairs": cands / ni,
            "pipeline.minhash.verified_pairs": verified / ni,
            "pipeline.minhash.verify_yield": verified / cands if cands else 0.0,
            "pipeline.minhash.recall": self.recall(),
            "pipeline.run_s": c["run_s"] / ni,
            "pipeline.cpu_s": c["cpu_s"] / ni,
            "pipeline.shuffle_mb": c["shuffle_mb"] / ni,
            "pipeline.spill_mb": c["spill_mb"] / ni,
            **{f"pipeline.stage.{s}_s": spans.total(f"pipeline.stage.{s}") / ni for s in STAGES},
        }
