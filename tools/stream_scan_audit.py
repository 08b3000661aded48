"""Duplicate-source-scan audit for the streaming drains (r13, VERDICT
r12 #8 — the r12 explain audit covered only the 381 batch queries).

For every registered stream_* query, runs the drain at sf0.01 with
``run_to_memory`` patched to capture each streaming query's LAST
executed micro-batch physical plan (q.explain's source), then counts
source scans (FileScan/Scan parquet / MicroBatchScan) per plan. Drains
that do not route through run_to_memory (the statement-set family and
execute_streaming_insert) run foreachBatch over ONE shared source
scan by construction — their per-statement SQL is planned over the
persisted batch view, never a second source scan — and are recorded
as such.

Usage: python tools/stream_scan_audit.py [out.jsonl]
"""
from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_16_0_src_spark.session import get_spark
from flink_1_16_0_src_spark.streaming import sources as ssrc


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/stream_scan_audit.jsonl"
    sf = "/root/testdata/sf0.01"
    spark = get_spark("stream-scan-audit")

    captured: list[tuple[str, str]] = []
    orig = ssrc.run_to_memory

    def patched(sdf, name, output_mode="append"):
        sp = sdf.sparkSession
        with ssrc._scoped_shuffle_partitions(
            sp, ssrc.derived_stream_partitions(sp, sdf)
        ):
            q = (
                sdf.writeStream.format("memory").queryName(name)
                .outputMode(output_mode).trigger(availableNow=True).start()
            )
            q.awaitTermination()
        try:
            # physical plan only — the extended form repeats every scan
            # once per plan section (parsed/analyzed/optimized/physical)
            # and inflates the count
            plan = q._jsq.explainInternal(False)
            if "== Physical Plan ==" in plan:
                plan = plan.rsplit("== Physical Plan ==", 1)[1]
            # AQE prints the plan twice (== Final Plan == ... ==
            # Initial Plan ==) — count the final plan only
            if "== Initial Plan ==" in plan:
                plan = plan.split("== Initial Plan ==", 1)[0]
        except Exception as ex:  # noqa: BLE001
            plan = f"<explain failed: {ex}>"
        captured.append((name, plan))
        return sp.sql(f"SELECT * FROM {name}")

    ssrc.run_to_memory = patched
    try:
        from flink_1_16_0_src_spark.registry import all_queries

        reg = all_queries()
        names = sorted(n for n in reg if n.startswith("stream_"))
        n_multi = 0
        with open(out_path, "w") as fh:
            for name in names:
                captured.clear()
                try:
                    reg[name].fn(spark, sf).count()
                    err = None
                except Exception as ex:  # noqa: BLE001
                    err = str(ex)[:200]
                entries = []
                for qname, plan in captured:
                    scans = len(re.findall(r"FileScan |Scan parquet|MicroBatchScan", plan))
                    streams = len(re.findall(r"StreamingDataSourceV2ScanRelation|FileStreamSource|MicroBatchScan", plan))
                    entries.append({"stream": qname, "source_scans": scans,
                                    "stream_scans": streams})
                multi = [e for e in entries if e["source_scans"] > 1]
                n_multi += bool(multi)
                fh.write(json.dumps({
                    "name": name,
                    "via_run_to_memory": bool(entries),
                    "plans": entries,
                    "multi_scan": bool(multi),
                    "err": err,
                }) + "\n")
                fh.flush()
                print(name, "multi" if multi else ("-" if entries else "foreachBatch/insert"), flush=True)
    finally:
        ssrc.run_to_memory = orig
    print(json.dumps({"queries": len(names), "multi_scan_drains": n_multi}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
