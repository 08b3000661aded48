"""Profile a streaming drain: run the query once and dump per-batch
StreamingQueryProgress durations (addBatch/getBatch/commitOffsets/
walCommit/queryPlanning/triggerExecution) plus total wall, so the
drain's cost splits into startup vs per-micro-batch vs state commit.

Next to the durations, ``_cpu_s`` splits each drain's CPU seconds, read
from /proc: JVM threads grouped by name (JIT compiler threads apart,
threads that exited mid-drain as one sum), the JVM's reaped children
(shell spawns such as Hadoop's chmod/readlink) and the Python worker
processes (daemon and workers, including reaped ones). Beside the JIT
threads it names codegen cost: ``janino_compiles`` counts the classes
Spark's code generator compiled during the drain (``CodegenMetrics``,
driver and executors, one JVM in local mode) and ``janino_mean_ms`` is
their mean compile time (``CodeGenerator.compileTime``). The header
line names the JVM's effective compiler flags (``session.jit_flags``:
``TieredStopAtLevel`` and the C2 thresholds), so a profile shows which
compiler settings produced it.

Usage: python tools/stream_profile.py <query_name> [sf_dir]
"""
from __future__ import annotations

import json
import os
import re
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_16_0_src_spark.registry import all_queries  # noqa: E402
from flink_1_16_0_src_spark.session import get_spark, jit_flags  # noqa: E402
from flink_1_16_0_src_spark.streaming import sources as ssrc  # noqa: E402


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own CPU ticks, reaped children's CPU ticks)."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def _cpu_snapshot(jvm, jvm_pid: int) -> dict:
    """Cumulative CPU ticks of the JVM (per thread, own, reaped children)
    and of the Python processes below it, plus the JVM's Janino compile
    count and summed compile nanoseconds."""
    threads = {}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        st = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        if st:
            threads[tid] = (st[0], st[2])
    procs = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        st = _stat(f"/proc/{pid}/stat")
        if st:
            procs[int(pid)] = st
    below, frontier = set(), {jvm_pid}
    while frontier:
        frontier = {p for p, st in procs.items() if st[1] in frontier} - below
        below |= frontier
    _, _, own, reaped = procs[jvm_pid]
    python = sum(procs[p][2] + procs[p][3] for p in below if procs[p][0].startswith("python"))
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return {
        "threads": threads,
        "jvm": own,
        "reaped": reaped,
        "python": python,
        "janino": (compiles, codegen.compileTime()),
    }


def _cpu_split(before: dict, after: dict) -> dict:
    """CPU seconds spent between two ``_cpu_snapshot`` calls."""
    groups: dict[str, int] = defaultdict(int)
    for tid, (comm, ticks) in after["threads"].items():
        name = "jit compiler" if "Compiler" in comm else re.sub(r"[\d#-]+$", "", comm).strip()
        groups[name] += ticks - before["threads"].get(tid, (comm, 0))[1]
    jit = groups.pop("jit compiler", 0)

    def sec(ticks: int) -> float:
        return round(ticks / _TICK, 2)

    compiles = after["janino"][0] - before["janino"][0]
    compile_ns = after["janino"][1] - before["janino"][1]

    return {
        "jvm_threads": {k: sec(v) for k, v in sorted(groups.items(), key=lambda kv: -kv[1]) if v},
        "jvm_jit_compiler": sec(jit),
        "janino_compiles": compiles,
        "janino_mean_ms": round(compile_ns / compiles / 1e6, 1) if compiles else 0.0,
        "jvm_exited_threads": sec(after["jvm"] - before["jvm"] - jit - sum(groups.values())),
        "jvm_reaped_children": sec(after["reaped"] - before["reaped"]),
        "python_workers": sec(after["python"] - before["python"]),
    }


def main() -> int:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("stream-profile")

    progress: list[dict] = []
    orig = ssrc.run_to_memory

    def patched(sdf, qname, output_mode="append"):
        t0 = time.perf_counter()
        with ssrc.sized_partitions(sdf):
            q = (
                sdf.writeStream.format("memory")
                .queryName(qname)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        t_started = time.perf_counter()
        q.awaitTermination()
        t_done = time.perf_counter()
        for p in q.recentProgress:
            progress.append(
                {
                    "batchId": p["batchId"],
                    "numInputRows": p["numInputRows"],
                    "durationMs": p["durationMs"],
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "operatorName",
                                "numRowsTotal",
                                "numRowsUpdated",
                                "commitTimeMs",
                                "numShufflePartitions",
                            )
                        }
                        for so in p.get("stateOperators", [])
                    ],
                }
            )
        progress.append(
            {
                "_start_call_sec": round(t_started - t0, 3),
                "_await_sec": round(t_done - t_started, 3),
            }
        )
        return sdf.sparkSession.sql(f"SELECT * FROM {qname}")

    ssrc.run_to_memory = patched
    registry = all_queries()
    jvm = spark.sparkContext._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    flags = " ".join(f"{f}={v}" for f, v in jit_flags(spark).items())
    print(f"# stream_profile {name} {sf_dir} {flags}")
    # warm-up then timed, mirroring bench methodology
    for run in range(2):
        progress.append({"_run": run})
        t0 = time.perf_counter()
        cpu0 = _cpu_snapshot(jvm, jvm_pid)
        registry[name].fn(spark, sf_dir).count()
        progress.append({"_total_sec": round(time.perf_counter() - t0, 3)})
        progress.append({"_cpu_s": _cpu_split(cpu0, _cpu_snapshot(jvm, jvm_pid))})
    ssrc.run_to_memory = orig
    print(json.dumps(progress, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
