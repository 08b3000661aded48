"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. The command generates the workload's
inputs from the seed (cached under ``.perfbench_work/``, never timed),
sets up several times (a fresh import of the engine and its query
registry, the session, the workload's tables and sinks, one untimed
warm-up pass; the first repetition also starts the JVM; the median CPU
time is ``setup_s``), then runs the workload in a closed loop with one client
for whole iterations until at least ``--seconds`` of measured work.
Every output is checked against DuckDB afterwards; a mismatch or an
error makes the exit code 1. Workloads: ``sql_mix`` (``wl_sql.py``,
``wl_curation.py``) and ``stream_backlog`` (``wl_stream.py``).

``--trace 1`` splits ``--seconds`` between an untraced loop, a loop with
spans and per-job-group executor counters on, and a second untraced
loop, and reports the per-layer metrics plus the traced-versus-untraced
overhead instead of the end-to-end metrics.

Human-readable lines start with ``#``; the last line of standard output
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
PKG = "flink_1_16_0_src_spark"
SETUP_REPS = 2  # one cold (JVM start, JIT), one warm
DRIVER_MEM = "2g"

# (name, unit, better) — BENCHMARK.json lists the same; selftest.py checks it
END_TO_END = (
    ("cpu_ms_per_item", "ms", "lower"),
    ("setup_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)
PER_LAYER = (
    ("session.plan_s", "s/op", "lower"),
    ("session.statements", "count", "higher"),
    ("session.errors", "count", "lower"),
    ("sources.sink_write_s", "s/op", "lower"),
    ("sources.rows_written", "count/op", "higher"),
    ("sources.files_written", "count/op", "lower"),
    ("sources.input_mb", "MB/op", "lower"),
    ("queries.jobs", "count/op", "lower"),
    ("queries.tasks", "count/op", "lower"),
    ("queries.run_s", "s/op", "lower"),
    ("queries.cpu_s", "s/op", "lower"),
    ("queries.shuffle_mb", "MB/op", "lower"),
    ("queries.spill_mb", "MB/op", "lower"),
    ("queries.failed_tasks", "count/op", "lower"),
    ("streaming.batches", "count/op", "lower"),
    ("streaming.rows_per_batch", "count", "higher"),
    ("streaming.add_batch_s", "s/op", "lower"),
    ("streaming.overhead_s", "s/op", "lower"),
    ("streaming.query_planning_s", "s/op", "lower"),
    ("streaming.shuffle_partitions", "count", "lower"),
    ("streaming.state_rows", "count/op", "lower"),
    ("streaming.state_mem_mb", "MB/op", "lower"),
    ("streaming.state_update_s", "s/op", "lower"),
    ("streaming.state_commit_s", "s/op", "lower"),
    ("streaming.dropped_late_rows", "count/op", "higher"),
    ("pipeline.minhash.candidate_pairs", "count/op", "lower"),
    ("pipeline.minhash.verified_pairs", "count/op", "higher"),
    ("pipeline.minhash.verify_yield", "ratio", "higher"),
    ("pipeline.minhash.recall", "ratio", "higher"),
    ("pipeline.run_s", "s/op", "lower"),
    ("pipeline.cpu_s", "s/op", "lower"),
    ("pipeline.shuffle_mb", "MB/op", "lower"),
    ("pipeline.spill_mb", "MB/op", "lower"),
    ("pipeline.stage.dedup_s", "s/op", "lower"),
    ("pipeline.stage.gate_s", "s/op", "lower"),
    ("pipeline.stage.sample_s", "s/op", "lower"),
    ("pipeline.stage.decontam_s", "s/op", "lower"),
    ("pipeline.stage.pack_s", "s/op", "lower"),
    ("trace.untraced_iter_s", "s", "lower"),
    ("trace.traced_iter_s", "s", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
)


def pin_settings() -> dict[str, str]:
    """Deployment settings, set before Spark starts: one worker thread
    per usable core, local dirs and temp files inside the checkout, a
    heap that leaves room for other tenants of the machine."""
    tmp = WORK / "tmp"
    for d in (tmp, WORK / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            # the whole heap committed and touched at start: the JVM's
            # resident size then does not depend on how far GC has roamed
            f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={WORK / 'warehouse'} pyspark-shell"
        ),
    }
    os.environ.update(settings)
    return settings


def load_library():
    """Import the engine afresh (drop any earlier import first), with its
    query registry populated."""
    for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[m]
    lib = importlib.import_module(PKG)
    for sub in ("session", "tables", "oracle", "registry"):
        importlib.import_module(f"{PKG}.{sub}")
    lib.registry.all_queries()
    return lib


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until the
    Python workers it started have ended too."""
    from pyspark import SparkContext

    from harness import descendants, reap

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    reap(workers)


def run_loop(wl, seconds: float, cpu, spans, counters):
    """Closed loop, one client: whole iterations until ``seconds`` of
    measured work; the isolation step between iterations is not measured.
    Returns the merged ``Iteration`` and the seconds of each iteration."""
    from common import Iteration

    wl.begin_loop()
    loop, per_iteration = Iteration(), []
    while loop.seconds < seconds:
        c0 = cpu()
        it = wl.iteration(len(per_iteration), spans, counters)
        it.cpu_s = cpu() - c0
        wl.end_iteration()
        loop.merge(it)
        per_iteration.append(it.seconds)
    return loop, per_iteration


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="corrupt one output before the oracle check (self-test)")
    args = ap.parse_args(argv)

    settings = pin_settings()
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec(PKG) is None:
        print(f"error: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    import harness
    from wl_sql import SqlMix
    from wl_stream import StreamBacklog

    workloads = {w.name: w for w in (SqlMix, StreamBacklog)}
    if args.workload not in workloads:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    import pyspark

    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        print(f"# setting {k}={settings[k]}")
    print(f"# spark {pyspark.__version__} workload {args.workload} seed {args.seed} "
          f"seconds {args.seconds:g} trace {args.trace}", flush=True)

    scratch = WORK / "run" / f"{args.workload}-{os.getpid()}"
    wl = workloads[args.workload](str(WORK / "cache"), str(scratch), args.seed)
    wl.generate()

    spark = None
    traced = None
    cpu = None  # the JVM's CPU clock, once the first set-up has started it
    try:
        setup, setup_wall = [], []
        for _ in range(SETUP_REPS):
            c0 = cpu() if cpu else time.thread_time()
            t0 = time.perf_counter()
            lib = load_library()
            t1 = time.perf_counter()
            spark = lib.session.get_spark("perfbench")
            if cpu is None:
                jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
                cpu = harness.CpuClock(jvm_pid)
            t2 = time.perf_counter()
            wl.open(spark, lib)
            t3 = time.perf_counter()
            wl.warmup()
            setup_wall.append(time.perf_counter() - t0)
            setup.append(cpu() - c0)
            print(f"# setup import {t1 - t0:.2f} s, session {t2 - t1:.2f} s, "
                  f"open {t3 - t2:.2f} s, warm-up {setup_wall[-1] - (t3 - t0):.2f} s; "
                  f"CPU {setup[-1]:.2f} s", flush=True)
        print("# setup wall s per repetition " + " ".join(f"{s:.3f}" for s in setup_wall), flush=True)

        mem = harness.MemSampler(jvm_pid)
        mem.start()
        cpu0 = harness.host_cpu()
        # a traced run splits its time between untraced, traced and again
        # untraced loops, so the JVM warming up over the run does not
        # count for or against tracing
        budget = args.seconds / 3 if args.trace else args.seconds
        timed, timed_iters = run_loop(wl, budget, cpu, harness.Spans(False), harness.NoCounters())
        busy, steal = harness.host_shares(cpu0, harness.host_cpu())
        peak, peak_jvm, procs = mem.stop()
        print(f"# host CPU during the timed loop: busy {busy:.1%}, stolen {steal:.1%}")
        print(f"# peak memory {peak:.0f} MB PSS: JVM {peak_jvm:.0f} MB, "
              f"{procs - 1} Python worker processes {peak - peak_jvm:.0f} MB", flush=True)
        named = wl.named_metrics(timed)
        if args.trace:
            spans, counters = harness.Spans(True), harness.JobCounters(spark)
            traced, traced_iters = run_loop(wl, budget, cpu, spans, counters)
            layers = wl.layer_metrics(spans, counters, traced)
            after, after_iters = run_loop(wl, budget, cpu, harness.Spans(False), harness.NoCounters())

        if args.plant_mismatch:
            wl.plant_mismatch()
        checked, problems = wl.verify()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    for p in problems:
        print(f"# MISMATCH {p[:500]}")
    loops = [timed] + ([traced, after] if traced else [])
    attempted = sum(lp.ops for lp in loops)
    failed = min(attempted, sum(lp.errors for lp in loops) + len(problems))
    correct = failed == 0

    values = {
        "cpu_ms_per_item": 1e3 * timed.cpu_s / timed.items,
        "setup_s": statistics.median(setup),
        "peak_rss_mb": peak,
    }
    named += [
        ("throughput_per_s", timed.items / timed.seconds, "1/s"),
        ("cpu_ms_per_item", values["cpu_ms_per_item"], f"ms (CPU {timed.cpu_s:.2f} s, {timed.items} items)"),
        ("setup_s", values["setup_s"], "s (CPU)"),
        ("setup_wall_s", statistics.median(setup_wall), "s"),
        ("peak_rss_mb", peak, "MB"),
        ("failed_ratio", failed / max(attempted, 1), "ratio"),
    ]
    for kind, xs in sorted(timed.by_kind.items()):
        print(f"# latency {kind} n={len(xs)} p50 {statistics.median(xs):.3f} s: "
              + " ".join(f"{x:.3f}" for x in xs))
    for name, value, unit in named:
        print(f"# metric {name} {value:.6g} {unit}")
    print(f"# outputs checked {checked}, mismatched {len(problems)}; "
          f"iterations {len(timed_iters)}, iteration_s "
          + " ".join(f"{s:.3f}" for s in timed_iters)
          + f", trend {harness.trend(timed_iters):+.4f}/iteration")

    if args.trace:
        untraced_it = statistics.median(timed_iters + after_iters)
        traced_it = statistics.median(traced_iters)
        layers.update({
            "trace.untraced_iter_s": untraced_it,
            "trace.traced_iter_s": traced_it,
            "trace.overhead_ratio": traced_it / untraced_it - 1,
        })
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit, _ in PER_LAYER}
        out = WORK / "spans" / f"{args.workload}-s{args.seed}-{os.getpid()}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(spans.records))
        print(f"# spans written to {out.relative_to(ROOT)}")
    else:
        metrics = {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
