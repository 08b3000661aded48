"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # generators, metric lists, gate on sql_mix
    python3 perfbench/selftest.py --all      # gate on every workload

Checks that
1. every generator writes byte-identical files for the same seed and
   different files for another seed;
2. ``BENCHMARK.json`` lists exactly the metrics ``run.py`` prints;
3. the correctness gate catches a planted wrong answer: ``run.py
   --plant-mismatch`` must exit non-zero with ``"correct": false``;
4. without the engine beside it, ``run.py`` exits non-zero and prints no
   result line.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
from run import END_TO_END, PER_LAYER, WORK  # noqa: E402

GENERATORS = {
    "tpch": (gen.build_tpch, 2),
    "events": (lambda out, s, n: gen.build_events(out, s, n, 3), 300),
    "docs": (gen.build_documents, 200),
}


def check_generators(base: Path) -> list[str]:
    fails = []
    for kind, (build, size) in GENERATORS.items():
        a = gen.digest(gen.cached(str(base / "a"), kind, 7, size, build))
        b = gen.digest(gen.cached(str(base / "b"), kind, 7, size, build))
        c = gen.digest(gen.cached(str(base / "c"), kind, 8, size, build))
        if a != b:
            fails.append(f"{kind}: seed 7 built twice differs")
        if a == c:
            fails.append(f"{kind}: seeds 7 and 8 give identical inputs")
        print(f"# generator {kind}: {a[:16]} {'==' if a == b else '!='} {b[:16]}")
    return fails


def check_benchmark_json() -> list[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    fails = []
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        if theirs != list(ours):
            fails.append(f"BENCHMARK.json {key} differs from run.py")
    return fails


def run(args: list[str], cwd: Path) -> tuple[int, str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def check_gate(workload: str) -> list[str]:
    rc, out = run(["--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", "0", "--plant-mismatch"], ROOT)
    result = json.loads(out.strip().splitlines()[-1])
    print(f"# gate {workload}: exit {rc}, correct {result['correct']}")
    if rc == 0 or result["correct"] or "# MISMATCH" not in out:
        return [f"{workload}: planted wrong answer not caught"]
    return []


def check_without_engine(base: Path) -> list[str]:
    bare = base / "bare"
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    rc, out = run(["--workload", "sql_mix", "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    print(f"# without engine: exit {rc}")
    if rc == 0 or any(line.startswith("{") for line in out.splitlines()):
        return ["run.py without the engine did not fail cleanly"]
    return []


def main() -> int:
    workloads = ["sql_mix", "stream_backlog"] if "--all" in sys.argv else ["sql_mix"]
    WORK.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK) as tmp:
        base = Path(tmp)
        fails = check_generators(base) + check_benchmark_json() + check_without_engine(base)
    for w in workloads:
        fails += check_gate(w)
    for f in fails:
        print(f"FAIL {f}")
    print("selftest " + ("failed" if fails else "passed"))
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
