"""The session JVM starts C2 later, and the options reach it on every
launch path.

``session.get_spark`` sets ``spark.driver.defaultJavaOptions`` to
``session.JIT_OPTIONS``, HotSpot's four C2 (tier 4) thresholds each 30
times their default. Spark puts ``spark.driver.extraJavaOptions``
(``--driver-java-options``, which perfbench sets) after them on the
JVM's command line, so both sets arrive and the later value of a flag
wins.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from flink_1_16_0_src_spark.session import JIT_OPTIONS, jit_flags

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from flink_1_16_0_src_spark.session import get_spark, jit_flags
spark = get_spark("jvm-options-probe", cpus="1")
mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "flags": jit_flags(spark),
}))
spark.stop()
"""


def _options(s: str) -> dict[str, str]:
    return dict(o[len("-XX:"):].split("=") for o in s.split())


def test_session_jvm_starts_c2_later(spark):
    flags = jit_flags(spark)
    assert flags.pop("TieredStopAtLevel") == "4"  # C2 still compiles
    assert flags == _options(JIT_OPTIONS)
    assert flags["Tier4InvocationThreshold"] == "150000"


def test_driver_java_options_join_the_default(tmp_path):
    """perfbench's launch path: ``--driver-java-options`` in
    ``PYSPARK_SUBMIT_ARGS`` joins the default options, and the later
    value of a flag wins."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {
        **os.environ,
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options "
            "'-Dgraft.probe=1 -XX:Tier4InvocationThreshold=5000' pyspark-shell"
        ),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "TMPDIR": str(tmp),
    }
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=REPO, env=env, check=True,
        capture_output=True, text=True, timeout=300,
    ).stdout
    probe = json.loads(out.strip().splitlines()[-1])
    assert set(JIT_OPTIONS.split()) <= set(probe["args"])
    assert "-Dgraft.probe=1" in probe["args"]
    assert probe["flags"]["Tier4InvocationThreshold"] == "5000"
    assert probe["flags"]["Tier4BackEdgeThreshold"] == "1200000"
