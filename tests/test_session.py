"""session.DEFAULT_CPUS: the host's usable CPUs unless SPARK_GRAFT_CPUS
says otherwise. Checked in child processes that import the module and
start no Spark."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = ("from pyspark import SparkContext; "
         "from felixzh_flink_spark import session; "
         "print(session.DEFAULT_CPUS, SparkContext._gateway is None)")


def _default_cpus(env_value):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_value is not None:
        env["SPARK_GRAFT_CPUS"] = env_value
    out = subprocess.run([sys.executable, "-c", PROBE], cwd=ROOT, env=env,
                         capture_output=True, text=True, check=True)
    cpus, no_jvm = out.stdout.split()
    assert no_jvm == "True"
    return int(cpus)


def test_default_cpus_is_the_affinity_count_unless_overridden():
    assert _default_cpus(None) == len(os.sched_getaffinity(0))
    assert _default_cpus("3") == 3
