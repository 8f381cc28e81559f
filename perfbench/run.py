"""Benchmark entry point: one isolated workload run, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

Each run gets a fresh child process (`workload.py`) with its own TMPDIR and
SPARK_LOCAL_DIRS under `.perfbench/` in the checkout, removed afterwards,
and the repo root on PYTHONPATH so Spark's Python workers can import the
engine. This process samples the summed resident memory (PSS) of the
child's process tree (driver, JVM, Python workers) from /proc, times the
host-speed probe (`hostspeed.py`) just before and just after the child,
scales the end-to-end timings to the reference host speed, stamps
provenance, and prints the result as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics. Provenance and run details go to stderr and to
`.perfbench/last-<workload>-trace<t>.json`; a traced run also leaves its
spans, with self times, in `.perfbench/last-<workload>-spans.json`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "felixzh_flink_spark")
CHILD_TIMEOUT_S = 170.0
sys.path.insert(0, HERE)

import hostspeed  # noqa: E402
from workload import BATCH_SCALE, WORKLOADS, sf_dir_name  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s", "lat_p50_s": "s",
              "lat_tail_s": "s", "drain_eps": "1/s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {"_s": "s", "_ms_p50": "ms", "_mb": "MB", "calls": "count",
                   "jobs": "count", "tasks": "count", "batches": "count",
                   "rows": "count", "rows_p50": "count", "rows_recv": "count",
                   "files_max": "count", "per_batch": "count", "slope": "1/s",
                   "eps": "1/s", "skew": "ratio", "frac": "ratio",
                   "mb_sent": "MB", "mb_recv": "MB"}


def layer_unit(name: str) -> str:
    for suffix, unit in sorted(PER_LAYER_UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------- provenance

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _version(cmd: list[str]) -> str | None:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=20)
        return (p.stdout + p.stderr).strip().splitlines()[0]
    except (OSError, IndexError, subprocess.SubprocessError):
        return None


def provenance(cpus: int) -> dict:
    digest = hashlib.sha256()
    for base, _, files in sorted(os.walk(ENGINE)):
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(base, n), "rb") as f:
                    digest.update(n.encode() + f.read())
    head = _version(["git", "-C", ROOT, "rev-parse", "HEAD"])
    return {
        "nproc": os.cpu_count(), "spark_cores": cpus,
        "head": head if head and len(head) == 40 else None,
        "engine_sha256": digest.hexdigest(),
        "python": sys.version.split()[0],
        "java": _version(["java", "-version"]),
        "loadavg_before": _loadavg(),
    }


# ----------------------------------------------------------------- memory

def _tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
        # the load generator is not the system, and jspawnhelper is the
        # JVM's short-lived fork for launching Python workers: it shows
        # the JVM's pages a second time
        if b"streamgen.py" in cmd or b"jspawnhelper" in cmd:
            return 0.0
        # Pss: resident pages, each page shared by k processes counted 1/k
        # (the forked Python workers share most of their pages)
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cmd(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")[-60:]
    except OSError:
        return ""


class RssSampler(threading.Thread):
    def __init__(self, pid: int, period: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0.0
        self.at_peak: list = []
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            parts = [(p, _rss_mb(p)) for p in _tree(self.pid)]
            total = sum(mb for _, mb in parts)
            if total > self.peak:
                self.peak = total
                self.at_peak = sorted((round(mb), _cmd(p)) for p, mb in parts if mb)
            self.stop.wait(self.period)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _reap_group(pgid: int) -> None:
    """SIGKILL whatever is left of the child's process group and wait
    until no live member remains."""
    deadline = time.time() + 10.0
    while _group_alive(pgid) and time.time() < deadline:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


# ------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark run")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # half the CPUs: the JVM's JIT and GC threads, the Python driver and the
    # load generator run beside Spark's task threads and should not queue
    # behind them
    ap.add_argument("--cpus", type=int,
                    default=max(1, len(os.sched_getaffinity(0)) // 2))
    a = ap.parse_args()
    if not os.path.isdir(ENGINE):
        print(f"perfbench: engine package not found at {ENGINE}", file=sys.stderr)
        return 2

    prov = provenance(a.cpus)
    stat0 = _cpu_times()
    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub))
    result, code = None, None
    try:
        if a.workload == "batch":
            from tables import write_tables
            write_tables(os.path.join(run_dir, sf_dir_name()), BATCH_SCALE)
        out = os.path.join(run_dir, "result.json")
        probes = [hostspeed.probe()]
        env = dict(os.environ,
                   TMPDIR=os.path.join(run_dir, "tmp"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
                   PYTHONPATH=os.pathsep.join(
                       [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
                   SPARK_GRAFT_DRIVER_MEM="1g",
                   PERFBENCH_T0=repr(time.time()))
        cmd = [sys.executable, os.path.join(HERE, "workload.py"),
               "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--cpus", str(a.cpus), "--run-dir", run_dir, "--out", out]
        child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                 start_new_session=True)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        sampler.stop.set()
        sampler.join()
        if code is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        _reap_group(child.pid)
        probes.append(hostspeed.probe())
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
            result["metrics"]["peak_rss_mb"] = sampler.peak
            result["detail"]["rss_at_peak"] = sampler.at_peak
        spans = os.path.join(run_dir, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(state, f"last-{a.workload}-spans.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: workload run failed (exit {code})", file=sys.stderr)
        return 1

    prov.update(loadavg_after=_loadavg(), steal_pct_during=steal_pct(stat0, _cpu_times()),
                host_probe_s=probes)
    result["detail"]["unscaled"] = result["metrics"]
    result["metrics"] = hostspeed.adjust(result["metrics"], statistics.mean(probes))
    if a.trace:
        result["per_layer"].update(
            {k: result["metrics"][k.removeprefix("trace.")]
             for k in result["per_layer"] if k.startswith("trace.")})
    if a.trace:
        metrics = {k: {"value": float(v), "unit": layer_unit(k)}
                   for k, v in sorted(result["per_layer"].items())}
    else:
        metrics = {k: {"value": float(result["metrics"][k]), "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "provenance": prov, "detail": result["detail"],
              "end_to_end": result["metrics"], "per_layer": result.get("per_layer")}
    with open(os.path.join(state, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps(detail), file=sys.stderr)
    line = {"correct": result["failed"] == 0 and result["attempted"] > 0,
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": metrics}
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
