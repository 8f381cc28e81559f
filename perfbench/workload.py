"""One workload run, in a fresh process started by `run.py`.

    python3 perfbench/workload.py --workload batch --seed 1 --seconds 15 \
        --trace 0 --run-dir DIR --out result.json

`run.py` prepares DIR (isolated TMPDIR / SPARK_LOCAL_DIRS, generated batch
tables) and samples memory; this process starts Spark, sets up, measures
for `--seconds`, checks the outputs and writes one JSON result file.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import time
from contextlib import contextmanager
from datetime import datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import streamgen  # noqa: E402
from oracle import HASH_FILE, result_hash  # noqa: E402
from spans import (Py4jCounter, ProgressLog, Tracer, read_event_log,  # noqa: E402
                   spark_totals)

#: batch tables are generated at this scale factor (lineitem = 6M x sf)
BATCH_SCALE = 0.02
#: queries whose wall is mostly driver-side construction
PLAN_QUERIES = [
    "image_ahash_neardup_grid8",   # banded near-dup: eager checkpoint + deep plan
    "bm25_topk_multi_docs",        # batched lexical retrieval
    "token_shards",                # sequence packing family
]
#: queries whose wall is mostly execution
EXEC_QUERIES = [
    "q1_pricing_summary",          # relational scan + decimal aggregation
    "jpeg_color_decode_stats",     # pure-Python codec in an Arrow worker
]
BATCH_QUERIES = PLAN_QUERIES + EXEC_QUERIES

#: untimed noop passes after the check pass: JIT warm-up, part of setup
WARM_PASSES = 3

CDC_KEYS = 5_000
CDC_BUCKETS = 8
OPEN_RATE = 7.0             # open-loop files/s, for warm-up and measurement
WARM_S = 15.0               # open-loop warm-up before timing, part of setup
MAX_FILES_PER_TRIGGER = 40
DRAIN_FILES = 6 * MAX_FILES_PER_TRIGGER
EV_MAX_COUNT = 20
EV_TIMEOUT_MS = 5_000
EV_WATERMARK = "2 seconds"
COMMIT_TIMEOUT_S = 40.0

WORKLOADS = ("batch", "cdc_upsert", "event_windows")


def sf_dir_name() -> str:
    return f"sf{BATCH_SCALE}"


def start_session(a, tracer: Tracer):
    from felixzh_flink_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(a.run_dir, "warehouse"),
        "spark.sql.streaming.minBatchesToRetain": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if a.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(a.run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(a.run_dir, "events"), exist_ok=True)
    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=a.cpus, extra_conf=conf)
        spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def _gc(spark) -> None:
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def _span_windows(spans) -> list[tuple[float, float]]:
    return [(s["t0"], s["t1"]) for s in spans]


# ------------------------------------------------------------------ batch

def run_batch(spark, a, tracer: Tracer, py4j, res: dict) -> None:
    from felixzh_flink_spark.queries import QUERIES

    data = os.path.join(a.run_dir, sf_dir_name())
    with open(HASH_FILE) as f:
        expected = json.load(f)["hashes"]
    # construction runs: first-use artifacts, codegen and the result check
    with tracer.span("session.fixture"):
        for name in BATCH_QUERIES:
            res["attempted"] += 1
            try:
                df = QUERIES[name](spark, data)
                got = result_hash(df.columns, df.collect())
            except Exception as exc:  # a raising query is a failed operation
                got = f"error: {type(exc).__name__}: {exc}"
            if got != expected[name]:
                res["failed"] += 1
                res["detail"].setdefault("mismatch", {})[name] = got[:500]
            _gc(spark)
        for _ in range(WARM_PASSES):
            for name in BATCH_QUERIES:
                QUERIES[name](spark, data).write.format("noop").mode("overwrite").save()
                _gc(spark)
    res["setup_done"] = time.time()

    rng = random.Random(a.seed)
    walls: dict[str, list[float]] = {n: [] for n in BATCH_QUERIES}
    t_end = time.time() + a.seconds
    passes = 0
    while passes < 3 or time.time() < t_end:
        order = list(BATCH_QUERIES)
        rng.shuffle(order)
        with tracer.span("pass", n=passes):
            for name in order:
                res["attempted"] += 1
                with tracer.span("query", name=name):
                    t0 = time.perf_counter()
                    try:
                        with tracer.span("construct") as sp:
                            c0 = py4j.calls if py4j else 0
                            df = QUERIES[name](spark, data)
                            sp["counts"]["py4j"] = (py4j.calls if py4j else 0) - c0
                        if a.trace:
                            with tracer.span("plan"):
                                df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:
                        res["failed"] += 1
                        res["detail"].setdefault("errors", []).append(
                            f"{name}: {type(exc).__name__}: {exc}"[:500])
                        continue
                    walls[name].append(time.perf_counter() - t0)
                _gc(spark)
        passes += 1
    per_query = [stats.median(ws) for ws in walls.values()]
    res["metrics"] = {
        "pass_s": sum(per_query),
        # the middle query's median: a median over all walls would jump
        # between the per-query clusters from run to run
        "lat_p50_s": stats.median(per_query),
        "lat_tail_s": max(per_query),
        "drain_eps": len(per_query) / sum(per_query),
    }
    res["detail"]["passes"] = passes
    res["detail"]["query_median_s"] = {n: stats.median(w) for n, w in walls.items()}
    res["detail"]["query_walls_s"] = walls


def batch_layers(tracer: Tracer, log: dict, a) -> dict:
    """Per-pass layer totals, median over the measured passes."""
    rows = []
    for p in tracer.named("pass"):
        kids = [s for s in tracer.spans if s["t1"] and s["t0"] >= p["t0"]
                and s["t1"] <= p["t1"]]

        def total(name):
            return sum(s["t1"] - s["t0"] for s in kids if s["name"] == name)

        cons = [s for s in kids if s["name"] == "construct"]
        sp = spark_totals(log, _span_windows([p]))
        group = {q["id"]: "batch_plan" if q["counts"]["name"] in PLAN_QUERIES
                 else "batch_exec" for q in kids if q["name"] == "query"}
        split = {f"{g}.{n}_s": sum(s["t1"] - s["t0"] for s in kids
                                   if s["name"] == n and group.get(s["parent"]) == g)
                 for g in ("batch_plan", "batch_exec") for n in ("construct", "exec")}
        rows.append({
            **split,
            "queries.construct_s": total("construct"),
            "queries.py4j_calls": sum(s["counts"].get("py4j", 0) for s in cons),
            "queries.eager_jobs": spark_totals(log, _span_windows(cons))["jobs"],
            "spark.plan_s": total("plan"),
            "spark.exec_s": total("exec"),
            **_spark_layer(sp, p["t1"] - p["t0"], a.cpus),
        })
    return {k: stats.median([r[k] for r in rows]) for k in rows[0]}


def _spark_layer(sp: dict, wall: float, cpus: int) -> dict:
    return {
        "spark.jobs": sp["jobs"], "spark.tasks": sp["tasks"],
        "spark.task_run_s": sp["task_run_s"], "spark.gc_s": sp["gc_s"],
        "spark.shuffle_read_mb": sp["shuffle_read_mb"],
        "spark.shuffle_write_mb": sp["shuffle_write_mb"],
        "spark.spill_mb": sp["spill_mb"], "spark.task_skew": sp["task_skew"],
        "spark.busy_frac": sp["task_run_s"] / (cpus * wall) if wall > 0 else 0.0,
        "pyworker.rows_recv": sp["py_rows"], "pyworker.mb_sent": sp["py_sent_mb"],
        "pyworker.mb_recv": sp["py_recv_mb"], "pyworker.exec_s": sp["py_run_s"],
    }


# ---------------------------------------------------------------- streams

class StreamRun:
    def __init__(self, spark, a, tracer: Tracer, kind: str, py4j):
        self.spark, self.a, self.tracer, self.kind = spark, a, tracer, kind
        self.py4j = py4j
        d = os.path.join(a.run_dir, "stream")
        # the stream reads `in/*`: open-loop files land one by one in
        # `in/live`; the drain backlog is written whole under `stage` and its
        # directory renamed to `in/backlog` in one step
        self.in_dir = os.path.join(d, "in")
        self.in_glob = os.path.join(self.in_dir, "*")
        self.live = os.path.join(self.in_dir, "live")
        self.stage = os.path.join(d, "stage")
        self.ckpt = os.path.join(d, "ckpt")
        self.log = os.path.join(d, "gen.jsonl")
        self.state_dir = os.path.join(d, "state")
        self.n_files = 0
        self.query = None
        self.sink_ms: list[tuple[float, float]] = []     # (start, ms)
        self.rewritten: list[int] = []
        self.state_rows = 0
        self.counted = None
        os.makedirs(self.live)

    @contextmanager
    def construct(self):
        with self.tracer.span("construct") as sp:
            c0 = self.py4j.calls if self.py4j else 0
            yield
            sp["counts"]["py4j"] = (self.py4j.calls if self.py4j else 0) - c0

    def land(self, count: int, rate: float, out: str | None = None) -> list[str]:
        cmd = [sys.executable, os.path.join(HERE, "streamgen.py"),
               "--kind", "cdc" if self.kind == "cdc_upsert" else "events",
               "--seed", str(self.a.seed), "--keys", str(CDC_KEYS),
               "--out", out or self.live, "--stage", self.stage, "--log", self.log,
               "--start", str(self.n_files), "--count", str(count),
               "--rate", str(rate)]
        names = [streamgen.file_name(i) for i in range(self.n_files, self.n_files + count)]
        self.n_files += count
        if subprocess.run(cmd).returncode != 0:
            raise RuntimeError("generator failed")
        return names

    def landed(self) -> dict[str, dict]:
        with open(self.log) as f:
            return {e["file"]: e for e in map(json.loads, f)}

    def wait_committed(self, names: list[str]) -> float:
        """Block until every file in `names` sits in a committed batch;
        returns the newest of those commit times."""
        deadline = time.time() + COMMIT_TIMEOUT_S
        while True:
            batch_of = stats.read_source_log(self.ckpt)
            commits = stats.commit_times(self.ckpt)
            bs = [batch_of.get(n) for n in names]
            if all(b is not None and b in commits for b in bs):
                return max(commits[b] for b in bs)
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.time() > deadline:
                raise TimeoutError("files not committed in time")
            time.sleep(0.1)

    # -- pipelines
    def start_cdc(self):
        from pyspark.sql import types as T

        from felixzh_flink_spark.functions.changelog import (
            cdc_bootstrap_state, changelog_upsert_sink, decode_canal_json)
        from felixzh_flink_spark.sources.builders import file_stream_source

        schema = T.StructType([
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("weight", T.DecimalType(10, 2)),
        ])
        snap = streamgen.cdc_snapshot(self.a.seed, CDC_KEYS)
        rows = [(k, v[0], v[1], Decimal(v[2])) for k, v in snap.items()]
        with self.tracer.span("bootstrap"):
            cdc_bootstrap_state(self.spark.createDataFrame(rows, schema),
                                self.state_dir, ["id"], n_buckets=CDC_BUCKETS)
        with self.construct():
            src = file_stream_source(
                self.spark, self.in_glob,
                T.StructType([T.StructField("value", T.StringType())]),
                fmt="text", max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            changes = decode_canal_json(src, "value", schema)
        engine_sink = changelog_upsert_sink(self.state_dir, ["id"],
                                            n_buckets=CDC_BUCKETS)
        manifest = os.path.join(self.state_dir, "manifest.json")

        def read_paths():
            with open(manifest) as f:
                return {b: e.get("path") for b, e in json.load(f)["buckets"].items()}

        def sink(batch_df, epoch_id):
            before = read_paths() if self.a.trace else None
            with self.tracer.span("sink", epoch=epoch_id):
                t0 = time.time()
                engine_sink(batch_df, epoch_id)
                self.sink_ms.append((t0, (time.time() - t0) * 1e3))
            if before is not None:
                after = read_paths()
                self.rewritten.append(sum(after[b] != before.get(b) for b in after))

        return (changes.writeStream.foreachBatch(sink)
                .option("checkpointLocation", self.ckpt).start())

    def start_events(self):
        from pyspark.sql import functions as F, types as T

        from felixzh_flink_spark.sources.builders import file_stream_source
        from felixzh_flink_spark.streaming.triggers import count_window

        self.schema = T.StructType([
            T.StructField("key", T.StringType()),
            T.StructField("value", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
        ])
        with self.construct():
            src = file_stream_source(self.spark, self.in_glob, self.schema, fmt="json",
                                     max_files_per_trigger=MAX_FILES_PER_TRIGGER)
            events = src.withColumn("ts", F.timestamp_millis("ts_ms"))
            out = count_window(events, "key", "value", EV_MAX_COUNT,
                               timeout_ms=EV_TIMEOUT_MS, event_time_col="ts",
                               watermark_delay=EV_WATERMARK)
        return (out.writeStream.format("memory").queryName("ew_out")
                .outputMode("append").option("checkpointLocation", self.ckpt)
                .start())

    # -- checks
    def check_cdc(self) -> bool:
        from felixzh_flink_spark.functions.changelog import read_upsert_state

        gen = streamgen.CdcStream(self.a.seed, CDC_KEYS)
        for _ in range(self.n_files):
            gen.file_lines()
        got = {(r["id"], r["name"], r["description"], str(r["weight"]))
               for r in read_upsert_state(self.spark, self.state_dir).collect()}
        want = {(k, v[0], v[1], v[2]) for k, v in gen.state.items()}
        self.state_rows = len(got)
        return got == want

    def check_events(self) -> bool:
        from pyspark.sql import functions as F

        from felixzh_flink_spark.streaming.triggers import count_window_batch

        ref = (self.spark.read.schema(self.schema).json(self.in_glob)
               .filter(F.col("key") != streamgen.EV_FLUSH_KEY))
        want = {r["key"]: (r["c"], r["s"]) for r in
                count_window_batch(ref, "key", "value", EV_MAX_COUNT, "ts_ms")
                .groupBy("key").agg(F.sum("cnt").alias("c"),
                                    F.sum("sum_value").alias("s")).collect()}
        rows = self.spark.table("ew_out").collect()
        got: dict[str, list] = {}
        for r in rows:
            if r["key"] == streamgen.EV_FLUSH_KEY:
                continue
            c = got.setdefault(r["key"], [0, 0.0])
            c[0] += r["cnt"]
            c[1] += r["sum_value"]
        full = all(r["cnt"] == EV_MAX_COUNT for r in rows if r["fired_by"] == "count")
        self.counted = (sum(c for c, _ in got.values()), sum(c for c, _ in want.values()))
        return full and {k: tuple(v) for k, v in got.items()} == want

    def land_flush(self) -> None:
        """Land one far-future event: the batch after the one that reads
        it fires every remaining window by timeout."""
        self.flush_name = streamgen.file_name(self.n_files)
        self.n_files += 1
        tmp = os.path.join(self.stage, self.flush_name)
        with open(tmp, "w") as f:
            f.write(streamgen.EventStream(0).flush_line() + "\n")
        # a newer mtime than every landed file, so it is read last: the
        # generator's mtimes run ahead of the clock when it writes more
        # than one file per millisecond
        newest = max(e.stat().st_mtime_ns for d in os.scandir(self.in_dir)
                     for e in os.scandir(d.path))
        t = max(time.time_ns(), newest + 1_000_000)
        os.utime(tmp, ns=(t, t))
        os.rename(tmp, os.path.join(self.live, self.flush_name))

    def land_backlog(self, count: int) -> tuple[list[str], float]:
        """Write `count` files outside the watched tree, then move them in
        with one directory rename, so the stream sees the whole backlog at
        once; returns the file names and the rename time."""
        staged = os.path.join(self.stage, "backlog")
        names = self.land(count, 0.0, out=staged)
        t = time.time()
        os.rename(staged, os.path.join(self.in_dir, "backlog"))
        return names, t

    def wait_flush(self) -> None:
        self.wait_committed([self.flush_name])
        fb = stats.read_source_log(self.ckpt)[self.flush_name]
        deadline = time.time() + COMMIT_TIMEOUT_S
        while max(stats.commit_times(self.ckpt)) <= fb:
            if time.time() > deadline:
                raise TimeoutError("no batch after the flush event")
            time.sleep(0.1)


def run_stream(spark, a, tracer: Tracer, py4j, res: dict, kind: str):
    run = StreamRun(spark, a, tracer, kind, py4j)
    prog = None
    if a.trace:
        prog = ProgressLog()
        spark.streams.addListener(prog.listener)
    with tracer.span("session.fixture"):
        run.query = run.start_cdc() if kind == "cdc_upsert" else run.start_events()
        warm = run.land(round(WARM_S * OPEN_RATE), OPEN_RATE)
        run.wait_committed(warm)
    res["setup_done"] = time.time()

    with tracer.span("phase.open"):
        t_open = time.time()
        open_names = run.land(max(1, round(a.seconds * OPEN_RATE)), OPEN_RATE)
        run.wait_committed(open_names)
    with tracer.span("phase.drain"):
        drain_names, t_land = run.land_backlog(DRAIN_FILES)
        if kind == "event_windows":
            run.land_flush()
        t_drain_end = run.wait_committed(drain_names)
    t_end = time.time()
    if kind == "event_windows":
        run.wait_flush()
    run.query.stop()
    res["detail"]["measured_s"] = t_end - res["setup_done"]
    with tracer.span("check"):
        ok = run.check_cdc() if kind == "cdc_upsert" else run.check_events()
    res["detail"]["flush_check_s"] = time.time() - t_end

    landed = run.landed()
    # open loop: time each file from when it was due, so a stalled
    # generator does not hide queueing (its lateness is sources.gen_late_s)
    lat = stats.file_latencies({n: landed[n]["due"] for n in open_names}, run.ckpt)
    batch_of = stats.read_source_log(run.ckpt)
    commits = stats.commit_times(run.ckpt)
    offsets = stats.offset_times(run.ckpt)
    measured = sorted({batch_of[n] for n in open_names + drain_names})
    steady = sorted({batch_of[n] for n in open_names})
    per_file = (streamgen.CDC_EVENTS_PER_FILE if kind == "cdc_upsert"
                else streamgen.EV_EVENTS_PER_FILE)
    lv = list(lat.values())
    p_tail = stats.tail_percentile(len(lv))
    res["metrics"] = {
        "pass_s": stats.median([commits[b] - offsets[b] for b in steady]),
        "lat_p50_s": stats.median(lv),
        "lat_tail_s": stats.percentile(lv, p_tail),
        "drain_eps": DRAIN_FILES * per_file / (t_drain_end - t_land),
    }
    res["attempted"] += len(measured) + 1
    res["failed"] += 0 if ok else 1
    res["detail"]["batch_walls_s"] = [commits[b] - offsets[b] for b in measured]
    res["detail"]["latencies_s"] = lv
    res["detail"].update({"tail_percentile": p_tail, "files": run.n_files,
                          "open_rate": OPEN_RATE, "latency_samples": len(lv),
                          "measured_batches": len(measured), "check_ok": ok,
                          "drain_batches": len({batch_of[n] for n in drain_names}),
                          "counted": run.counted})
    if not a.trace:
        return None
    # per-layer: streaming progress, sources, changelog (collected now,
    # spark/pyworker totals after the event log is closed)
    win = (t_open, t_end)
    ps = [p for p in prog.progress
          if win[0] <= datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() <= win[1]]

    def dur(key):
        return stats.median([p["durationMs"].get(key, 0) for p in ps])

    def state(key, agg=stats.median):
        return agg([sum(s.get(key, 0) for s in p.get("stateOperators", [])) for p in ps])

    done = {n: commits[batch_of[n]] for n in open_names}
    series = stats.backlog_series({n: landed[n]["landed"] for n in open_names}, done)
    layers = {
        "streaming.batches": len(ps),
        "streaming.rows_per_batch_p50": stats.median([p["numInputRows"] for p in ps]),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.plan_ms_p50": dur("queryPlanning"),
        "streaming.wal_ms_p50": dur("walCommit"),
        "streaming.state_rows": state("numRowsTotal", max),
        "streaming.state_mem_mb": state("memoryUsedBytes", max) / 2**20,
        "streaming.state_commit_ms_p50": state("commitTimeMs"),
        "streaming.state_update_ms_p50": state("allUpdatesTimeMs"),
        "sources.latest_offset_ms_p50": dur("latestOffset"),
        "sources.backlog_files_max": max(level for _, level in series),
        "sources.backlog_slope": stats.slope(series),
        "sources.gen_late_s": max(landed[n]["landed"] - landed[n]["due"] for n in open_names),
        "changelog.sink_call_ms_p50": stats.median([ms for t, ms in run.sink_ms if t >= t_open]),
        "changelog.state_rows": run.state_rows,
        "changelog.state_mb": _live_state_mb(run.state_dir),
        "changelog.buckets_rewritten_per_batch": stats.median(run.rewritten),
    }
    return layers, [win]


def _live_state_mb(state_dir: str) -> float:
    path = os.path.join(state_dir, "manifest.json")
    if not os.path.exists(path):
        return 0.0
    with open(path) as f:
        live = [e["path"] for e in json.load(f)["buckets"].values() if e.get("path")]
    total = 0
    for d in live:
        d = d.removeprefix("file:")
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, n)) for n in files)
    return total / 2**20


# ------------------------------------------------------------------- main

PER_LAYER_ZERO = (
    "queries.construct_s", "queries.py4j_calls", "queries.eager_jobs",
    "spark.plan_s", "spark.exec_s", "batch_plan.construct_s", "batch_plan.exec_s",
    "batch_exec.construct_s", "batch_exec.exec_s",
    "streaming.batches", "streaming.rows_per_batch_p50", "streaming.trigger_ms_p50",
    "streaming.add_batch_ms_p50", "streaming.plan_ms_p50", "streaming.wal_ms_p50",
    "streaming.state_rows", "streaming.state_mem_mb",
    "streaming.state_commit_ms_p50", "streaming.state_update_ms_p50",
    "sources.latest_offset_ms_p50", "sources.backlog_files_max",
    "sources.backlog_slope", "sources.gen_late_s",
    "changelog.sink_call_ms_p50", "changelog.state_rows", "changelog.state_mb",
    "changelog.buckets_rewritten_per_batch",
)


def main() -> None:
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    tracer = Tracer(bool(a.trace))
    res = {"attempted": 0, "failed": 0, "detail": {}}
    with tracer.span("workload", name=a.workload):
        spark = start_session(a, tracer)
        py4j = Py4jCounter(spark) if a.trace else None
        if a.workload == "batch":
            run_batch(spark, a, tracer, py4j, res)
            stream_out = None
        else:
            stream_out = run_stream(spark, a, tracer, py4j, res, a.workload)
        res["metrics"]["setup_s"] = res["setup_done"] - t_start
        res["detail"]["spark"] = spark.version
        t_stop = time.time()
        spark.stop()
        res["detail"]["stop_s"] = time.time() - t_stop

    if a.trace:
        log = read_event_log(os.path.join(a.run_dir, "events"))
        layers = dict.fromkeys(PER_LAYER_ZERO, 0.0)
        (session,) = tracer.named("session.start")
        (fixture,) = tracer.named("session.fixture")
        layers["session.start_s"] = session["t1"] - session["t0"]
        layers["session.fixture_s"] = fixture["t1"] - fixture["t0"]
        if stream_out is None:
            layers.update(batch_layers(tracer, log, a))
        else:
            stream_layers, windows = stream_out
            layers.update(stream_layers)
            cons = tracer.named("construct")
            layers["queries.construct_s"] = sum(s["t1"] - s["t0"] for s in cons)
            layers["queries.py4j_calls"] = sum(s["counts"].get("py4j", 0) for s in cons)
            layers["queries.eager_jobs"] = spark_totals(log, _span_windows(cons))["jobs"]
            wall = windows[0][1] - windows[0][0]
            layers.update(_spark_layer(spark_totals(log, windows), wall, a.cpus))
        # the end-to-end numbers of this traced run: against an untraced
        # run they give the tracing overhead
        layers.update({f"trace.{k}": res["metrics"][k]
                       for k in ("pass_s", "lat_p50_s", "drain_eps")})
        res["per_layer"] = layers
        tracer.dump(os.path.join(a.run_dir, "spans.json"))
    res.pop("setup_done", None)
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
