"""Self-tests for the benchmark's own pieces (no Spark needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hostspeed  # noqa: E402
import stats  # noqa: E402
import streamgen  # noqa: E402
from oracle import result_hash  # noqa: E402
from spans import Tracer, self_times  # noqa: E402


def _land(tmp: str, kind: str, seed: int, start: int, count: int) -> dict[str, bytes]:
    out = os.path.join(tmp, f"out-{kind}-{seed}-{start}")
    streamgen.land(kind, seed, 50, out, os.path.join(tmp, "stage"),
                   os.path.join(tmp, "log"), start, count, 0.0)
    return {n: open(os.path.join(out, n), "rb").read() for n in sorted(os.listdir(out))}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for kind in ("cdc", "events"):
                a = _land(os.path.join(tmp, "a"), kind, 7, 0, 5)
                b = _land(os.path.join(tmp, "b"), kind, 7, 0, 5)
                c = _land(os.path.join(tmp, "c"), kind, 8, 0, 5)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_resume_matches_one_pass(self):
        with tempfile.TemporaryDirectory() as tmp:
            whole = _land(tmp, "cdc", 3, 0, 6)
            tail = _land(tmp, "cdc", 3, 4, 2)
            self.assertEqual({n: whole[n] for n in tail}, tail)

    def test_cdc_es_strictly_increases_and_replay_matches(self):
        gen = streamgen.CdcStream(5, 50)
        es = []
        for _ in range(20):
            for line in gen.file_lines():
                try:
                    env = json.loads(line)
                except ValueError:
                    continue
                es.append(env["es"])
        self.assertEqual(es, sorted(set(es)))
        # latest-wins replay of the decodable records gives gen.state
        state = {k: v for k, v in streamgen.cdc_snapshot(5, 50).items()}
        replay = streamgen.CdcStream(5, 50)
        for _ in range(20):
            for line in replay.file_lines():
                try:
                    env = json.loads(line)
                except ValueError:
                    continue
                if env["isDdl"]:
                    continue
                row = env["data"][0]
                key = int(row["id"])
                if env["type"] == "DELETE":
                    del state[key]
                else:
                    state[key] = (row["name"], row["description"], row["weight"])
        self.assertEqual(state, gen.state)

    def test_events_never_behind_watermark(self):
        gen = streamgen.EventStream(1)
        for _ in range(30):
            gen.file_lines()
        top = float("-inf")
        for _, _, ts in gen.log:
            self.assertGreater(ts, top - 2000)   # watermark delay is 2 s
            top = max(top, ts)


def _write(path: str, lines: list[str], mtime: float | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(path, (mtime, mtime))


class LatencyTest(unittest.TestCase):
    def test_latency_from_synthetic_checkpoint(self):
        with tempfile.TemporaryDirectory() as ck:
            meta = '{"batchWatermarkMs":0,"batchTimestampMs":0,"conf":{}}'
            # log offsets 0 and 1; micro-batch 1 is a no-data batch, so
            # log offset 1 is read by micro-batch 2
            for b, off in ((0, 0), (1, 0), (2, 1)):
                _write(os.path.join(ck, "offsets", str(b)),
                       ["v1", meta, json.dumps({"logOffset": off})])
            _write(os.path.join(ck, "sources", "0", "0"),
                   ["v1", json.dumps({"path": "file:///in/a.json", "timestamp": 1, "batchId": 0})])
            _write(os.path.join(ck, "sources", "0", "1.compact"),
                   ["v1", json.dumps({"path": "file:///in/a.json", "timestamp": 1, "batchId": 0}),
                    json.dumps({"path": "file:///in/b.json", "timestamp": 2, "batchId": 1})])
            for b, t in ((0, 100.5), (1, 101.0), (2, 103.0)):
                _write(os.path.join(ck, "commits", str(b)), ["v1", "{}"], t)
            self.assertEqual(stats.read_source_log(ck), {"a.json": 0, "b.json": 2})
            lat = stats.file_latencies({"a.json": 100.0, "b.json": 101.5, "c.json": 102.0}, ck)
            self.assertEqual(set(lat), {"a.json", "b.json"})
            self.assertAlmostEqual(lat["a.json"], 0.5, places=3)
            self.assertAlmostEqual(lat["b.json"], 1.5, places=3)

    def test_backlog_and_slope(self):
        series = stats.backlog_series({"a": 0.0, "b": 1.0}, {"a": 2.0, "b": 3.0})
        self.assertEqual([lv for _, lv in series], [1, 2, 1, 0])
        self.assertAlmostEqual(stats.slope([(0, 1), (1, 3), (2, 5)]), 2.0)
        self.assertEqual(stats.slope([(1, 1)]), 0.0)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)

    def test_tail_rule_keeps_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(5), 50.0)
        for n in range(20, 2000, 37):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(x > stats.percentile(xs, p) for x in xs)
            self.assertGreaterEqual(beyond, 10)

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share([1.0] * 10), 0.0)
        self.assertGreater(stats.iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 0.5)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children(self):
        spans = [
            {"id": 0, "parent": None, "name": "pass", "t0": 0.0, "t1": 10.0, "counts": {}},
            {"id": 1, "parent": 0, "name": "query", "t0": 1.0, "t1": 5.0, "counts": {}},
            {"id": 2, "parent": 1, "name": "exec", "t0": 2.0, "t1": 4.5, "counts": {}},
            {"id": 3, "parent": 0, "name": "query", "t0": 6.0, "t1": 9.0, "counts": {}},
        ]
        out = {s["id"]: s for s in self_times(spans)}
        self.assertAlmostEqual(out[0]["self_s"], 3.0)
        self.assertAlmostEqual(out[1]["self_s"], 1.5)
        self.assertAlmostEqual(out[2]["self_s"], 2.5)
        self.assertAlmostEqual(out[3]["self_s"], 3.0)
        self.assertAlmostEqual(sum(s["self_s"] for s in out.values()), out[0]["dur_s"])

    def test_tracer_parents_and_disabled(self):
        t = Tracer(True)
        with t.span("a"):
            with t.span("b", n=1) as b:
                b["counts"]["x"] = 2
        self.assertEqual([(s["name"], s["parent"]) for s in t.spans],
                         [("a", None), ("b", 0)])
        self.assertEqual(t.spans[1]["counts"], {"n": 1, "x": 2})
        off = Tracer(False)
        with off.span("a") as s:
            s["counts"]["x"] = 1
        self.assertEqual(off.spans, [])


class OracleHashTest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [(1, "a", 0.5), (2, "b", 1.5)]
        h = result_hash(["k", "s", "v"], rows)
        self.assertEqual(h, result_hash(["v", "k", "s"], [(0.5, 1, "a"), (1.5, 2, "b")][::-1]))
        self.assertNotEqual(h, result_hash(["k", "s", "v"], [(1, "a", 0.5), (2, "b", 1.25)]))


class HostSpeedTest(unittest.TestCase):
    def test_adjust_scales_times_and_rates_only(self):
        slow = 2 * hostspeed.REF_PROBE_S     # a host running at half speed
        got = hostspeed.adjust({"pass_s": 4.0, "drain_eps": 100.0,
                                "peak_rss_mb": 900.0}, slow)
        self.assertEqual(got, {"pass_s": 2.0, "drain_eps": 200.0,
                               "peak_rss_mb": 900.0})


if __name__ == "__main__":
    unittest.main()
