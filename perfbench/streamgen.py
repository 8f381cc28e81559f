"""Seeded stream generators and the file-landing generator process.

Two streams, both deterministic functions of (seed, file index):

- `cdc`: canal-json change records for a `products` table (INSERT,
  UPDATE with a partial `old[]`, DELETE, plus ~1% unparseable lines and
  ~1% `isDdl` records). `es` strictly increases over the whole stream, so
  a latest-wins replay of the records is unambiguous.
- `events`: JSON (key, value, ts_ms) events with Zipf-skewed keys and
  integer values. Event time advances by a fixed step per event and each
  event is pushed back by a jitter smaller than the watermark delay, so
  events arrive out of order but never behind the watermark.

The process entry point lands files `[start, start + count)` into a watched
directory: each file is written under a staging directory, given a strictly
increasing mtime and moved in with an atomic rename. For every landed file it appends one JSON line to a
log: the file name, the scheduled and the actual landing time (wall clock,
seconds). With `--rate 0` all files land back to back (a backlog).

    python3 perfbench/streamgen.py --kind cdc --seed 7 --out DIR \
        --stage DIR --log FILE --start 0 --count 100 --rate 12
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import time

#: row schema of the CDC subject table: id long, name string,
#: description string, weight decimal(10,2)
CDC_FIELDS = ("id", "name", "description", "weight")
CDC_EVENTS_PER_FILE = 20
CDC_ES_BASE = 1_700_000_000_000
WORDS = ("small fast red blue heavy light steel wood round square "
         "scooter hammer drill rope spare car battery tire").split()

EV_EVENTS_PER_FILE = 50
EV_KEYS = 1000
EV_ZIPF_S = 1.2
EV_STEP_MS = 5
EV_JITTER_MS = 1500           # < watermark delay (2 s): never late
EV_TS_BASE = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
EV_FLUSH_KEY = "__flush__"


def _weight(rng: random.Random) -> str:
    return f"{rng.randint(100, 99999) / 100:.2f}"


def _desc(rng: random.Random) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 5)))


def cdc_snapshot(seed: int, n_keys: int) -> dict[int, tuple]:
    """Initial table state: id -> (name, description, weight)."""
    rng = random.Random(f"snapshot-{seed}")
    return {i: (f"product-{i}", _desc(rng), _weight(rng)) for i in range(n_keys)}


class CdcStream:
    """Sequential canal-json generator over a live key set; `state` is the
    latest-wins table after every record emitted so far."""

    def __init__(self, seed: int, n_keys: int):
        self.rng = random.Random(f"cdc-{seed}")
        self.state = cdc_snapshot(seed, n_keys)
        self.alive = list(self.state)
        self.pos = {k: i for i, k in enumerate(self.alive)}
        self.next_id = n_keys
        self.es = CDC_ES_BASE
        self.events = 0       # decodable change records emitted

    def _drop(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.alive.pop()
        if last != key:
            self.alive[i] = last
            self.pos[last] = i
        del self.state[key]

    def _add(self, key: int, row: tuple) -> None:
        self.state[key] = row
        self.pos[key] = len(self.alive)
        self.alive.append(key)

    @staticmethod
    def _payload(key: int, row: tuple) -> dict:
        return {"id": str(key), "name": row[0], "description": row[1],
                "weight": row[2]}

    def _envelope(self, kind: str, data: list | None, old: list | None = None,
                  ddl: bool = False) -> str:
        self.es += 1
        return json.dumps({
            "data": data, "old": old, "type": kind, "database": "inventory",
            "table": "products", "pkNames": ["id"], "es": self.es,
            "ts": self.es + 3, "isDdl": ddl}, separators=(",", ":"))

    def record(self) -> str:
        rng = self.rng
        r = rng.random()
        if r < 0.01:
            return '{"data":[{"id":"' + str(rng.randint(0, 9)) + '", broken'
        if r < 0.02:
            return self._envelope("ALTER", None, ddl=True)
        self.events += 1
        if r < 0.17 or not self.alive:
            key, row = self.next_id, (f"product-{self.next_id}", _desc(rng), _weight(rng))
            self.next_id += 1
            self._add(key, row)
            return self._envelope("INSERT", [self._payload(key, row)])
        key = self.alive[rng.randrange(len(self.alive))]
        if r < 0.27:
            row = self.state[key]
            self._drop(key)
            return self._envelope("DELETE", [self._payload(key, row)])
        before = self.state[key]
        after = (before[0],
                 _desc(rng) if rng.random() < 0.5 else before[1],
                 _weight(rng))
        old = {f: before[i] for i, f in enumerate(CDC_FIELDS[1:], start=0)
               if before[i] != after[i]}
        self.state[key] = after
        return self._envelope("UPDATE", [self._payload(key, after)], [old])

    def file_lines(self) -> list[str]:
        return [self.record() for _ in range(CDC_EVENTS_PER_FILE)]


class EventStream:
    """Sequential (key, value, ts_ms) generator; `log` keeps every event."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"events-{seed}")
        weights = [1.0 / (k + 1) ** EV_ZIPF_S for k in range(EV_KEYS)]
        total = sum(weights)
        acc, self.cum = 0.0, []
        for w in weights:
            acc += w / total
            self.cum.append(acc)
        self.n = 0
        self.log: list[tuple[str, int, int]] = []

    def event(self) -> tuple[str, int, int]:
        rng = self.rng
        k = min(bisect.bisect_left(self.cum, rng.random()), EV_KEYS - 1)
        ts = EV_TS_BASE + self.n * EV_STEP_MS - rng.randrange(EV_JITTER_MS)
        self.n += 1
        ev = (f"k{k}", rng.randrange(100), ts)
        self.log.append(ev)
        return ev

    def file_lines(self) -> list[str]:
        return [json.dumps({"key": k, "value": v, "ts_ms": t},
                           separators=(",", ":"))
                for k, v, t in (self.event() for _ in range(EV_EVENTS_PER_FILE))]

    def flush_line(self) -> str:
        """One event far ahead in event time: moves the watermark past
        every open window so all partial buffers time out."""
        ts = EV_TS_BASE + (self.n + 1_000_000) * EV_STEP_MS
        return json.dumps({"key": EV_FLUSH_KEY, "value": 0, "ts_ms": ts},
                          separators=(",", ":"))


def make_stream(kind: str, seed: int, n_keys: int):
    return CdcStream(seed, n_keys) if kind == "cdc" else EventStream(seed)


def file_name(index: int) -> str:
    return f"f{index:06d}.json"


def land(kind: str, seed: int, n_keys: int, out: str, stage: str, log: str,
         start: int, count: int, rate: float) -> None:
    stream = make_stream(kind, seed, n_keys)
    for _ in range(start):          # replay to the same generator state
        stream.file_lines()
    os.makedirs(out, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    t0 = time.time()
    last_ms = 0
    with open(log, "a") as logf:
        for j in range(count):
            idx = start + j
            lines = stream.file_lines()
            due = t0 + j / rate if rate > 0 else t0
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            tmp = os.path.join(stage, file_name(idx))
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            # the file source orders files by mtime in ms: keep it strictly
            # increasing so a backlog is read in landing order
            last_ms = max(time.time_ns() // 1_000_000, last_ms + 1)
            os.utime(tmp, ns=(last_ms * 1_000_000, last_ms * 1_000_000))
            os.rename(tmp, os.path.join(out, file_name(idx)))
            logf.write(json.dumps({"file": file_name(idx), "due": due,
                                   "landed": time.time()}) + "\n")
            logf.flush()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--kind", choices=("cdc", "events"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    a = ap.parse_args()
    land(a.kind, a.seed, a.keys, a.out, a.stage, a.log, a.start, a.count, a.rate)


if __name__ == "__main__":
    main()
