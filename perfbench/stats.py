"""Pure helpers: percentiles, stream latency from a checkpoint, backlog.

Nothing here touches Spark; `selftest.py` exercises every function.
"""

from __future__ import annotations

import json
import math
import os
import statistics

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail_percentile(n: int, beyond: int = 10) -> float:
    """Highest ladder percentile that leaves at least `beyond` samples
    above it in a sample of `n` (nearest rank). Falls back to the median."""
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= beyond:
            return p
    return 50.0


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def iqr_share(values) -> float:
    """(Q3 - Q1) / median, quartiles as `statistics.quantiles(n=4)`."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _json_lines(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(s) for s in map(str.strip, f) if s.startswith("{")]


def read_source_log(ckpt: str, source: int = 0) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    The file source logs each file under its own log offset
    (`sources/<n>/<k>` and compacted `<k>.compact` files). That offset is
    not the micro-batch id (no-data batches advance only the latter), so
    it is mapped through the offset log: micro-batch `b` read the files of
    log offset `L` when `offsets/<b>` is the first entry that ends at `L`.
    """
    d = os.path.join(ckpt, "sources", str(source))
    od = os.path.join(ckpt, "offsets")
    if not (os.path.isdir(d) and os.path.isdir(od)):
        return {}
    batch_at: dict[int, int] = {}
    for name in sorted((n for n in os.listdir(od) if n.isdigit()), key=int):
        entries = _json_lines(os.path.join(od, name))[1:]   # [0] is metadata
        if source < len(entries) and "logOffset" in entries[source]:
            batch_at.setdefault(int(entries[source]["logOffset"]), int(name))
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        for e in _json_lines(os.path.join(d, name)):
            b = batch_at.get(int(e["batchId"]))
            if b is not None:
                out[os.path.basename(e["path"])] = b
    return out


def _log_times(ckpt: str, sub: str) -> dict[int, float]:
    d = os.path.join(ckpt, sub)
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
            for n in os.listdir(d) if n.isdigit()}


def commit_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its commit-log entry was written."""
    return _log_times(ckpt, "commits")


def offset_times(ckpt: str) -> dict[int, float]:
    """Micro-batch id -> wall time its offset (WAL) entry was written."""
    return _log_times(ckpt, "offsets")


def file_latencies(landed: dict[str, float], ckpt: str) -> dict[str, float]:
    """Per landed file: commit time of the micro-batch that read it minus
    the file's landing stamp. Files not yet committed are left out."""
    batch_of = read_source_log(ckpt)
    commits = commit_times(ckpt)
    out = {}
    for name, t in landed.items():
        b = batch_of.get(name)
        if b is not None and b in commits:
            out[name] = commits[b] - t
    return out


def backlog_series(landed: dict[str, float], done: dict[str, float]
                   ) -> list[tuple[float, int]]:
    """(time, files landed but not committed) after every landing/commit
    event; `done` maps file -> commit time."""
    evs = [(t, 1) for t in landed.values()]
    evs += [(t, -1) for t in done.values()]
    evs.sort()
    level, out = 0, []
    for t, d in evs:
        level += d
        out.append((t, level))
    return out


def slope(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of y over x; 0 for fewer than two x values."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    mx = sum(x for x, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / sxx
