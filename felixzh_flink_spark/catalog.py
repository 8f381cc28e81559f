"""Table catalog over the driver's parquet test data.

The reference registers tables via SQL DDL (``tableEnv.executeSql(CREATE
TABLE ...)``, format/.../csv/Csv2Csv.java:24-39) or temp views
(``tEnv.createTemporaryView``, FlinkIdeaDemo/src/main/java/
NCFlinkTableAPITableFunction.java:37). Our analog: parquet-backed DataFrames
registered as temp views so every SURVEY §2 SQL path works unchanged.

Parquet scans get predicate pushdown + column pruning from Catalyst for free —
at 100 TB this is the difference between scanning a column subset of a few TB
and the full dataset.
"""

from __future__ import annotations

import atexit
import functools
import inspect
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor (region has 5
#: rows, nation 25 at every TPC-H SF; supplier/part grow with SF but stay far
#: below fact tables).
BROADCAST_DIMS = ("region", "nation")


#: the one per-session memo (`session_memo`): the SparkContext its
#: entries were built under, and (fn, sf_dir, bound args) → value
_memo_ctx: object = None
_memo: dict[tuple, object] = {}


def session_memo(fn):
    """Build `fn(spark, sf_dir, *args)` once per session and hand the
    value to every later call — the one "built once" rule for the
    catalog's table frames and the registry's ingest artifacts
    (indexes, corpus statistics, codebooks, probe vectors). The key is
    (fn, sf_dir, the remaining arguments bound with their defaults), so
    `f(s, d)` and `f(s, d, 16)` share one entry.

    Entries live as long as the session's SparkContext, compared by
    identity on the Python object (a lookup makes no py4j call): a
    lookup from a new context drops every entry built under another.
    Those pin DataFrames bound to a dead JVM context, which fail when
    used, and would grow without bound in a process that cycles
    SparkSessions (test runs, notebooks, library use)."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def memoized(spark, sf_dir, *args, **kwargs):
        global _memo_ctx
        ctx = getattr(spark, "sparkContext", None)
        if ctx is not _memo_ctx:
            _memo.clear()
            _memo_ctx = ctx
        bound = sig.bind(spark, sf_dir, *args, **kwargs)
        bound.apply_defaults()
        key = (fn, sf_dir, tuple(bound.arguments.values())[2:])
        if key not in _memo:
            _memo[key] = fn(spark, sf_dir, *args, **kwargs)
        return _memo[key]

    return memoized


_artifact_root: str | None = None


def artifact_dir(prefix: str) -> str:
    """A fresh empty directory for one materialized ingest artifact,
    under a per-process root made on first use and removed at
    interpreter exit: artifacts are rebuilt per session
    (`session_memo`), so none of them outlives its process."""
    global _artifact_root
    if _artifact_root is None:
        _artifact_root = tempfile.mkdtemp(prefix="spark_graft_")
        atexit.register(shutil.rmtree, _artifact_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_artifact_root)


@session_memo
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table (cached per session). ``sf_dir`` like
    /root/testdata/sf0.01.

    A DataFrame is an immutable lazy plan, so handing the same object to
    every caller is safe; rebuilding it per query costs ~0.1-0.3 s of
    driver-side analysis (file listing, schema resolve, py4j) that a real
    engine's catalog would never re-pay.

    `events` has shipped its `ts` column as either TIMESTAMP(NANOS) —
    which Spark's parquet reader rejects by default — or a plain µs
    timestamp, depending on the generator version. Handle both: set the
    legacy nanos-as-long conf (runtime-settable), then convert ONLY if the
    column actually arrived as raw nanos (LongType). Nanos are truncated
    to µs with integer div (double division would round at µs scale),
    matching DuckDB's ns→µs truncation; a µs column passes through with
    just the NTZ cast.
    """
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df


def spread_if_narrow(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Repartition a batch DataFrame ONLY when it is under-partitioned.

    Local test parquet ships one row group per file, so scans arrive as a
    single partition and any CPU-heavy expression chain (shingling, MinHash,
    per-row cosine) runs on one core. On a real cluster a 100 TB table scans
    into thousands of splits and this is a no-op — the condition, not the
    repartition, is the scale behavior (same contract as the changelog
    decoders' `parallelism` knob, functions/changelog.py).

    The partition count comes from a driver-side FILE-SIZE estimate when
    the scan reads local files: the exact probe (`df.rdd.getNumPartitions`)
    forces full physical planning and costs ~0.2-0.3 s of driver time per
    call — pure plan-construction overhead on every query build. The
    estimate repeats Spark's split-then-pack math (unit-pinned equal to
    the probe); non-local schemes fall back to the exact probe.
    """
    if df.isStreaming:
        return df
    target = parallelism or df.sparkSession.sparkContext.defaultParallelism
    n = _scan_partition_estimate(df)
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def _scan_partition_estimate(df: DataFrame) -> int | None:
    """Scan partition count from leaf-file sizes (local files only —
    returns None otherwise, including post-shuffle/non-scan plans where
    inputFiles is empty). Mirrors Spark's split-then-pack math
    (FilePartition.getFilePartitions): maxSplitBytes is
    min(maxPartitionBytes, max(openCost, Σ(size + openCost) / minPartNum)),
    each file splits into maxSplitBytes chunks, and the chunks, largest
    first, pack into a partition until the next one would push it past
    maxSplitBytes — every packed chunk charging its size plus openCost.
    The open-cost padding only decides where partitions close; it is
    never data to divide (a lone 126 KB file is one partition, not
    two). Config values come from the session, not hardcoded."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            return None
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return None

    def _conf(key: str, default: int) -> int:
        try:
            v = df.sparkSession.conf.get(key)
        except Exception:
            return default
        if v is None:
            return default
        v = v.lower().rstrip("b")
        for suf, mul in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
            if v.endswith(suf):
                return int(float(v[:-1]) * mul)
        return int(v)

    open_cost = _conf("spark.sql.files.openCostInBytes", 4 << 20)
    max_part = _conf("spark.sql.files.maxPartitionBytes", 128 << 20)
    min_parts = _conf("spark.sql.files.minPartitionNum", _conf(
        "spark.sql.leafNodeDefaultParallelism",
        df.sparkSession.sparkContext.defaultParallelism))
    bytes_per_core = sum(s + open_cost for s in sizes) // max(1, min_parts)
    max_split = min(max_part, max(open_cost, bytes_per_core))
    chunks = sorted((min(max_split, s - off) for s in sizes
                     for off in range(0, s, max_split)), reverse=True)
    parts, filled = 0, 0
    for c in chunks:
        if filled and filled + c > max_split:
            parts, filled = parts + 1, 0
        filled += c + open_cost
    return max(1, parts + (filled > 0))

