"""SparkSession bootstrap.

The reference builds a ``StreamExecutionEnvironment`` +
``StreamTableEnvironment`` per job (e.g. format/.../debezium_json/
MySqlCDC2Print.java:19-22). Our analog is one SparkSession configured for
analytics at scale: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), UTC timezone (oracle comparability), Arrow enabled for the
Pandas-UDF slow path.

Scale notes (100 TB / 1000-executor design intent):
- ``spark.sql.shuffle.partitions`` is a local-mode default here; on a real
  cluster AQE coalescing makes the static number mostly irrelevant as long as
  it is high enough — set it ~2-3x total cores there.
- AQE skew-join handles the hot keys that the reference mitigates by hand
  (DataSkew/src/main/java/SocketAppV2.java:23-67 two-stage salting).
- ``spark.sql.files.maxPartitionBytes`` kept at the 128 MB default: parquet
  scan tasks stay memory-bounded regardless of total input size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: local[N] width: $SPARK_GRAFT_CPUS, else the CPUs this process may run on
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "felixzh_flink_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Parameters mirror the reference's env.* properties family
    (Kafka2ES.properties `env.*`, SURVEY.md U8) but map onto Spark conf.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet (the events table) reads as raw long;
        # catalog.load_table also sets this at runtime for foreign sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NOTE (round 8): generated methods over HotSpot's 8 KB
        # DontCompileHugeMethods cutoff run as interpreted bytecode
        # (measured 55 µs/pair vs ~25 ns JIT'd on a 16-term join
        # condition). -XX:-DontCompileHugeMethods fixes that — but was
        # measured to 2-3× DRIVER plan-construction time across the
        # whole inventory (C2 spends its cycles chewing Catalyst's own
        # huge methods), so it is deliberately NOT set. The engine
        # keeps hot per-pair join conditions under the 8 KB cutoff
        # instead (bit-packed PQ codes, shift/mask lookups —
        # similarity.semantic_dedup_pq).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
