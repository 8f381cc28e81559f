"""First-party sink wrappers (SURVEY.md §2.5 K1, K8, K9 + parquet).

- K1 Kafka sink: Spark's kafka writer is at-least-once (no transactional EOS
  like Flink's DeliveryGuarantee.EXACTLY_ONCE, Kafka2Kafka.java:45-46);
  effective exactly-once comes from idempotent keys + checkpointLocation —
  documented delta, not hidden.
- K8 print/console sink: Flink `.print()` → console format / df.show().
- K9 format-encoded Kafka sink: to_csv/to_json/to_avro then kafka writer
  (the reference rejects canal/debezium as *sink* formats —
  canal_json/MySqlCDC2Kafka.java:115-118 — we allow debezium-style emission
  via functions.changelog.encode_debezium_json as an improvement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from felixzh_flink_spark.functions.stateio import state_fs


def kafka_sink(df: DataFrame, bootstrap_servers: str, topic: str, *,
               checkpoint_location: str, key_col: str | None = None,
               value_col: str = "value", trigger_seconds: int | None = None) -> StreamingQuery:
    """K1: write a streaming DataFrame to Kafka. `value_col` must be
    string/binary; set `key_col` for idempotent/keyed writes (the
    effectively-once recipe)."""
    cols = [F.col(value_col).cast("string").alias("value")]
    if key_col:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    writer = (
        df.select(*cols).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_location)
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def console_sink(df: DataFrame, *, mode: str = "append", num_rows: int = 20,
                 checkpoint_location: str | None = None) -> StreamingQuery:
    """K8: streaming print sink (`.print()` / 'connector'='print')."""
    writer = (
        df.writeStream.format("console").outputMode(mode)
        .option("numRows", str(num_rows)).option("truncate", "false")
    )
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def memory_sink(df: DataFrame, query_name: str, *, mode: str = "append") -> StreamingQuery:
    """Test sink: results land in an in-memory table named `query_name`."""
    return (
        df.writeStream.format("memory").queryName(query_name)
        .outputMode(mode).start()
    )


def parquet_sink(df: DataFrame, path: str, *, checkpoint_location: str,
                 partition_by: list[str] | None = None) -> StreamingQuery:
    """Durable columnar sink. Partition by a low-cardinality time/tenant key
    at scale so downstream scans prune."""
    writer = (
        df.writeStream.format("parquet").option("path", path)
        .option("checkpointLocation", checkpoint_location)
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def fanout_foreach_batch(*writers):
    """Multi-sink fanout: one streaming query feeding N sinks without
    recomputing the batch — the batch DataFrame is persisted once, every
    writer (batch_df → None) runs against the cached data, then it is
    unpersisted. The alternative (N independent streaming queries) reads
    and computes the source N times and commits N divergent offsets.

    Usage::

        q = df.writeStream.foreachBatch(fanout_foreach_batch(
                lambda b: b.write.mode("append").parquet(p1),
                lambda b: b.filter(...).write.mode("append").parquet(p2),
            )).option("checkpointLocation", ckpt).start()
    """
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for w in writers:
                w(batch_df)
        finally:
            batch_df.unpersist()
    return sink


def batch_parquet_write(df: DataFrame, path: str, *,
                        partition_by: list[str] | None = None,
                        mode: str = "overwrite") -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def exactly_once_parquet_sink(df: DataFrame, path: str, *,
                              checkpoint_location: str):
    """K1 EOS analog for file sinks: batchId-idempotent foreachBatch writes.

    Flink's Kafka EOS (DeliveryGuarantee.EXACTLY_ONCE,
    Kafka2Kafka.java:45-46) rides Kafka transactions; Spark has no
    transactional Kafka producer, but for FILE sinks Structured Streaming's
    replay contract ("a micro-batch may be re-executed with the SAME
    batchId after failure") makes exactly-once reachable with idempotent
    commits:

    1. each batch writes to ``{path}/batch_id=<id>/`` (overwrite mode — a
       replay of the same batchId clobbers its own partial output, never
       another batch's),
    2. a replayed batchId is first checked against the committed marker and
       skipped entirely if present,
    3. the marker file is written AFTER the data — written-but-unmarked
       output from a crash is overwritten by the replay before it becomes
       visible via the marker.

    Readers take committed batches only: ``read.parquet(path +
    "/batch_id=N")`` for N in the marker set, or a view over the marker
    list. Returns the started StreamingQuery.

    Marker IO goes through the Hadoop FileSystem API resolved FROM the
    sink path, so markers land on the same filesystem as the data
    (HDFS/S3A/local alike) — driver-local ``os.path`` checks would
    silently void the guarantee the moment the sink points anywhere but
    the driver's own disk.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fs = state_fs(batch_df.sparkSession, path)
        marker = fs.join(path, f"_committed_{batch_id}")
        if fs.exists(marker):            # replayed after successful commit
            return
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}")
        fs.write_text(marker, "ok")      # flag-file commit point

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_location)
        .start()
    )


def read_exactly_once_output(spark, path: str) -> DataFrame:
    """Committed-batches reader for `exactly_once_parquet_sink` output.
    Lists markers through the Hadoop FileSystem API (same-filesystem
    contract as the writer)."""
    ids = sorted(int(name.rsplit("_", 1)[1])
                 for name in state_fs(spark, path).listdir(path)
                 if name.startswith("_committed_"))
    if not ids:
        raise FileNotFoundError(f"no committed batches under {path}")
    return spark.read.parquet(
        *[f"{path}/batch_id={i}" for i in ids])


def keyed_eos_batch_writer(topic: str, *, key_cols: list[str] | None = None,
                           value_col: str = "value",
                           bootstrap_servers: str | None = None,
                           producer_factory=None):
    """foreachBatch hook implementing the Kafka EFFECTIVE exactly-once
    contract (the K1 delta vs Flink's transactional
    DeliveryGuarantee.EXACTLY_ONCE, Kafka2Kafka.java:45-46 — Spark's
    Kafka producer is at-least-once, period; what CAN be guaranteed is
    that every re-delivery is byte-identical and consumer-dedupable):

    - every record is produced with key = ``topic/batchId/<identity>``
      where <identity> is the row's `key_cols` values, or — when no
      natural key exists — md5(value) plus a deterministic per-value
      occurrence index (so duplicate logical rows keep their
      multiplicity under dedup);
    - the key derives ONLY from row content + batchId (no rand, no
      timestamps), and Structured Streaming replays a failed micro-batch
      with the SAME batchId and the SAME rows — so a crash/replay
      produces duplicates that agree on (key, value) byte-for-byte.

    Consumer-side contract (documented in README): dedup on the record
    key — a compacted topic, an upsert-materializing consumer, or a
    `dropDuplicates("key")` stream all see exactly-once. This is the
    same contract Kafka idempotent producers give WITHIN a session,
    extended across restarts via the batchId.

    `producer_factory` (per-PARTITION factory → object with
    send(topic, key, value) + flush()) exists for tests and for custom
    clients; without it, records go through Spark's built-in kafka
    batch writer (distributed, no driver round-trip).
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        prefix = f"{topic}/{batch_id}/"
        if key_cols:
            ident = F.concat_ws(
                "\x01", *[F.col(c).cast("string") for c in key_cols])
            keyed = batch_df.select(
                F.concat(F.lit(prefix), ident).alias("key"),
                F.col(value_col).cast("string").alias("value"))
        else:
            # identity = content hash + occurrence index: duplicates of
            # the same value get distinct, DETERMINISTIC keys (ordering
            # within a tie group is irrelevant — the values are equal)
            w = Window.partitionBy("value").orderBy("value")
            keyed = (batch_df
                     .select(F.col(value_col).cast("string").alias("value"))
                     .withColumn("_occ", F.row_number().over(w))
                     .select(F.concat(F.lit(prefix), F.md5("value"),
                                      F.lit("/"), F.col("_occ")).alias("key"),
                             "value"))
        if producer_factory is None:
            if not bootstrap_servers:
                raise ValueError(
                    "bootstrap_servers required without producer_factory")
            (keyed.write.format("kafka")
             .option("kafka.bootstrap.servers", bootstrap_servers)
             .option("topic", topic).save())
        else:
            factory = producer_factory

            def send_partition(rows):
                p = factory()
                for r in rows:
                    p.send(topic, r["key"], r["value"])
                p.flush()

            keyed.foreachPartition(send_partition)

    return write_batch


def keyed_eos_kafka_sink(df: DataFrame, topic: str, *,
                         checkpoint_location: str,
                         key_cols: list[str] | None = None,
                         value_col: str = "value",
                         bootstrap_servers: str | None = None,
                         producer_factory=None) -> StreamingQuery:
    """K1 with the effective-exactly-once key contract — see
    `keyed_eos_batch_writer` for the guarantee and the consumer-side
    dedup contract. The checkpointLocation is load-bearing: it is what
    makes a replayed batch re-run with the same batchId + rows."""
    return (
        df.writeStream.foreachBatch(keyed_eos_batch_writer(
            topic, key_cols=key_cols, value_col=value_col,
            bootstrap_servers=bootstrap_servers,
            producer_factory=producer_factory))
        .option("checkpointLocation", checkpoint_location)
        .start()
    )
