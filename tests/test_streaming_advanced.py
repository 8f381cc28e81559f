"""Checkpoint-resume (U5) and hybrid count+timeout trigger (W5/W6) tests."""

import datetime as dt

import pytest

from pyspark.sql import functions as F, types as T

from felixzh_flink_spark.sources.builders import file_stream_source
from felixzh_flink_spark.streaming.triggers import count_window

SCHEMA = T.StructType([
    T.StructField("ts", T.TimestampType()),
    T.StructField("key", T.StringType()),
    T.StructField("value", T.DoubleType()),
])

BASE = dt.datetime(2024, 1, 1)


def _rows(keys, n, start=0):
    return [(BASE + dt.timedelta(seconds=start + i), k, 1.0)
            for i in range(n) for k in keys]


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """U5: restart from checkpointLocation resumes past committed offsets —
    the flush-on-checkpoint contract (micro-batch boundary = durable write)."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(_rows(["a"], 3), SCHEMA).write.mode("append").parquet(src)

    def run_once():
        q = (file_stream_source(spark, src, SCHEMA)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).start())
        q.processAllAvailable()
        q.stop()

    run_once()
    assert spark.read.parquet(out).count() == 3
    # new data arrives while the query is down
    spark.createDataFrame(_rows(["a"], 2, start=100), SCHEMA) \
        .write.mode("append").parquet(src)
    run_once()
    # exactly 3 + 2 — the first batch was not reprocessed after restart
    assert spark.read.parquet(out).count() == 5


def test_hybrid_count_timeout_trigger(spark, tmp_path):
    """W5/W6 (MyCountTrigger.java:36-71): fire at max_count OR when the
    watermark passes the window end — fire-and-purge both ways. Event-time
    timers (MyCountTrigger's registerEventTimeTimer/onEventTime branch),
    driven deterministically by later-timestamped batches."""
    src = str(tmp_path / "src")
    # key 'a': only 3 elements (< max_count 5) → will be flushed by timer
    spark.createDataFrame(_rows(["a"], 3), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)
    fired = count_window(stream, "key", "value", max_count=5,
                         timeout_ms=2000, event_time_col="ts")
    q = (fired.writeStream.format("memory").queryName("hybrid_out")
         .outputMode("append").start())
    q.processAllAvailable()           # batch 1: 'a' buffers 3, sets timer
    # batch 2, much later event time: advances the watermark past 'a's
    # window end, firing its partial buffer; 'b' itself fires by count (6 ≥ 5)
    spark.createDataFrame(_rows(["b"], 6, start=500), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    # batch 3 advances the watermark again so 'b's leftover element times out
    spark.createDataFrame(_rows(["c"], 1, start=1000), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM hybrid_out").collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r)
    # 'b' fired by count (6 ≥ 5 → one full window of 5)
    assert any(r["fired_by"] == "count" and r["cnt"] == 5 for r in by_key["b"])
    # 'a' fired by event-time timeout with its partial buffer of 3
    assert any(r["fired_by"] == "timeout" and r["cnt"] == 3 for r in by_key.get("a", []))
    # 'b's leftover 1 element flushed by the next watermark advance
    assert any(r["fired_by"] == "timeout" and r["cnt"] == 1 for r in by_key["b"])


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming dedup: duplicate texts in the same watermark window are
    dropped; first occurrence wins (dropDuplicatesWithinWatermark state is
    bounded by the horizon)."""
    from felixzh_flink_spark.operators.dedup import dedup_exact_stream
    src = str(tmp_path / "src")
    doc_schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    rows = [(BASE + dt.timedelta(seconds=i), i, txt) for i, txt in
            enumerate(["hello world", "hello  WORLD", "other doc", "hello world"])]
    spark.createDataFrame(rows, doc_schema).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, doc_schema)
    out = dedup_exact_stream(stream, "text", "doc_id", "ts", watermark="1 minute")
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT doc_id FROM dedup_out").collect()
    ids = sorted(r["doc_id"] for r in got)
    # 'hello world' variants normalize to one fingerprint → one survivor (+ 'other doc')
    assert len(ids) == 2 and 2 in ids


def test_stream_static_enrichment_broadcast(spark, tmp_path):
    """Stream⋈static dim join: each micro-batch row enriched from a broadcast
    dimension (the engine's replacement for per-record KV lookups)."""
    from felixzh_flink_spark.streaming.joins import enrich_with_dim
    src = str(tmp_path / "src")
    spark.createDataFrame(_rows(["u1", "u2"], 2), SCHEMA).coalesce(1) \
        .write.parquet(src)
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "basic")], "key string, tier string")
    stream = file_stream_source(spark, src, SCHEMA)
    out = enrich_with_dim(stream, dim, ["key"])
    q = (out.writeStream.format("memory").queryName("enriched")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT key, tier FROM enriched").collect()
    assert len(rows) == 4
    assert all((r["key"], r["tier"]) in {("u1", "gold"), ("u2", "basic")} for r in rows)


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream⋈stream with event-time bounds: views join purchases of the same
    user within the following 60 s; watermarks bound the join state."""
    from felixzh_flink_spark.streaming.joins import interval_join_streams
    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    p_schema = T.StructType([
        T.StructField("pts", T.TimestampType()),
        T.StructField("user", T.StringType()),
    ])
    v_schema = T.StructType([
        T.StructField("vts", T.TimestampType()),
        T.StructField("user", T.StringType()),
    ])
    views = [(BASE + dt.timedelta(seconds=s), "u1") for s in (0, 30, 200)]
    purchases = [(BASE + dt.timedelta(seconds=50), "u1")]
    spark.createDataFrame(views, v_schema).coalesce(1).write.parquet(vsrc)
    spark.createDataFrame(purchases, p_schema).coalesce(1).write.parquet(psrc)
    v = file_stream_source(spark, vsrc, v_schema)
    p = file_stream_source(spark, psrc, p_schema)
    # purchase within [vts, vts+60s] → views at 0s and 30s match, 200s doesn't
    joined = interval_join_streams(v, p, "user", "vts", "pts", 0, 60)
    q = (joined.writeStream.format("memory").queryName("ssj")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    secs = sorted(r["vts"].second for r in spark.sql("SELECT vts FROM ssj").collect())
    assert secs == [0, 30]


def test_update_mode_running_sum_per_key(spark, tmp_path):
    """A2/A3 streaming semantics (SocketAppV1.java:29-36 keyed reduce): the
    running sum per key updates as new micro-batches arrive — Spark's
    update-mode streaming aggregation. The memory sink accumulates one row
    per (key, update); the LAST update per key is the running total."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(BASE, "a", 1.0), (BASE, "a", 2.0), (BASE, "b", 5.0)], SCHEMA
    ).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)
    sums = stream.groupBy("key").agg(F.sum("value").alias("total"))
    q = (sums.writeStream.format("memory").queryName("running")
         .outputMode("update").start())
    q.processAllAvailable()
    spark.createDataFrame([(BASE, "a", 4.0)], SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM running").collect()
    # batch1 emitted a=3, b=5; batch2 re-emitted a=7 (update semantics)
    got = {}
    for r in rows:
        got.setdefault(r["key"], []).append(r["total"])
    assert 3.0 in got["a"] and 7.0 in got["a"]
    assert got["b"] == [5.0]


def test_fanout_two_sinks_single_compute(spark, tmp_path):
    """One streaming query feeds two sinks from a single persisted batch:
    full copy + filtered copy stay consistent with one set of offsets."""
    from felixzh_flink_spark.sinks.writers import fanout_foreach_batch
    src, full, errors = (str(tmp_path / d) for d in ("src", "full", "errors"))
    rows = [(BASE, "ok", 1.0), (BASE, "err", 2.0), (BASE, "ok", 3.0)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, SCHEMA)
    q = (stream.writeStream.foreachBatch(fanout_foreach_batch(
            lambda b: b.write.mode("append").parquet(full),
            lambda b: b.filter(F.col("key") == "err").write.mode("append").parquet(errors),
        )).option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(full).count() == 3
    err_rows = spark.read.parquet(errors).collect()
    assert len(err_rows) == 1 and err_rows[0]["value"] == 2.0


def test_streaming_windowed_topk_via_foreach_batch(spark, tmp_path):
    """Streaming 'trending items': windowed counts in complete mode, ranked
    per micro-batch inside foreachBatch — the streaming form of
    hourly_top_events."""
    from pyspark.sql import Window

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    rows = ([(BASE + dt.timedelta(minutes=i), "view", 1.0) for i in range(4)]
            + [(BASE + dt.timedelta(minutes=i), "click", 1.0) for i in range(2)]
            + [(BASE + dt.timedelta(minutes=1), "buy", 1.0)])
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, SCHEMA)
    counts = stream.groupBy(F.window("ts", "1 hour").alias("w"), "key") \
        .agg(F.count("*").alias("n"))

    def rank_and_write(batch_df, epoch_id):
        w = Window.partitionBy("w").orderBy(F.desc("n"), F.asc("key"))
        top2 = batch_df.withColumn("rnk", F.row_number().over(w)) \
            .filter(F.col("rnk") <= 2)
        top2.select("key", "n", "rnk").write.mode("overwrite").parquet(out)

    q = (counts.writeStream.outputMode("complete")
         .foreachBatch(rank_and_write)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    got = {(r["key"], r["rnk"]) for r in spark.read.parquet(out).collect()}
    assert got == {("view", 1), ("click", 2)}  # buy (n=1) ranked out


def test_streaming_session_window_with_watermark(spark, tmp_path):
    """session_window on a real stream (append mode): sessions close when
    the watermark passes their gap; two bursts 40 min apart → two sessions
    for the key once the watermark advances."""
    src = str(tmp_path / "src")
    burst1 = [(BASE + dt.timedelta(minutes=m), "u1", 1.0) for m in (0, 5)]
    spark.createDataFrame(burst1, SCHEMA).coalesce(1).write.parquet(src)
    stream = (file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)
              .withWatermark("ts", "1 minute"))
    sessions = (stream.groupBy(F.session_window("ts", "30 minutes").alias("w"), "key")
                .agg(F.count("*").alias("n")))
    q = (sessions.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").start())
    q.processAllAvailable()
    # second burst 40 min later closes session 1; third burst closes session 2
    spark.createDataFrame(
        [(BASE + dt.timedelta(minutes=45), "u1", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame(
        [(BASE + dt.timedelta(minutes=200), "u2", 1.0)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT key, n FROM sess_out").collect()
    got = sorted((r["key"], r["n"]) for r in rows)
    assert ("u1", 2) in got      # first burst: one session of 2 events
    assert ("u1", 1) in got      # second burst: separate session


def test_dim_refresh_between_batches(spark, tmp_path):
    """Slowly-changing dimension: re-reading the dim table inside
    foreachBatch picks up dim updates between micro-batches."""
    src, dim_path, out = (str(tmp_path / d) for d in ("src", "dim", "out"))
    spark.createDataFrame([("u1", "bronze")], "key string, tier string") \
        .write.parquet(dim_path)
    spark.createDataFrame(_rows(["u1"], 1), SCHEMA).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)

    def enrich(batch_df, epoch_id):
        dim = F.broadcast(spark.read.parquet(dim_path))
        batch_df.join(dim, "key").write.mode("append").parquet(out)

    q = (stream.writeStream.foreachBatch(enrich)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    # dim changes while the query runs
    spark.createDataFrame([("u1", "gold")], "key string, tier string") \
        .write.mode("overwrite").parquet(dim_path)
    spark.createDataFrame(_rows(["u1"], 1, start=100), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    tiers = sorted(r["tier"] for r in spark.read.parquet(out).collect())
    assert tiers == ["bronze", "gold"]


def test_count_window_seq_monotonic_across_timeout(spark, tmp_path):
    """A timeout fire consumes a window_seq like a count fire: the key's next
    window continues the sequence instead of restarting at 0 (duplicate
    (key, seq) pairs would break the 'nth fired window per key' contract)."""
    src = str(tmp_path / "src")
    # batch 1: 'a' buffers 2 (< max_count 5), sets its event-time timer
    spark.createDataFrame(_rows(["a"], 2), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)
    fired = count_window(stream, "key", "value", max_count=5,
                         timeout_ms=2000, event_time_col="ts")
    q = (fired.writeStream.format("memory").queryName("seq_out")
         .outputMode("append").start())
    q.processAllAvailable()
    # batch 2: watermark jumps far past 'a's timer → timeout fire (seq 0)
    spark.createDataFrame(_rows(["z"], 1, start=500), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    # batch 3: 'a' gets 5 more → count fire must take seq 1, not 0
    spark.createDataFrame(_rows(["a"], 5, start=1000), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    a_rows = sorted(
        ((r["window_seq"], r["fired_by"], r["cnt"])
         for r in spark.sql("SELECT * FROM seq_out WHERE key='a'").collect()))
    assert (0, "timeout", 2) in a_rows
    assert (1, "count", 5) in a_rows
    seqs = [s for s, _, _ in a_rows]
    assert len(seqs) == len(set(seqs)), f"duplicate window_seq: {a_rows}"


def test_proc_time_trigger_micro_batch_bulk_write(spark, tmp_path):
    """W1 (proc-time tumbling window, SocketApp.java windowAll analog) +
    the Kafka2ES 50 ms bulk-window semantic (Kafka2ES.java:34-36): with the
    processing-time trigger knob set, every record accumulated in a trigger
    interval is written as ONE bulk micro-batch — observable as a single
    batch whose numInputRows equals the whole file, not per-record writes."""
    import time

    from felixzh_flink_spark.plans.pipeline import PipelineSpec

    src = str(tmp_path / "src")
    rows = [(BASE + dt.timedelta(seconds=i), "w", 1.0) for i in range(40)]
    spark.createDataFrame(rows, SCHEMA).selectExpr("CAST(key AS STRING) AS value") \
        .coalesce(1).write.parquet(src)

    spec = PipelineSpec({
        "source.type": "parquet",
        "source.path": src,
        "transform.chain": "word_count",
        "sink.type": "memory",
        "sink.memory.name": "bulk_out",
        "sink.output.mode": "complete",
        "env.trigger.processing.time": "50 milliseconds",
    })
    q = spec.run_stream(spark)
    deadline = time.time() + 60
    while time.time() < deadline:
        q.processAllAvailable()
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.1)
    q.stop()
    # the 40 records arrived as one bulk batch (50 ms window accumulation),
    # and the proc-time windowed aggregate saw all of them
    bulk = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert bulk and max(bulk) == 40
    got = {r["word"]: r["count"]
           for r in spark.sql("SELECT * FROM bulk_out").collect()}
    assert got == {"w": 40}


def test_streaming_near_dup_candidates(spark, tmp_path):
    """Streaming MinHash-LSH near-dup: near-identical docs arriving within
    the horizon collide on a band bucket and are emitted against the first-
    seen representative; unrelated docs never pair."""
    from felixzh_flink_spark.streaming.neardup import near_dup_stream
    src = str(tmp_path / "src")
    doc_schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    base_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (BASE, 1, base_text),
        (BASE + dt.timedelta(seconds=1), 2, base_text),                 # exact dup
        (BASE + dt.timedelta(seconds=2), 3, base_text + " tail"),      # near dup
        (BASE + dt.timedelta(seconds=3), 4,
         "completely different words about spark structured streaming state"),
    ]
    spark.createDataFrame(rows, doc_schema).coalesce(1).write.parquet(src)
    stream = file_stream_source(spark, src, doc_schema)
    out = near_dup_stream(stream, n=3, num_perm=32, bands=16,
                          watermark_delay="1 second", horizon_ms=600_000)
    q = (out.writeStream.format("memory").queryName("neardup_out")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    pairs = {(r["doc_id"], r["dup_of"]) for r in
             spark.sql("SELECT * FROM neardup_out").collect()}
    assert (2, 1) in pairs                       # exact dup always collides
    assert (3, 1) in pairs or (3, 2) in pairs    # near dup shares ≥1 band
    assert not any(4 in p for p in pairs)        # unrelated doc stays clean


def test_streaming_near_dup_state_eviction(spark, tmp_path):
    """Bucket representatives expire once the watermark passes the horizon:
    a duplicate arriving after eviction is NOT flagged (it becomes the new
    representative), keeping state bounded by the dedup horizon."""
    from felixzh_flink_spark.streaming.neardup import near_dup_stream
    src = str(tmp_path / "src")
    doc_schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    text = "some repeated document body that will show up twice much later"
    spark.createDataFrame([(BASE, 1, text)], doc_schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, doc_schema)
    out = near_dup_stream(stream, n=3, num_perm=32, bands=16,
                          watermark_delay="1 second", horizon_ms=5_000)
    q = (out.writeStream.format("memory").queryName("neardup_evict")
         .outputMode("append").start())
    q.processAllAvailable()
    # advance the watermark far past horizon (evicts doc 1's buckets), then
    # replay the same text as doc 9
    spark.createDataFrame(
        [(BASE + dt.timedelta(hours=1), 5, "watermark mover unrelated text")],
        doc_schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    spark.createDataFrame(
        [(BASE + dt.timedelta(hours=1, seconds=10), 9, text)],
        doc_schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    got = {(r["doc_id"], r["dup_of"]) for r in
           spark.sql("SELECT * FROM neardup_evict").collect()}
    assert (9, 1) not in got      # representative was evicted in between


def test_exactly_once_parquet_sink_idempotent_replay(spark, tmp_path):
    """K1 EOS analog: a replayed batchId is skipped when already committed,
    and a crash between data write and marker (unmarked dir) is healed by
    the replay's overwrite — reader sees each input row exactly once."""
    import os
    import shutil
    from felixzh_flink_spark.sinks.writers import (
        exactly_once_parquet_sink, read_exactly_once_output)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt1, ckpt2, ckpt3 = (str(tmp_path / c) for c in ("c1", "c2", "c3"))
    spark.createDataFrame(_rows(["a"], 3), SCHEMA).coalesce(1).write.parquet(src)

    def run(ckpt):
        q = exactly_once_parquet_sink(
            file_stream_source(spark, src, SCHEMA), out,
            checkpoint_location=ckpt)
        q.processAllAvailable()
        q.stop()

    run(ckpt1)
    assert read_exactly_once_output(spark, out).count() == 3
    # replay the same data as batchId 0 via a fresh checkpoint: the
    # committed marker short-circuits the write - still exactly 3 rows
    run(ckpt2)
    assert read_exactly_once_output(spark, out).count() == 3
    # crash between data and marker: drop the marker, leave (stale) data;
    # the next replay overwrites the dir and re-commits
    os.remove(os.path.join(out, "_committed_0"))
    run(ckpt3)
    assert read_exactly_once_output(spark, out).count() == 3


def test_read_exactly_once_output_without_commits_raises(spark, tmp_path):
    """An output path with no committed batch, absent or empty, raises
    the reader's own FileNotFoundError, not a filesystem error."""
    from felixzh_flink_spark.sinks.writers import read_exactly_once_output
    for out in (tmp_path / "absent", tmp_path):
        with pytest.raises(FileNotFoundError, match="no committed batches"):
            read_exactly_once_output(spark, str(out))


def test_streaming_near_dup_across_batches_within_horizon(spark, tmp_path):
    """Regression: a duplicate arriving in a LATER micro-batch but inside
    the horizon must still be flagged — the eviction timer anchors on the
    bucket's last activity, not on the first batch's 0 watermark (which
    would purge every bucket at the next batch)."""
    from felixzh_flink_spark.streaming.neardup import near_dup_stream
    src = str(tmp_path / "src")
    doc_schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    text = "a body of text that reappears in the very next micro batch run"
    spark.createDataFrame([(BASE, 1, text)], doc_schema) \
        .coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, doc_schema, max_files_per_trigger=1)
    out = near_dup_stream(stream, n=3, num_perm=32, bands=16,
                          watermark_delay="1 second", horizon_ms=600_000)
    q = (out.writeStream.format("memory").queryName("neardup_xbatch")
         .outputMode("append").start())
    q.processAllAvailable()
    spark.createDataFrame([(BASE + dt.timedelta(seconds=30), 2, text)],
                          doc_schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    pairs = {(r["doc_id"], r["dup_of"]) for r in
             spark.sql("SELECT * FROM neardup_xbatch").collect()}
    assert (2, 1) in pairs


def test_anomaly_stream_matches_batch_detector(spark, tmp_path):
    """Streaming flags must equal the batch integer z-score detector for
    every closed bucket, across micro-batch boundaries: 40 one-second
    buckets of jittered counts with a spike at bucket 30, split over two
    batches, flushed by a far-future sentinel that closes everything."""
    from pyspark.sql import functions as F, types as T

    from felixzh_flink_spark.operators.aggregations import (
        integer_zscore_anomalies)
    from felixzh_flink_spark.sources.builders import file_stream_source
    from felixzh_flink_spark.streaming.anomaly import anomaly_stream

    def events(lo, hi):
        rows = []
        for s in range(lo, hi):
            n = 50 if s == 30 else (5 + s % 3)
            rows.extend(("k", f"2024-01-01 00:00:{s:02d}.500") for _ in range(n))
        return rows

    src = str(tmp_path / "src")
    schema = T.StructType([T.StructField("key", T.StringType()),
                           T.StructField("ts_s", T.StringType())])
    b1, b2 = events(0, 20), events(20, 40)
    flush = [("k", "2024-01-01 01:00:00.000")]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)

    stream = file_stream_source(spark, src, schema, max_files_per_trigger=1) \
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = anomaly_stream(stream, "key", "ts", bucket="1 second",
                         lookback=10, z=3, min_points=5)
    q = (out.writeStream.format("memory").queryName("anom")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").start())
    q.processAllAvailable()
    for extra in (b2, flush):
        spark.createDataFrame(extra, schema).coalesce(1) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
    q.stop()

    got = {r["bucket_ms"]: (r["cnt"], r["is_anomaly"])
           for r in spark.sql("SELECT * FROM anom").collect()}
    batch_df = spark.createDataFrame(b1 + b2, schema) \
        .withColumn("ts", F.col("ts_s").cast("timestamp"))
    exp = {int(r["bucket_ts"].timestamp() * 1000): (r["cnt"], r["is_anomaly"])
           for r in integer_zscore_anomalies(
               batch_df, "key", "ts", lookback=10, z=3, min_points=5,
               bucket="second").collect()}
    assert got == exp                       # every closed bucket, same verdict
    assert any(v[1] for v in got.values())  # the spike was flagged
    spike = [ms for ms, v in got.items() if v[1]]
    assert spike == [1704067230000]  # 2024-01-01 00:00:30 UTC — bucket 30 only


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """LEFT OUTER stream⋈stream: matched views pair with their purchase;
    the unmatched view is STILL emitted null-padded once the watermark
    proves no purchase can arrive inside its bound (driven here by a
    late sentinel batch that advances the watermark)."""
    from felixzh_flink_spark.streaming.joins import interval_left_join_streams

    psrc, vsrc = str(tmp_path / "p"), str(tmp_path / "v")
    p_schema = T.StructType([
        T.StructField("pts", T.TimestampType()),
        T.StructField("user", T.StringType()),
    ])
    v_schema = T.StructType([
        T.StructField("vts", T.TimestampType()),
        T.StructField("user", T.StringType()),
    ])
    views = [(BASE + dt.timedelta(seconds=s), "u1") for s in (0, 200)]
    purchases = [(BASE + dt.timedelta(seconds=50), "u1")]
    spark.createDataFrame(views, v_schema).coalesce(1).write.parquet(vsrc)
    spark.createDataFrame(purchases, p_schema).coalesce(1).write.parquet(psrc)
    v = file_stream_source(spark, vsrc, v_schema)
    p = file_stream_source(spark, psrc, p_schema)
    joined = interval_left_join_streams(v, p, "user", "vts", "pts", 0, 60,
                                        watermark="5 seconds")
    q = (joined.writeStream.format("memory").queryName("ssloj")
         .outputMode("append").start())
    q.processAllAvailable()
    # watermark sentinel: far-future rows close every earlier bound
    spark.createDataFrame(
        [(BASE + dt.timedelta(seconds=10_000), "uX")], v_schema
    ).coalesce(1).write.mode("append").parquet(vsrc)
    spark.createDataFrame(
        [(BASE + dt.timedelta(seconds=10_000), "uX")], p_schema
    ).coalesce(1).write.mode("append").parquet(psrc)
    q.processAllAvailable()
    q.stop()
    got = {(int((r["vts"] - BASE).total_seconds()), r["pts"] is not None)
           for r in spark.sql("SELECT vts, pts FROM ssloj").collect()}
    assert (0, True) in got         # view@0s matched its purchase
    assert (200, False) in got      # view@200s emitted null-padded


def test_dynamic_rules_update_between_batches(spark, tmp_path):
    """Broadcast-state analog: the rules table is re-read every
    micro-batch, so updating it mid-stream changes routing WITHOUT
    restarting the query — batch 1 matches rule v1 keys, batch 2 the
    replaced v2 keys."""
    from felixzh_flink_spark.streaming.joins import dynamic_rules_filter

    src, rules, out = (str(tmp_path / d) for d in ("src", "rules", "out"))
    spark.createDataFrame([("a", "alert")], "key string, action string") \
        .write.parquet(rules)
    spark.createDataFrame(_rows(["a", "b"], 1), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, SCHEMA, max_files_per_trigger=1)
    q = (stream.writeStream
         .foreachBatch(dynamic_rules_filter(rules, ["key"], out))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.processAllAvailable()
    # rule update while the query runs: now only 'b' matches, action changes
    spark.createDataFrame([("b", "page")], "key string, action string") \
        .write.mode("overwrite").parquet(rules)
    spark.createDataFrame(_rows(["a", "b"], 1, start=100), SCHEMA).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    got = {(r["key"], r["action"]) for r in spark.read.parquet(out).collect()}
    assert got == {("a", "alert"), ("b", "page")}


def test_streaming_hll_sketch_maintenance(spark, tmp_path):
    """Continuous distinct-counts: per-day sketches maintained across
    micro-batches must estimate the same cardinalities as one-shot batch
    sketches over all the data — including a day that receives
    overlapping users from BOTH batches (union-merge, not double count)."""
    from felixzh_flink_spark.functions.changelog import read_upsert_state
    from felixzh_flink_spark.operators.profiling import (
        hll_daily_sketches, hll_sketch_sink)

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    schema = T.StructType([T.StructField("ts", T.TimestampType()),
                           T.StructField("user_id", T.LongType())])
    d1, d2 = BASE, BASE + dt.timedelta(days=1)
    b1 = [(d1, u) for u in range(100)] + [(d2, u) for u in range(30)]
    b2 = [(d1, u) for u in range(50, 150)]       # day 1: 50 overlap, 50 new
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, schema, max_files_per_trigger=1)
    q = (stream.writeStream
         .foreachBatch(hll_sketch_sink(state, "ts", "user_id"))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.processAllAvailable()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    est = {r["day"]: r["n"] for r in
           read_upsert_state(spark, state)
           .select("day", F.hll_sketch_estimate("sketch").alias("n")).collect()}
    batch = spark.createDataFrame(b1 + b2, schema)
    exp = {r["day"]: r["n"] for r in
           hll_daily_sketches(batch, "ts", "user_id")
           .select("day", F.hll_sketch_estimate("sketch").alias("n")).collect()}
    assert est == exp                      # streaming merge == batch sketch
    day1 = [v for k, v in est.items() if k.day == 1][0]
    assert abs(day1 - 150) <= 0.05 * 150   # union of 0..149, not 200


# ----------------------------------------------------- document ingest

def test_document_ingest_split_streaming_matches_batch(spark, tmp_path):
    import datetime as dt
    import time as _time
    from felixzh_flink_spark.operators import inference as INF
    from felixzh_flink_spark.streaming.ingest import document_ingest_split

    w = INF.make_weights(64)

    def score(text):
        import hashlib
        return sum(w[int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 64]
                   for t in text.split(" "))

    # craft docs on both sides of the classifier threshold
    good = next(t for t in ("alpha beta gamma", "delta epsilon zeta",
                            "eta theta iota", "kappa lam mu")
                if score(t) > 0)
    bad = next(t for t in ("nu xi omicron", "pi rho sigma",
                           "tau upsilon phi", "chi psi omega")
               if score(t) <= 0)
    base = dt.datetime(2024, 1, 1)
    schema = "ts timestamp, doc_id long, text string"
    b1 = [(base + dt.timedelta(seconds=1), 1, good),
          (base + dt.timedelta(seconds=2), 2, bad),
          (base + dt.timedelta(seconds=3), 3, "hi")]       # too short
    b2 = [(base + dt.timedelta(seconds=10), 4, good),      # dup of 1
          (base + dt.timedelta(seconds=11), 5, good + " extra tail words")]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(str(tmp_path / "in"))
    _time.sleep(1.1)
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(str(tmp_path / "in"))

    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "in")))
    accepted, rejected = document_ingest_split(src, w, watermark="1 minute")
    for df, name, mode in [(accepted, "ing_acc", "append"),
                           (rejected, "ing_rej", "append")]:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode)
             .option("checkpointLocation", str(tmp_path / ("ckp_" + name)))
             .start())
        q.processAllAvailable()
        q.stop()

    acc = {r["doc_id"]: r for r in spark.table("ing_acc").collect()}
    rej = {r["doc_id"]: r["reason"] for r in spark.table("ing_rej").collect()}
    # doc 1 first occurrence accepted; 4 is a dup within the watermark
    assert set(acc) == {1, 5}
    assert acc[1]["score"] == score(good) and acc[1]["n_tokens"] == 3
    assert rej == {2: "low_quality", 3: "too_short"}


def test_document_ingest_split_batch_mode_is_stateless_identical(spark):
    from felixzh_flink_spark.operators import inference as INF
    from felixzh_flink_spark.streaming.ingest import document_ingest_split
    import datetime as dt
    w = INF.make_weights(64)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1, "alpha beta gamma delta")],
        "ts timestamp, doc_id long, text string")
    # stateless gates run unchanged on a batch frame (U4): only the
    # dedup operator is streaming-specific
    _, rejected = document_ingest_split(df, w)
    assert rejected.columns == ["ts", "doc_id", "fingerprint", "reason"]


def test_document_ingest_null_text_routed_to_rejected(spark):
    import datetime as dt
    from felixzh_flink_spark.operators import inference as INF
    from felixzh_flink_spark.streaming.ingest import document_ingest_split
    w = INF.make_weights(64)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1, None),
         (dt.datetime(2024, 1, 1), 2, "a")],
        "ts timestamp, doc_id long, text string")
    accepted, rejected = document_ingest_split(df, w)
    rej = {r["doc_id"]: r["reason"] for r in rejected.collect()}
    assert rej[1] == "null_text" and rej[2] == "too_short"
    # every row on exactly one side — nothing vanishes into NULL logic
    assert accepted.count() + rejected.count() == 2


def test_document_ingest_batch_accepted_dedups_by_first_ts(spark):
    import datetime as dt
    from felixzh_flink_spark.operators import inference as INF
    from felixzh_flink_spark.streaming.ingest import document_ingest_split

    w = INF.make_weights(64)

    import hashlib

    def score(t):
        return sum(w[int(hashlib.md5(x.encode()).hexdigest()[:8], 16) % 64]
                   for x in t.split(" "))

    good = next(t for t in ("alpha beta gamma", "delta epsilon zeta",
                            "eta theta iota") if score(t) > 0)
    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(seconds=5), 7, good),
         (base + dt.timedelta(seconds=1), 9, good)],  # earlier ts wins
        "ts timestamp, doc_id long, text string")
    accepted, _ = document_ingest_split(df, w)
    rows = accepted.collect()
    assert [r["doc_id"] for r in rows] == [9]


# --------------------------------------------------- streaming count-min

def test_cms_sketch_sink_streaming_matches_batch(spark, tmp_path):
    from felixzh_flink_spark.operators.profiling import (
        cms_build, cms_estimate, cms_sketch_sink)
    from felixzh_flink_spark.functions.changelog import read_upsert_state
    from felixzh_flink_spark.sources.builders import file_stream_source

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    schema = T.StructType([T.StructField("tok", T.StringType())])
    b1 = [("apple",)] * 20 + [("banana",)] * 5
    b2 = [("apple",)] * 10 + [("cherry",)] * 7
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, schema, max_files_per_trigger=1)
    q = (stream.writeStream
         .foreachBatch(cms_sketch_sink(state, "tok", depth=3, width=32))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.processAllAvailable()
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    streamed = read_upsert_state(spark, state).select("j", "bucket", "cnt")
    batch = cms_build(spark.createDataFrame(b1 + b2, schema), "tok",
                      depth=3, width=32)
    assert sorted(streamed.collect()) == sorted(batch.collect())
    keys = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",), ("durian",)], schema)
    est = {r["tok"]: r["est_cnt"]
           for r in cms_estimate(streamed, keys, "tok",
                                 depth=3, width=32).collect()}
    exact = {"apple": 30, "banana": 5, "cherry": 7, "durian": 0}
    assert all(est[t] >= exact[t] for t in exact)


def test_state_reader_inspects_agg_and_dedup_state(spark, tmp_path):
    """Spark 4 state data source: checkpointed operator state is directly
    queryable — operator inventory, state rows, per-partition skew view,
    and batchId time travel."""
    import datetime as dt

    from felixzh_flink_spark.streaming.state_reader import (
        read_state, state_metadata, state_size_by_partition)

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    rows1 = [(dt.datetime(2024, 1, 1, 0, 0, s), f"k{s % 3}", 1.0)
             for s in range(6)]
    spark.createDataFrame(rows1, "ts timestamp, k string, v double") \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("ts timestamp, k string, v double") \
        .parquet(src)
    q = (stream.groupBy("k").count()
         .writeStream.format("memory").queryName("sr_out")
         .outputMode("complete").option("checkpointLocation", ckpt).start())
    q.processAllAvailable()

    meta = state_metadata(spark, ckpt).collect()
    assert [r["operatorName"] for r in meta] == ["stateStoreSave"]
    st = {r["key"]["k"]: r["value"]["count"]
          for r in read_state(spark, ckpt).collect()}
    assert st == {"k0": 2, "k1": 2, "k2": 2}

    # state evolves with a second batch; time travel sees the old state
    spark.createDataFrame([(dt.datetime(2024, 1, 1, 0, 1), "k0", 1.0)],
                          "ts timestamp, k string, v double") \
        .coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    now = {r["key"]["k"]: r["value"]["count"]
           for r in read_state(spark, ckpt).collect()}
    assert now["k0"] == 3
    old = {r["key"]["k"]: r["value"]["count"]
           for r in read_state(spark, ckpt, batch_id=0).collect()}
    assert old["k0"] == 2

    sizes = state_size_by_partition(spark, ckpt).collect()
    assert sum(r["n_rows"] for r in sizes) == 3  # 3 distinct keys


def test_late_data_side_output_routes_and_replays(spark, tmp_path):
    """Flink sideOutputLateData analog: rows older than (max seen − delay)
    go to the late sink; the watermark only advances from committed
    batches; a replayed epoch routes identically and does not advance."""
    import datetime as dt

    from felixzh_flink_spark.streaming.late_data import late_data_split_sink

    on_time_rows, late_rows = [], []
    sink = late_data_split_sink(
        str(tmp_path / "wm"), "ts", delay_ms=60_000,
        on_time=lambda df, e: on_time_rows.extend(
            (e, r["event_id"]) for r in df.collect()),
        late=lambda df, e: late_rows.extend(
            (e, r["event_id"]) for r in df.collect()))

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "event_id long, ts timestamp")
    m = lambda mins: t0 + dt.timedelta(minutes=mins)  # noqa: E731

    # batch 0: watermark unknown -> everything on time; advances wm to 9min
    sink(mk([(1, m(0)), (2, m(10))]), 0)
    assert on_time_rows == [(0, 1), (0, 2)] and late_rows == []
    # batch 1: wm = 10min - 1min = 9min; event at 5min is LATE
    sink(mk([(3, m(5)), (4, m(12))]), 1)
    assert (1, 3) in late_rows and (1, 4) in on_time_rows
    # REPLAY of batch 1 (post-commit): identical routing, wm not advanced
    n_on, n_late = len(on_time_rows), len(late_rows)
    sink(mk([(3, m(5)), (4, m(12))]), 1)
    assert late_rows[n_late:] == [(1, 3)] and on_time_rows[n_on:] == [(1, 4)]
    # batch 2: wm = 12min - 1min = 11min (replay did not move it)
    sink(mk([(5, m(11)), (6, m(10))]), 2)
    assert (2, 5) in on_time_rows and (2, 6) in late_rows


def test_async_enrich_overlaps_lookups_and_preserves_contract(spark):
    """AsyncDataStream analog: lookups overlap (wall << serial), ordered
    mode keeps row order, unordered mode keeps the row SET, and a lookup
    failure fails the job instead of dropping rows."""
    import time

    import pytest

    from pyspark.sql import functions as F

    from felixzh_flink_spark.streaming.async_io import async_enrich

    df = spark.range(64).select(F.col("id")).coalesce(1)

    def slow_lookup(row):
        time.sleep(0.05)
        return {"name": f"v{row['id']}"}

    # warm the Python-UDF worker path first: the FIRST Arrow-UDF job in a
    # session pays ~3s of daemon spin-up that would swamp the overlap
    # measurement (measured: cold 3.1s even with a no-op fn, warm 0.3s)
    async_enrich(df, lambda r: {"name": "w"}, "id long, name string",
                 concurrency=4).collect()

    t0 = time.perf_counter()
    out = async_enrich(df, slow_lookup, "id long, name string",
                       concurrency=16).collect()
    wall = time.perf_counter() - t0
    # serial = 64 * 50ms = 3.2s; 16-way overlap target: well under half
    assert wall < 1.6, wall
    assert [r["id"] for r in out] == list(range(64))        # ordered
    assert all(r["name"] == f"v{r['id']}" for r in out)

    got = {(r["id"], r["name"])
           for r in async_enrich(df, slow_lookup, "id long, name string",
                                 concurrency=16, ordered=False).collect()}
    assert got == {(i, f"v{i}") for i in range(64)}          # same SET

    def failing(row):
        if row["id"] == 7:
            raise RuntimeError("lookup boom")
        return {"name": "x"}

    with pytest.raises(Exception, match="boom"):
        async_enrich(df, failing, "id long, name string").collect()


def test_streaming_temporal_enrichment_sees_state_as_of_batch(spark,
                                                              tmp_path):
    """Processing-time temporal join: a dimension update committed
    between micro-batches is visible to the later batch only — each
    fact reads the version current at ITS processing moment."""
    from felixzh_flink_spark.functions.changelog import (
        changelog_upsert_sink)
    from felixzh_flink_spark.streaming.joins import enrich_with_upsert_state

    state, out = str(tmp_path / "dim"), str(tmp_path / "out")
    dim_sink = changelog_upsert_sink(state, ["cur"], n_buckets=2)
    dim_sink(spark.createDataFrame(
        [("+I", 1, "EUR", 1.10)], "op string, ts_ms long, cur string, rate double"), 0)

    enrich = enrich_with_upsert_state(state, ["cur"], out)
    facts = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "order_id long, cur string")
    enrich(facts([(1, "EUR"), (2, "JPY")]), 0)   # JPY unknown -> NULL rate
    dim_sink(spark.createDataFrame(
        [("+U", 2, "EUR", 1.25), ("+I", 2, "JPY", 0.0065)],
        "op string, ts_ms long, cur string, rate double"), 1)
    enrich(facts([(3, "EUR"), (4, "JPY")]), 1)   # sees the NEW versions

    got = {r["order_id"]: r["rate"]
           for r in spark.read.parquet(out).collect()}
    assert got == {1: 1.10, 2: None, 3: 1.25, 4: 0.0065}


def test_hybrid_count_timeout_trigger_tws_matches_classic(spark, tmp_path):
    """The transformWithStateInPandas form of the HYBRID count+timeout
    trigger (W5/W6 on the modern Spark-4 stateful API) must reproduce
    the classic applyInPandasWithState windows: count fire at
    max_count, partial flush when the watermark passes the registered
    event-time timer. Runs for real (protobuf via the tools/pbcompat
    shim + RocksDB state store — TWS needs column families); round 4
    could only unit-test the processor against fake handles."""
    import pytest
    pytest.importorskip("google.protobuf")

    from felixzh_flink_spark.streaming.triggers import count_window_tws

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        src = str(tmp_path / "src")
        spark.createDataFrame(_rows(["a"], 3), SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)
        stream = file_stream_source(spark, src, SCHEMA,
                                    max_files_per_trigger=1)
        fired = count_window_tws(stream, "key", "value", max_count=5,
                                 timeout_ms=2000, event_time_col="ts")
        q = (fired.writeStream.format("memory").queryName("hybrid_tws_out")
             .outputMode("append").start())
        q.processAllAvailable()       # 'a' buffers 3, registers a timer
        spark.createDataFrame(_rows(["b"], 6, start=500), SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()       # watermark fires 'a'; 'b' fires by count
        spark.createDataFrame(_rows(["c"], 1, start=1000), SCHEMA) \
            .coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()       # 'b' leftover times out
        q.stop()
        rows = spark.sql("SELECT * FROM hybrid_tws_out").collect()
        by_key = {}
        for r in rows:
            by_key.setdefault(r["key"], []).append(r)
        assert any(r["fired_by"] == "count" and r["cnt"] == 5
                   for r in by_key["b"])
        assert any(r["fired_by"] == "timeout" and r["cnt"] == 3
                   for r in by_key.get("a", []))
        assert any(r["fired_by"] == "timeout" and r["cnt"] == 1
                   for r in by_key["b"])
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)


def test_bm25_stats_sink_streaming_matches_batch(spark, tmp_path):
    """Streaming retrieval twin (U4 unification for the retrieval
    family): BM25 corpus statistics maintained continuously across
    micro-batches must be INTEGER-EXACT equal to the one-shot
    `bm25_corpus_stats` over the union of all batches — and
    `bm25_topk(stats=streamed)` must then serve bit-identically to the
    self-contained batch query. Also pins the replay-skip epoch guard
    (a replayed ADD would double-count)."""
    from felixzh_flink_spark.operators.text import (
        bm25_corpus_stats, bm25_stats_read, bm25_stats_sink, bm25_topk)

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    b1 = [(1, "spark shuffles data across executors"),
          (2, "the catalyst optimizer prunes columns"),
          (3, "spark spark spark everywhere")]
    b2 = [(4, "executors spill when partitions exceed memory"),
          (5, "columns and partitions and spark"),
          (6, None), (7, "   ")]                    # null/blank docs count
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, schema, max_files_per_trigger=1)
    sink = bm25_stats_sink(state)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.processAllAvailable()
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    terms = ["spark", "partitions", "nosuchterm"]
    batch = spark.createDataFrame(b1 + b2, schema)
    got_stats, got_n = bm25_stats_read(spark, state, terms)
    exp_stats = bm25_corpus_stats(batch, terms)
    assert got_stats == exp_stats
    assert got_n == batch.count()

    served = [(r.doc_id, r.bm25) for r in
              bm25_topk(batch, terms, k=5, stats=got_stats,
                        n_docs=got_n).collect()]
    inline = [(r.doc_id, r.bm25) for r in
              bm25_topk(batch, terms, k=5).collect()]
    assert served == inline and served

    # replay-skip: re-applying an already-committed epoch is a no-op
    before = got_stats
    sink(batch, epoch_id=0)
    after, _ = bm25_stats_read(spark, state, terms)
    assert after == before


def test_rp_index_stream_sink_serves_like_inline(spark, tmp_path):
    """Streaming index maintenance: an rp index maintained across
    micro-batches (inserts, a re-embedding upsert, and a deletion) must
    serve bit-identically to the inline two-stage path over the LATEST
    corpus — extending U4 unification to index maintenance itself."""
    from felixzh_flink_spark.operators.similarity import (
        rp_index_stream_read,
        rp_index_stream_sink,
        rp_rerank_topk,
        rp_rerank_topk_from_df,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    # batch 1: first 60% of ids, but ids ≡ 3 (mod 7) carry STALE
    # (reversed) vectors that batch 2 re-embeds
    b1 = e.filter(F.col("vec_id") % 5 != 4).withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding"))).withColumn("op", F.lit("+I"))
    # batch 2: the remaining ids, the re-embeddings, and a DELETE of
    # vec_id 1
    b2 = (e.filter((F.col("vec_id") % 5 == 4) | (F.col("vec_id") % 7 == 3))
          .withColumn("op", F.lit("+I"))
          .unionByName(e.filter(F.col("vec_id") == 1)
                       .withColumn("op", F.lit("-D"))))
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, b1.schema,
                                max_files_per_trigger=1)
    sink = rp_index_stream_sink(state)
    sq = (stream.writeStream.foreachBatch(sink)
          .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    sq.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(src)
    sq.processAllAvailable()
    sq.stop()

    final_corpus = e.filter(F.col("vec_id") != 1)   # latest truth
    inline = [(r.id, r.cosine_sim) for r in
              rp_rerank_topk(final_corpus, q, k=10, prek=50).collect()]
    idx = rp_index_stream_read(spark, state)
    assert idx.count() == final_corpus.count()
    got = [(r.id, r.cosine_sim) for r in
           rp_rerank_topk_from_df(idx, q, k=10, prek=50).collect()]
    assert got == inline


def test_ivf_index_stream_sink_serves_like_inline(spark, tmp_path):
    """Streaming IVF index maintenance — the cell-partitioned twin of
    the rp stream sink, completing the {rp, ivf} × {batch, stream}
    matrix: micro-batches of inserts, a re-embedding upsert that MOVES
    CELLS (the case the batch path resolves by index-wide latest-epoch
    wins; here it is an ordinary keyed upsert), and an op=-D deletion
    must serve
    bit-identically to the inline IVF probe over the LATEST corpus,
    and materializing the state back to the cell-partitioned batch
    layout must serve identically through the partition-pruned path."""
    from felixzh_flink_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_index_stream_read,
        ivf_index_stream_sink,
        ivf_topk,
        ivf_topk_from_df,
        ivf_topk_from_index,
        materialize_ivf_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    q = [float(x) for x in
         e.filter(F.col("vec_id") == 0).head()["embedding"]]
    cents = ivf_centroids(e, 16)
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    # batch 1: most ids, but ids ≡ 3 (mod 7) carry STALE (reversed)
    # vectors; batch 2 re-embeds them (cells may move), adds the rest,
    # and deletes vec_id 1
    stale = e.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 3, F.reverse("embedding"))
        .otherwise(F.col("embedding")))
    b1 = stale.filter(F.col("vec_id") % 5 != 4).withColumn(
        "op", F.lit("+I"))
    b2 = (e.filter((F.col("vec_id") % 5 == 4) | (F.col("vec_id") % 7 == 3))
          .withColumn("op", F.lit("+I"))
          .unionByName(e.filter(F.col("vec_id") == 1)
                       .withColumn("op", F.lit("-D"))))
    # the fixture must exercise a cross-cell re-embedding
    old_cells = {r.vec_id: r.ivf_cell for r in
                 ivf_assign(stale.filter(F.col("vec_id") % 7 == 3),
                            cents).collect()}
    new_cells = {r.vec_id: r.ivf_cell for r in
                 ivf_assign(e.filter(F.col("vec_id") % 7 == 3),
                            cents).collect()}
    assert any(old_cells[i] != new_cells[i] for i in old_cells)

    b1.coalesce(1).write.mode("append").parquet(src)
    stream = file_stream_source(spark, src, b1.schema,
                                max_files_per_trigger=1)
    sink = ivf_index_stream_sink(state, cents)
    sq = (stream.writeStream.foreachBatch(sink)
          .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    sq.processAllAvailable()
    b2.coalesce(1).write.mode("append").parquet(src)
    sq.processAllAvailable()
    sq.stop()

    final_corpus = e.filter(F.col("vec_id") != 1)   # latest truth
    inline = [(r.id, r.cosine_sim) for r in
              ivf_topk(final_corpus, q, k=10, n_centroids=16,
                       n_probe=4, cents=cents).collect()]
    idx = ivf_index_stream_read(spark, state)
    assert idx.count() == final_corpus.count()
    got = [(r.id, r.cosine_sim) for r in
           ivf_topk_from_df(idx, cents, q, k=10, n_probe=4).collect()]
    assert got == inline and got

    # stream → batch handoff: the materialized cell-partitioned layout
    # serves the same rows through the partition-pruned probe
    batch_path = str(tmp_path / "batch")
    materialize_ivf_index(spark, state, batch_path)
    got2 = [(r.id, r.cosine_sim) for r in
            ivf_topk_from_index(spark, batch_path, cents, q, k=10,
                                n_probe=4).collect()]
    assert got2 == inline


@pytest.mark.parametrize("kind", ["rp", "ivf"])
def test_index_stream_sink_replay_is_idempotent(spark, tmp_path, kind):
    """A replayed micro-batch (the same `epoch_id` delivered again, as
    after a crash between the sink's commit and the offset commit)
    leaves the maintained index unchanged — for the one shared index
    sink with either encoder. The replayed batch holds an insert, a
    re-embedding and a -D."""
    from felixzh_flink_spark.operators.similarity import (
        ivf_centroids,
        ivf_index_stream_read,
        ivf_index_stream_sink,
        rp_index_stream_read,
        rp_index_stream_sink,
    )

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .select("vec_id", "embedding").filter(F.col("vec_id") < 200))
    state = str(tmp_path / "state")
    if kind == "rp":
        sink = rp_index_stream_sink(state)
        read = rp_index_stream_read
    else:
        sink = ivf_index_stream_sink(state, ivf_centroids(e, 4))
        read = ivf_index_stream_read
    sink(e.filter(F.col("vec_id") % 2 == 0)
         .withColumn("op", F.lit("+I")), 0)
    batch = (e.filter(F.col("vec_id") % 2 == 1)              # inserts
             .unionByName(e.filter(F.col("vec_id") == 0)    # re-embedding
                          .withColumn("embedding", F.reverse("embedding")))
             .withColumn("op", F.lit("+I"))
             .unionByName(e.filter(F.col("vec_id") == 2)    # delete
                          .withColumn("op", F.lit("-D"))))
    sink(batch, 1)
    first = sorted(read(spark, state).collect())
    sink(batch, 1)                                          # replay
    assert sorted(read(spark, state).collect()) == first
    ids = [r.vec_id for r in first]
    assert 2 not in ids and len(ids) == len(set(ids)) == e.count() - 1
    v0 = e.filter(F.col("vec_id") == 0).head()["embedding"]
    assert [r.embedding for r in first if r.vec_id == 0] == [v0[::-1]]
