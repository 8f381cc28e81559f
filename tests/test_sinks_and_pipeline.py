import time

import pytest

from felixzh_flink_spark.plans.pipeline import PipelineSpec, load_properties
from felixzh_flink_spark.sinks.buffered import BufferedBulkWriter, FlushPolicy


class CollectingWriter:
    def __init__(self, fail_times: int = 0):
        self.chunks = []
        self.fail_times = fail_times

    def __call__(self, chunk):
        if self.fail_times > 0:
            self.fail_times -= 1
            raise IOError("transient")
        self.chunks.append(list(chunk))


def test_flush_by_action_count():
    sink = CollectingWriter()
    w = BufferedBulkWriter(sink, FlushPolicy(max_actions=3, max_interval_ms=10**9))
    for i in range(7):
        w.add({"i": i})
    w.close()
    assert [len(c) for c in sink.chunks] == [3, 3, 1]
    assert w.written == 7


def test_flush_by_bytes():
    sink = CollectingWriter()
    w = BufferedBulkWriter(sink, FlushPolicy(max_actions=10**6, max_bytes=10,
                                             max_interval_ms=10**9),
                           sizer=lambda r: 6)
    w.add("aaaaaa")
    assert sink.chunks == []          # 6 < 10
    w.add("bbbbbb")                   # 12 ≥ 10 → flush
    assert [len(c) for c in sink.chunks] == [2]


def test_flush_by_interval():
    sink = CollectingWriter()
    w = BufferedBulkWriter(sink, FlushPolicy(max_actions=10**6, max_interval_ms=50))
    w.add({"i": 0})
    time.sleep(0.08)
    w.add({"i": 1})                   # interval elapsed → flush both
    assert [len(c) for c in sink.chunks] == [2]


def test_retry_with_constant_backoff_then_success():
    sink = CollectingWriter(fail_times=2)
    w = BufferedBulkWriter(sink, FlushPolicy(max_actions=1, max_retries=3, backoff_ms=1))
    w.add({"i": 0})
    assert [len(c) for c in sink.chunks] == [1]


def test_error_latch_after_retries_exhausted():
    sink = CollectingWriter(fail_times=10)
    w = BufferedBulkWriter(sink, FlushPolicy(max_actions=1, max_retries=2, backoff_ms=1))
    with pytest.raises(IOError):
        w.add({"i": 0})
    with pytest.raises(RuntimeError, match="previously failed"):
        w.add({"i": 1})  # latch rethrow, HBaseSinkFunction failureThrowable contract


def test_load_properties(tmp_path):
    p = tmp_path / "job.properties"
    p.write_text("# comment\nsource.type=parquet\nsink.type = console\n\nbad-line\n")
    props = load_properties(p)
    assert props == {"source.type": "parquet", "sink.type": "console"}


def test_pipeline_batch_parquet_wordcount(spark, sf_dir, tmp_path):
    # U4/U8: properties-driven batch pipeline over a parquet source
    src = tmp_path / "in"
    spark.createDataFrame([("a b a",), ("b c",)], "value string") \
        .write.parquet(str(src))
    spec = PipelineSpec({
        "env.runtime.mode": "BATCH",
        "source.type": "parquet",
        "source.path": str(src),
        "transform.chain": "word_count",
    })
    out = {r["word"]: r["count"] for r in spec.run_batch(spark).collect()}
    assert out == {"a": 2, "b": 2, "c": 1}


def test_cli_main_runs_batch_job_to_parquet(spark, tmp_path):
    """`python -m felixzh_flink_spark job.properties` — the reference's
    runnable-main surface: batch job from a properties file, result
    written to the configured parquet sink."""
    from felixzh_flink_spark.__main__ import main

    src = tmp_path / "in"
    dst = tmp_path / "out"
    spark.createDataFrame([("a b a",), ("b c",)], "value string") \
        .write.parquet(str(src))
    props = tmp_path / "job.properties"
    props.write_text("\n".join([
        "env.runtime.mode=BATCH",
        "env.job.name=cli-test",
        "source.type=parquet",
        f"source.path={src}",
        "transform.chain=word_count",
        "sink.type=parquet",
        f"sink.path={dst}",
    ]))
    assert main([str(props)]) == 0
    out = {r["word"]: r["count"]
           for r in spark.read.parquet(str(dst)).collect()}
    assert out == {"a": 2, "b": 2, "c": 1}
    assert main([]) == 2   # usage error, no crash


def test_pipeline_stream_memory_sink(spark, tmp_path):
    # STREAMING mode over a file source → memory sink, deterministic drain
    src = tmp_path / "stream_in"
    spark.createDataFrame([("x y",), ("y",)], "value string").write.parquet(str(src))
    spec = PipelineSpec({
        "env.runtime.mode": "STREAMING",
        "source.type": "parquet",
        "source.path": str(src),
        "transform.chain": "word_count",
        "sink.type": "memory",
        "sink.memory.name": "pipe_out",
        "sink.output.mode": "complete",
        "env.checkpoint.location": str(tmp_path / "ckpt"),
    })
    q = spec.run(spark)
    q.processAllAvailable()
    q.stop()
    out = {r["word"]: r["count"] for r in spark.sql("SELECT * FROM pipe_out").collect()}
    assert out == {"x": 1, "y": 2}


def test_pipeline_trigger_interval_config(spark, tmp_path):
    """env.trigger.processing.time → processing-time trigger (the 50 ms
    micro-window analog)."""
    import time as _time

    src = str(tmp_path / "psrc")
    spark.range(3).selectExpr("CAST(id AS STRING) AS value").write.parquet(src)
    spec = PipelineSpec({
        "source.type": "parquet",
        "source.path": src,
        "transform.chain": "identity",
        "sink.type": "memory",
        "sink.memory.name": "trig_out",
        "env.runtime.mode": "STREAMING",
        "env.trigger.processing.time": "50 milliseconds",
    })
    q = spec.run(spark)
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT COUNT(*) n FROM trig_out").head()["n"] == 3


def test_zorder_interleave_known_values(spark):
    from pyspark.sql import Row, functions as F
    from felixzh_flink_spark.operators.layout import zorder_value
    df = spark.createDataFrame([Row(a=3, b=5)])  # 0b011, 0b101
    # interleave: a bits at even positions, b at odd:
    # a=011 -> 0b010101 contribution at 2i; b=101 -> bit0->pos1? b bit i -> 2i+1
    # a: bits (0,1)=1 -> pos 0,2 ; b: bits(0,2)=1 -> pos 1,5 => 0b100111 = 39
    got = df.select(zorder_value([F.col("a"), F.col("b")], bits=3)
                    .alias("z")).head()["z"]
    assert got == 39


def _file_bounding_boxes(path: str, col_a: str, col_b: str) -> list[dict]:
    """Per-file (min, max) of both layout columns read from parquet
    footers — metadata only, zero row reads. A file counts only when
    BOTH columns have footer stats; such files are conservatively
    unprunable otherwise."""
    import glob
    import os

    import pyarrow.parquet as pq

    boxes = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        mins: dict[str, float] = {}
        maxs: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                name = c.path_in_schema
                if name in (col_a, col_b) and c.statistics is not None:
                    st = c.statistics
                    mins[name] = min(mins.get(name, st.min), st.min)
                    maxs[name] = max(maxs.get(name, st.max), st.max)
        if all(c in mins for c in (col_a, col_b)):
            boxes.append({"file": os.path.basename(f),
                          col_a: (mins[col_a], maxs[col_a]),
                          col_b: (mins[col_b], maxs[col_b])})
    return boxes


def _files_intersecting_box(boxes: list[dict], col_a: str, col_b: str,
                            a_range: tuple, b_range: tuple) -> int:
    """How many files a box predicate must read, by footer stats."""
    n = 0
    for box in boxes:
        (a_lo, a_hi), (b_lo, b_hi) = box[col_a], box[col_b]
        if a_hi >= a_range[0] and a_lo <= a_range[1] \
                and b_hi >= b_range[0] and b_lo <= b_range[1]:
            n += 1
    return n


def test_zorder_roundtrip_and_skippability(spark, tmp_path):
    """Z-ordered layout: row parity, and a 2-D box query must skip more
    files (by footer min/max) than a single-column-sorted layout."""
    from pyspark.sql import functions as F
    from felixzh_flink_spark.operators.layout import (
        range_bucket, write_zordered)
    n = 20_000
    df = spark.range(n).select(
        (F.xxhash64("id", F.lit(1)) % 1000).alias("x"),
        (F.xxhash64("id", F.lit(2)) % 1000).alias("y"))
    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "sorted")
    # both columns take the integers of (-1000, 999] by construction:
    # literal bounds, no min/max pass. range_bucket puts a value that
    # sits exactly on a bucket edge into the lower bucket, so these
    # bounds keep the box edge 0 inside the upper half's first bucket
    # (with lo = -999 it lands on the top-level edge, in the lower half)
    write_zordered(df, zpath, [range_bucket("x", -1000, 999, 8),
                               range_bucket("y", -1000, 999, 8)],
                   bits=8, n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x") \
        .write.mode("overwrite").parquet(spath)
    # parity
    assert spark.read.parquet(zpath).count() == n
    assert (spark.read.parquet(zpath).agg(F.sum("x"), F.sum("y")).head()
            == df.agg(F.sum("x"), F.sum("y")).head())
    zboxes = _file_bounding_boxes(zpath, "x", "y")
    sboxes = _file_bounding_boxes(spath, "x", "y")
    assert len(zboxes) >= 8 and len(sboxes) >= 8
    full = (-1000, 1000)
    narrow_y = (0, 20)  # ~1% of the y domain
    # y-only predicate: the x-sorted layout cannot prune AT ALL (y is
    # unclustered, every file's y-range spans the domain); z-order bounds
    # every file in BOTH dims, so most files are skipped
    zn_y = _files_intersecting_box(zboxes, "x", "y", full, narrow_y)
    sn_y = _files_intersecting_box(sboxes, "x", "y", full, narrow_y)
    assert sn_y == len(sboxes)          # sorted layout reads everything
    assert zn_y <= len(zboxes) // 2     # z-order skips the majority
    # x-only predicate: z-order gives up SOME single-dim pruning vs a
    # perfect x-sort (the documented tradeoff) but must still prune.
    # Threshold is 2/3, not 1/2: repartitionByRange's reservoir sampling
    # is seeded by RDD id, so file boundaries jitter by a file or two
    # depending on how many jobs ran earlier in the session.
    zn_x = _files_intersecting_box(zboxes, "x", "y", (0, 20), full)
    assert zn_x <= len(zboxes) * 2 // 3


def test_dead_letter_writer_isolates_poison_records():
    """DLQ contract: a poison record is retried, isolated, and routed to
    the dead-letter callback; healthy records in the same chunk land; a
    failing DLQ callback trips the latch instead of dropping data."""
    import pytest

    from felixzh_flink_spark.sinks.buffered import (
        DeadLetterBulkWriter, FlushPolicy)

    landed, dead = [], []

    def bulk(chunk):
        if any(r["id"] == 13 for r in chunk):
            raise ValueError("poison id 13")
        landed.extend(chunk)

    w = DeadLetterBulkWriter(
        write_chunk=bulk,
        policy=FlushPolicy(max_actions=10, max_retries=1, backoff_ms=1),
        dead_letter=lambda rec, err: dead.append((rec["id"], err)))
    for i in range(20):
        w.add({"id": i})
    w.close()
    assert sorted(r["id"] for r in landed) == [i for i in range(20) if i != 13]
    assert [d[0] for d in dead] == [13] and "poison" in dead[0][1]
    assert w.dead_count == 1 and w.written == 19

    # a DLQ callback that raises must trip the latch, not lose the record
    def bad_dlq(rec, err):
        raise RuntimeError("dlq down")

    w2 = DeadLetterBulkWriter(
        write_chunk=bulk,
        policy=FlushPolicy(max_actions=2, max_retries=0, backoff_ms=1),
        dead_letter=bad_dlq)
    w2.add({"id": 13})
    with pytest.raises(RuntimeError, match="dlq down"):
        w2.close()
    with pytest.raises(RuntimeError, match="previously failed"):
        w2.add({"id": 1})
