"""Count windows + hybrid count/time triggers — the reference's custom-trigger
family (SURVEY.md §2.4 W4-W6), as stateful Pandas operators.

Reference parity:
- W4 countWindowAll(5): fire & purge every 5 elements —
  MyWindowTrigger/src/main/java/CountWindowDemo.java:15-22.
- W5 time window + CountTrigger.of(5) —
  TimeWindowAddCountTriggerDemo.java:24-34.
- W6 MyCountTrigger: ReducingState counter, onElement fires+purges at maxCount
  OR window end; clear() drops state —
  MyWindowTrigger/src/main/java/MyCountTrigger.java:12-92.

Spark has no trigger concept, so these are keyed stateful operators via
``applyInPandasWithState``: state = buffered count/values per key; emit + clear
at N elements (W4), or at N elements OR timeout (W5/W6 — fire-and-purge on
whichever comes first).

The timeout path uses **event-time timers** (GroupStateTimeout.EventTimeTimeout
+ watermark), mirroring MyCountTrigger's `registerEventTimeTimer(window
maxTimestamp)` / `onEventTime` branch (MyCountTrigger.java:30-34, 55-63): the
partial buffer fires when the watermark passes (last-set watermark +
timeout_ms), i.e. the "window end" analog. The reference's processing-time
branch (`onProcessingTime`, MyCountTrigger.java:47-53) is intentionally NOT
offered: Structured Streaming's ProcessingTimeTimeout is wall-clock-dependent
(non-deterministic under replay) — and event-time timers give the same
fire-and-purge guarantee deterministically.

State per key is O(1) (counts + small aggregates, NOT buffered raw rows), so
executor state stores stay bounded at any scale.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from felixzh_flink_spark.streaming.pdutil import chunk_max_ms

COUNT_WINDOW_OUTPUT = T.StructType([
    T.StructField("key", T.StringType()),
    T.StructField("window_seq", T.LongType()),   # nth fired window per key
    T.StructField("cnt", T.LongType()),
    T.StructField("sum_value", T.DoubleType()),
    T.StructField("fired_by", T.StringType()),   # 'count' | 'timeout'
])

COUNT_WINDOW_STATE = T.StructType([
    T.StructField("buf_cnt", T.LongType()),
    T.StructField("buf_sum", T.DoubleType()),
    T.StructField("fired", T.LongType()),
])


def _count_fire(key: tuple, state: tuple, chunks,
                max_count: int) -> tuple[tuple, list[dict], int]:
    """The one fire step of both count-window forms (MyCountTrigger.java
    :36-71): accumulate `chunks` into the (buf_cnt, buf_sum, fired)
    state and FIRE_AND_PURGE each time the buffer reaches `max_count`.
    `chunks=None` is the window-end timer: a non-empty buffer fires as a
    'timeout' window. A timeout fire consumes a sequence number exactly
    like a count fire, and the fired counter survives an empty flush, so
    window_seq stays monotonic per key (removing the state reset the
    next window to seq 0 → duplicate (key, seq) pairs). Returns
    (new state, fired rows, max event time seen in ms — 0 when the
    chunks carry no event-time column)."""
    buf_cnt, buf_sum, fired = state
    out = []
    last_ms = 0
    if chunks is None:
        if buf_cnt > 0:
            out.append({"key": key[0], "window_seq": fired, "cnt": buf_cnt,
                        "sum_value": buf_sum, "fired_by": "timeout"})
            fired += 1
        return (0, 0.0, fired), out, last_ms
    for pdf in chunks:
        # transformWithState REWRITES the event-time column's name when
        # timeMode='eventTime' (the watermarked `_ts` arrives as a
        # positional `_2` in Spark 4.1) — resolve it by dtype, preferring
        # the declared name if it survived
        ts_col = "_ts" if "_ts" in pdf.columns else next(
            (c for c in pdf.columns
             if str(pdf[c].dtype).startswith("datetime64")), None)
        if ts_col is not None:
            last_ms = chunk_max_ms(pdf, ts_col, last_ms)
        for v in pdf["value"]:
            buf_cnt += 1
            buf_sum += float(v)
            if buf_cnt >= max_count:
                out.append({
                    "key": key[0], "window_seq": fired, "cnt": buf_cnt,
                    "sum_value": buf_sum, "fired_by": "count",
                })
                fired += 1
                buf_cnt, buf_sum = 0, 0.0
    return (buf_cnt, buf_sum, fired), out, last_ms


def make_count_window_fn(max_count: int, timeout_ms: int | None = None):
    """Build the applyInPandasWithState function implementing
    MyCountTrigger.java:36-71 semantics: accumulate per key; when the buffer
    reaches `max_count` → FIRE_AND_PURGE; when the event-time timer expires
    with a non-empty buffer → FIRE_AND_PURGE (the window-end path).

    W4 (pure count window): timeout_ms=None.
    W5/W6 (hybrid): timeout_ms = window length past the current watermark.
    """

    def fn(key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # window-end flush; no new timer — the next arriving batch
            # re-arms it
            new, out, _ = _count_fire(key, state.get, None, max_count)
            state.update(new)
        else:
            new, out, last_ms = _count_fire(
                key, state.get if state.exists else (0, 0.0, 0), pdf_iter,
                max_count)
            state.update(new)
            if timeout_ms is not None:
                # window end = timeout_ms past the buffer's last event
                # time (or the watermark if it is already ahead).
                # Anchoring on the watermark ALONE would put the first
                # batch's timer at 1970+timeout (watermark is 0 until a
                # batch completes) and fire every partial buffer one
                # batch early.
                state.setTimeoutTimestamp(
                    max(last_ms, state.getCurrentWatermarkMs())
                    + timeout_ms)
        if out:
            yield pd.DataFrame(out)

    return fn


def count_window(df: DataFrame, key_col: str, value_col: str, max_count: int,
                 timeout_ms: int | None = None,
                 event_time_col: str | None = None,
                 watermark_delay: str = "1 second") -> DataFrame:
    """W4-W6 entry point: keyed count window over a streaming DataFrame.

    Input: any schema with `key_col` (string-castable) and `value_col`
    (numeric). With `timeout_ms`, `event_time_col` must name the event-time
    timestamp column used for the watermark that drives the window-end timer.
    Output: one row per fired window (COUNT_WINDOW_OUTPUT).
    """
    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    ]
    if timeout_ms is not None:
        if event_time_col is None:
            raise ValueError("timeout_ms requires event_time_col (event-time "
                             "timers are watermark-driven)")
        prepared = df.select(*cols, F.col(event_time_col).alias("_ts")) \
            .withWatermark("_ts", watermark_delay)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        prepared = df.select(*cols)
        timeout = GroupStateTimeout.NoTimeout
    return prepared.groupBy("key").applyInPandasWithState(
        make_count_window_fn(max_count, timeout_ms),
        outputStructType=COUNT_WINDOW_OUTPUT,
        stateStructType=COUNT_WINDOW_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


def count_window_batch(df: DataFrame, key_col: str, value_col: str,
                       max_count: int, order_col: str) -> DataFrame:
    """Batch-mode count window (U4 unified-execution analog): assign each row
    a window_seq = floor(rank/max_count) per key by `order_col`, then
    aggregate. Deterministic given a unique order column; pure built-ins."""
    from pyspark.sql import Window
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w) - 1)
        .withColumn("window_seq", (F.col("_rn") / max_count).cast("bigint"))
        .groupBy(F.col(key_col).alias("key"), "window_seq")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col(value_col).cast("double")).alias("sum_value"),
        )
    )


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor)


class CountWindowProcessor(StatefulProcessor):
    """W4-W6 on the MODERN stateful API (Spark 4.0
    `transformWithStateInPandas` / StatefulProcessor): same
    MyCountTrigger.java:36-71 fire-and-purge semantics as
    `make_count_window_fn`, expressed with named value state and explicit
    event-time timers instead of applyInPandasWithState's single
    timeout slot.

    What the new API buys at scale: multiple independently-named state
    variables (value/list/map) per key with per-state TTL, multiple
    timers, and initial-state bootstrap — the building blocks Flink
    users expect from keyed ProcessFunction. Here the state is one
    (buf_cnt, buf_sum, fired) value — O(1) per key, like the classic
    form. Timers: `registerTimer` ACCUMULATES (unlike
    setTimeoutTimestamp, which replaces), so the previously-armed timer
    is tracked in its own value state and deleted before re-arming —
    otherwise every batch would leave a stale window-end timer behind,
    each firing a spurious partial window."""

    def __init__(self, max_count: int, timeout_ms: int | None = None):
        self._max = max_count
        self._timeout_ms = timeout_ms

    def init(self, handle) -> None:
        self._buf = handle.getValueState(
            "buf", "buf_cnt long, buf_sum double, fired long")
        self._armed = handle.getValueState("armed", "ts long")
        self._handle = handle

    def close(self) -> None:
        pass

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def _state(self):
        v = self._buf.get()
        return (0, 0.0, 0) if v is None else (int(v[0]), float(v[1]),
                                              int(v[2]))

    def handleInputRows(self, key, rows, timerValues):
        new, out, last_ms = _count_fire(key, self._state(), rows, self._max)
        self._buf.update(new)
        if self._timeout_ms is not None:
            prev = self._armed.get()
            if prev is not None:
                self._handle.deleteTimer(int(prev[0]))
            ts = (max(last_ms, timerValues.getCurrentWatermarkInMs())
                  + self._timeout_ms)
            self._handle.registerTimer(ts)
            self._armed.update((ts,))
        if out:
            yield pd.DataFrame(out)

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        self._armed.clear()
        new, out, _ = _count_fire(key, self._state(), None, self._max)
        self._buf.update(new)
        if out:
            yield pd.DataFrame(out)


def count_window_tws(df: DataFrame, key_col: str, value_col: str,
                     max_count: int, timeout_ms: int | None = None,
                     event_time_col: str | None = None,
                     watermark_delay: str = "1 second") -> DataFrame:
    """`count_window` on `transformWithStateInPandas` — identical
    input/output contract (COUNT_WINDOW_OUTPUT rows), so the two forms
    are drop-in interchangeable; the unit suite asserts they produce
    the same windows from the same stream.

    Runtime requirement: transformWithState's Python↔JVM state protocol
    rides protobuf (`google.protobuf` — ships with any real PySpark
    deployment; absent from this CI container, where the e2e test
    auto-skips and the processor logic is unit-tested against fake
    state handles instead)."""
    proc = CountWindowProcessor(max_count, timeout_ms)
    cols = [
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    ]
    if timeout_ms is not None:
        if event_time_col is None:
            raise ValueError("timeout_ms requires event_time_col")
        prepared = df.select(*cols, F.col(event_time_col).alias("_ts")) \
            .withWatermark("_ts", watermark_delay)
        time_mode = "eventTime"
    else:
        prepared = df.select(*cols)
        time_mode = "none"
    return prepared.groupBy("key").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=COUNT_WINDOW_OUTPUT,
        outputMode="append",
        timeMode=time_mode,
    )


def count_window_sliding_batch(df: DataFrame, key_col: str, value_col: str,
                               size: int, slide: int, order_col: str,
                               decimal_exact: bool = False) -> DataFrame:
    """Flink `countWindow(size, slide)` — the SLIDING count window (W4's
    overlapping sibling: CountEvictor keeps the last `size` elements,
    CountTrigger fires every `slide`): per key, a window fires at every
    `slide`-th element and aggregates the most recent `min(size, seen)`
    elements. Batch analog (U4), deterministic given a unique
    `order_col`. Returns (key, window_seq, cnt, sum_value).

    One keyed sort-shuffle; the sliding frame is a ROWS BETWEEN window
    riding it — O(size) state per frame, pure built-ins, no Python.
    `decimal_exact` computes the frame sum in DECIMAL(30,6): sliding
    frames use RETRACTABLE accumulation whose float order differs
    between engines (Spark add/remove vs DuckDB segment tree), so only
    the decimal path is oracle-hashable."""
    from pyspark.sql import Window
    w = Window.partitionBy(key_col).orderBy(order_col)
    frame = w.rowsBetween(-(size - 1), Window.currentRow)
    v = F.col(value_col).cast("decimal(30,6)") if decimal_exact \
        else F.col(value_col).cast("double")
    s = F.sum(v).over(frame)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count("*").over(frame))
        .withColumn("_sum", s.cast("double"))
        .filter(F.col("_rn") % slide == 0)
        .select(
            F.col(key_col).alias("key"),
            (F.col("_rn") / slide - 1).cast("bigint").alias("window_seq"),
            F.col("_cnt").alias("cnt"),
            F.col("_sum").alias("sum_value"))
    )
