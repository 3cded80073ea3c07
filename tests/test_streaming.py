"""Genuine streaming-semantics tests (SURVEY.md §5.4): watermark
late-data dropping, cross-batch stateful dedup, session windows over
micro-batches. These cannot be oracle-checked (batch SQL has no notion
of lateness) — the driver records rows-only for q_stream_watermark;
the real assertions live here.

Technique: a file-source stream over a temp dir with
maxFilesPerTrigger=1; writing one parquet file per micro-batch and
calling processAllAvailable() between writes gives deterministic
batch boundaries, so the watermark advances exactly where the test
says it does.
"""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("val", T.LongType(), True),
    ]
)


def _t(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


class _StreamHarness:
    def __init__(self, spark):
        self.spark = spark
        root = os.path.join(tempfile.gettempdir(), f"fhcs_stream_{uuid.uuid4().hex[:8]}")
        self.src = os.path.join(root, "src")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src)
        self.n = 0
        self.query = None
        self.table = f"stream_out_{uuid.uuid4().hex[:8]}"

    def start(self, transform, output_mode):
        stream = (
            self.spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = (
            transform(stream)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(self.table)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        return self

    def feed(self, rows):
        """One micro-batch: land one flat parquet file in the watched dir
        (the source ignores nested subdirectories), let the stream drain."""
        import glob

        self.n += 1
        df = self.spark.createDataFrame(rows, schema=SCHEMA)
        stage = os.path.join(os.path.dirname(self.src), f"stage_{self.n}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(self.src, f"batch_{self.n}.parquet"))
        self.query.processAllAvailable()

    def result(self):
        return self.spark.table(self.table)

    def stop(self):
        if self.query:
            self.query.stop()


@pytest.fixture()
def harness(spark):
    h = _StreamHarness(spark)
    yield h
    h.stop()


_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider",
}


@pytest.fixture(params=sorted(_PROVIDERS))
def state_provider(request, spark):
    """Run a stateful-streaming test under BOTH state store backends
    (round-15 verdict item 6): the in-memory HDFSBacked default the
    suite always used, and RocksDB — the production backend at 100 TB
    state sizes (bounded executor memory, native spill, changelog
    checkpointing), stock Spark (rocksdbjni ships in pyspark/jars).
    The provider is pinned for the WHOLE test (both the pre-kill and
    the resumed query read it), matching the operational rule that a
    checkpoint's provider never changes mid-stream."""
    try:
        old = spark.conf.get(_PROVIDER_CONF)
    except Exception:
        old = None
    spark.conf.set(_PROVIDER_CONF, _PROVIDERS[request.param])
    yield request.param
    if old is None:
        spark.conf.unset(_PROVIDER_CONF)
    else:
        spark.conf.set(_PROVIDER_CONF, old)


class TestWatermarkLateData:
    def test_late_rows_behind_watermark_are_dropped(self, spark, harness):
        def agg(stream):
            return (
                stream.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "1 hour"), "key")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("window.start").alias("wstart"), "key", "n")
            )

        harness.start(agg, "append")
        # batch 1: two on-time events; watermark after batch = 11:00 - 30m = 10:30
        harness.feed([(_t(10, 5), "A", 1), (_t(11, 0), "A", 2)])
        # batch 2: a LATE event at 09:00 (window end 10:00 < watermark 10:30 → drop)
        # plus an on-time 11:30 event that will push the watermark to 11:00
        harness.feed([(_t(9, 0), "A", 3), (_t(11, 30), "A", 4)])
        # batch 3: advance watermark past 12:30 so all on-time windows flush
        harness.feed([(_t(13, 30), "A", 5)])
        harness.feed([(_t(15, 0), "A", 6)])

        rows = {(r.wstart.hour, r.n) for r in harness.result().collect()}
        assert (9, 1) not in rows, f"late 09:00 row must be dropped, got {rows}"
        assert (10, 1) in rows, f"10:00 window should hold only the on-time event: {rows}"
        assert (11, 2) in rows, f"11:00 window: 11:00 and 11:30 events: {rows}"

    def test_same_rows_without_watermark_all_counted(self, spark, harness):
        """Control: complete mode without watermark keeps the late row."""

        def agg(stream):
            return (
                stream.groupBy(F.window("ts", "1 hour"), "key")
                .agg(F.count(F.lit(1)).alias("n"))
                .select(F.col("window.start").alias("wstart"), "key", "n")
            )

        harness.start(agg, "complete")
        harness.feed([(_t(10, 5), "A", 1), (_t(11, 0), "A", 2)])
        harness.feed([(_t(9, 0), "A", 3), (_t(11, 30), "A", 4)])
        rows = {(r.wstart.hour, r.n) for r in harness.result().collect()}
        assert (9, 1) in rows, f"without watermark the 09:00 row must survive: {rows}"


class TestStatefulDedupAcrossBatches:
    def test_duplicate_in_later_batch_is_dropped(self, spark, harness):
        def dedup(stream):
            return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["val"])

        harness.start(dedup, "append")
        harness.feed([(_t(10), "A", 100), (_t(10, 10), "B", 101)])
        # same val=100 again in a later batch, within the watermark window
        harness.feed([(_t(10, 20), "C", 100), (_t(10, 30), "D", 102)])
        vals = [r.val for r in harness.result().collect()]
        assert sorted(vals) == [100, 101, 102], f"dup of 100 must be dropped: {vals}"
        keys = {r.key for r in harness.result().collect() if r.val == 100}
        assert keys == {"A"}, "the FIRST occurrence wins"


class _TwoStreamHarness:
    """Two file-source streams joined into one memory sink — the
    stream–stream analogue of _StreamHarness. feed_left/feed_right land
    one parquet file each; processAllAvailable() drains BOTH sources, so
    each feed is one deterministic micro-batch per side."""

    def __init__(self, spark):
        self.spark = spark
        root = os.path.join(tempfile.gettempdir(), f"fhcs_ss_{uuid.uuid4().hex[:8]}")
        self.left_src = os.path.join(root, "left")
        self.right_src = os.path.join(root, "right")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.left_src)
        os.makedirs(self.right_src)
        self.n = 0
        self.query = None
        self.table = f"ss_out_{uuid.uuid4().hex[:8]}"

    def start(self, join_fn, output_mode="append"):
        def src(path):
            return (
                self.spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(path)
            )

        self.query = (
            join_fn(src(self.left_src), src(self.right_src))
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(self.table)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        return self

    def _feed(self, src_dir, rows):
        import glob

        self.n += 1
        df = self.spark.createDataFrame(rows, schema=SCHEMA)
        stage = os.path.join(os.path.dirname(self.ckpt), f"stage_{self.n}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src_dir, f"batch_{self.n}.parquet"))
        self.query.processAllAvailable()

    def feed_left(self, rows):
        self._feed(self.left_src, rows)

    def feed_right(self, rows):
        self._feed(self.right_src, rows)

    def result(self):
        return self.spark.table(self.table)

    def stop(self):
        if self.query:
            self.query.stop()


@pytest.fixture()
def two_stream(spark):
    h = _TwoStreamHarness(spark)
    yield h
    h.stop()


class TestStreamStreamJoin:
    @staticmethod
    def _interval_join(left, right):
        l = (
            left.select(F.col("key").alias("l_key"), F.col("ts").alias("l_ts"), "val")
            .withWatermark("l_ts", "30 minutes")
        )
        r = (
            right.select(F.col("key").alias("r_key"), F.col("ts").alias("r_ts"),
                         F.col("val").alias("r_val"))
            .withWatermark("r_ts", "30 minutes")
        )
        return l.join(
            r,
            (F.col("l_key") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("r_ts") <= F.col("l_ts")),
        )

    def test_in_window_pair_emitted_across_batches(self, spark, two_stream):
        two_stream.start(self._interval_join)
        two_stream.feed_left([(_t(12, 0), "A", 1)])
        # right row arrives in a LATER batch but inside the 1h window
        two_stream.feed_right([(_t(11, 50), "A", 2)])
        pairs = [(r.val, r.r_val) for r in two_stream.result().collect()]
        assert pairs == [(1, 2)], f"cross-batch in-window pair must join: {pairs}"

    def test_out_of_interval_never_joins(self, spark, two_stream):
        two_stream.start(self._interval_join)
        # right row 2h BEFORE the click — outside the interval
        two_stream.feed_left([(_t(12, 0), "A", 1)])
        two_stream.feed_right([(_t(10, 0), "A", 2)])
        assert two_stream.result().count() == 0

    def test_left_outer_emits_null_extension_after_watermark(self, spark, two_stream):
        """Outer stream-stream join: an unmatched left row may only be
        emitted null-extended once the watermark proves no future right
        row can still match — before that it sits in state, silent."""

        def outer_join(left, right):
            l = (
                left.select(F.col("key").alias("l_key"), F.col("ts").alias("l_ts"), "val")
                .withWatermark("l_ts", "30 minutes")
            )
            r = (
                right.select(F.col("key").alias("r_key"), F.col("ts").alias("r_ts"),
                             F.col("val").alias("r_val"))
                .withWatermark("r_ts", "30 minutes")
            )
            return l.join(
                r,
                (F.col("l_key") == F.col("r_key"))
                & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
                & (F.col("r_ts") <= F.col("l_ts")),
                "left_outer",
            )

        two_stream.start(outer_join)
        # a click with no view, and one with a matching view
        two_stream.feed_left([(_t(12, 0), "A", 1), (_t(12, 0), "B", 2)])
        two_stream.feed_right([(_t(11, 50), "B", 3)])
        matched = {(r.val, r.r_val) for r in two_stream.result().collect()}
        assert (2, 3) in matched
        # the unmatched A row must NOT be emitted yet — its window is open
        assert (1, None) not in matched
        # advance both watermarks far past 12:00 + 1h + 30m slack
        two_stream.feed_left([(_t(16, 0), "Z", 9)])
        two_stream.feed_right([(_t(16, 0), "Z", 9)])
        final = {(r.val, r.r_val) for r in two_stream.result().collect()}
        assert (1, None) in final, f"null-extended row must flush: {final}"

    def test_late_row_behind_watermark_dropped(self, spark, two_stream):
        two_stream.start(self._interval_join)
        two_stream.feed_left([(_t(12, 0), "A", 1)])
        two_stream.feed_right([(_t(11, 50), "A", 2)])
        # advance BOTH watermarks far past the join window (combined
        # watermark = min(left, right); 16:00 - 30m = 15:30 ≫ 12:00+1h)
        two_stream.feed_left([(_t(16, 0), "Z", 9)])
        two_stream.feed_right([(_t(16, 0), "Z", 9)])
        # a late right row that WOULD match 12:00 but is behind the
        # watermark: state for that interval is purged → no new pair
        two_stream.feed_right([(_t(11, 55), "A", 3)])
        pairs = sorted((r.val, r.r_val) for r in two_stream.result().collect())
        assert (1, 3) not in pairs, f"late row behind watermark must drop: {pairs}"
        assert (1, 2) in pairs


class TestSessionWindowStreaming:
    def test_sessions_emitted_after_watermark_passes(self, spark, harness):
        def sessions(stream):
            return (
                stream.withWatermark("ts", "10 minutes")
                .groupBy("key", F.session_window("ts", "15 minutes"))
                .agg(F.count(F.lit(1)).alias("n"))
                .select("key", F.col("session_window.start").alias("s"), "n")
            )

        harness.start(sessions, "append")
        # one session: 10:00, 10:10 (gap 10m < 15m); a second session at 11:00
        harness.feed([(_t(10), "A", 1), (_t(10, 10), "A", 2)])
        harness.feed([(_t(11, 0), "A", 3)])
        # push watermark far past both sessions so they finalize
        harness.feed([(_t(13, 0), "A", 4)])
        harness.feed([(_t(15, 0), "A", 5)])
        got = {(r.s.hour, r.s.minute, r.n) for r in harness.result().collect()}
        assert (10, 0, 2) in got, f"merged 2-event session expected: {got}"
        assert (11, 0, 1) in got, f"singleton session expected: {got}"


class TestCdcUpsert:
    def test_out_of_order_batch_never_regresses_state(self, spark):
        """cdc_latest is last-writer-wins by the ORDER columns, not by
        arrival: a later batch carrying an older event must lose to the
        state row, and a genuinely newer event must replace it."""
        from fact_hive_custom_spark.operators.merge import cdc_latest

        schema = "user_id long, event_id long, event_type string, us long"
        b1 = spark.createDataFrame(
            [(1, 10, "new", 100), (2, 11, "only", 40)], schema
        )
        b2 = spark.createDataFrame(
            [(1, 5, "stale", 50), (2, 12, "newer", 60)], schema
        )
        state = cdc_latest(None, b1, key=["user_id"], order_by=["us", "event_id"])
        state = cdc_latest(state, b2, key=["user_id"], order_by=["us", "event_id"])
        got = {(r.user_id, r.event_type, r.us) for r in state.collect()}
        assert got == {(1, "new", 100), (2, "newer", 60)}

    def test_equal_ts_breaks_on_later_order_column(self, spark):
        from fact_hive_custom_spark.operators.merge import cdc_latest

        schema = "user_id long, event_id long, event_type string, us long"
        b = spark.createDataFrame(
            [(1, 7, "lo", 100), (1, 9, "hi", 100)], schema
        )
        state = cdc_latest(None, b, key=["user_id"], order_by=["us", "event_id"])
        rows = state.collect()
        assert len(rows) == 1 and rows[0].event_type == "hi"


class TestCheckpointRestartRecovery:
    """Exactly-once across a PROCESS-level restart: a streaming dedup
    query is stopped cold and a brand-new query object resumes from
    the same checkpoint — the dedup state and committed offsets must
    survive, so a key first seen before the restart is still a
    duplicate after it, and nothing is re-emitted."""

    def test_dedup_state_survives_restart(self, spark, tmp_path, state_provider):
        import glob

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        os.makedirs(src)

        def start_query():
            stream = (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            return (
                stream.dropDuplicates(["key"])
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start()
            )

        n_fed = 0

        def feed(query, rows):
            nonlocal n_fed
            n_fed += 1
            df = spark.createDataFrame(rows, schema=SCHEMA)
            stage = str(tmp_path / f"stage_{n_fed}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"batch_{n_fed}.parquet"))
            query.processAllAvailable()

        q1 = start_query()
        feed(q1, [(_t(10), "k1", 1), (_t(10, 5), "k2", 2)])
        q1.stop()  # cold stop — no graceful drain beyond the batch

        # a NEW query object on the same checkpoint: k2 must still be
        # remembered as seen, k3 is new
        q2 = start_query()
        feed(q2, [(_t(11), "k2", 3), (_t(11, 5), "k3", 4)])
        q2.stop()

        out = spark.read.schema(SCHEMA).parquet(sink)
        rows = {(r["key"], r["val"]) for r in out.collect()}
        assert rows == {("k1", 1), ("k2", 2), ("k3", 4)}, rows
        assert out.count() == 3  # k2 emitted exactly once, pre-restart


@pytest.mark.slow
class TestChainedWindowsRestartRecovery:
    """Kill-and-resume for the TWO-stateful-operator chain
    (q_stream_chained_windows's 10-min window -> hourly rollup): a
    cold stop mid-stream and a brand-new query object on the same
    checkpoint must recover BOTH levels' state stores — pre-restart
    sub-window partials must merge with post-restart events into the
    same hourly rows a single uninterrupted run (the batch oracle)
    produces, with nothing re-emitted and nothing double-counted.
    State-store schema compatibility across restarts is exactly where
    multi-stateful-operator streaming breaks in production."""

    def _chained(self, spark, src):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        lvl1 = stream.groupBy(F.window("ts", "10 minutes")).agg(
            F.count(F.lit(1)).alias("n10")
        )
        return (
            lvl1.groupBy(F.window(F.col("window"), "1 hour"))
            .agg(
                F.sum("n10").cast("bigint").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("n_subwindows"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "n",
                "n_subwindows",
            )
        )

    def test_chained_windows_state_survives_restart(self, spark, tmp_path, state_provider):
        import glob

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        os.makedirs(src)

        def start_query():
            return (
                self._chained(spark, src)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start()
            )

        n_fed = 0
        fed: list[tuple] = []

        def feed(query, rows):
            nonlocal n_fed
            n_fed += 1
            fed.extend(rows)
            df = spark.createDataFrame(rows, schema=SCHEMA)
            stage = str(tmp_path / f"stage_{n_fed}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"batch_{n_fed}.parquet"))
            query.processAllAvailable()

        q1 = start_query()
        # hour 10: two sub-windows (10:00/10:05 share one, 10:25 its
        # own); hour 11 opens with one event — its state must survive.
        feed(q1, [(_t(10), "a", 1), (_t(10, 5), "a", 1), (_t(10, 25), "a", 1), (_t(11, 15), "a", 1)])
        # second batch: watermark from batch 1 (11:15) has passed hour
        # 10's end, so its row finalizes HERE, pre-restart; hour 11
        # accumulates two more sub-windows of open state.
        feed(q1, [(_t(11, 35), "a", 1), (_t(11, 45), "a", 1)])
        q1.stop()  # cold stop — two operators' state + offsets on disk

        pre = spark.read.parquet(sink)
        pre_rows = {
            (r.window_start, r.n, r.n_subwindows) for r in pre.collect()
        }
        assert pre_rows == {(_t(10), 3, 2)}, pre_rows  # hour 10 settled pre-restart

        # NEW query object, same checkpoint: both levels must resume.
        q2 = start_query()
        # hour 11 gains its fourth sub-window post-restart; the flush
        # event advances the watermark past hour 11's end...
        feed(q2, [(_t(11, 55), "a", 1), (_t(13, 30), "a", 1)])
        # ...and one more batch lets the append-mode emission happen
        # (windows finalize against the PREVIOUS batch's watermark).
        feed(q2, [(_t(13, 40), "a", 1)])
        q2.stop()

        out = spark.read.parquet(sink)
        got = {(r.window_start, r.n, r.n_subwindows) for r in out.collect()}

        # single-run batch oracle over everything fed, with the same
        # append-mode finalization contract (window end <= max ts)
        all_df = spark.createDataFrame(fed, schema=SCHEMA)
        max_ts = all_df.agg(F.max("ts")).collect()[0][0]
        oracle = {
            (r.window_start, r.n, r.n_subwindows)
            for r in (
                all_df.groupBy(F.window("ts", "10 minutes"))
                .agg(F.count(F.lit(1)).alias("n10"))
                .groupBy(F.window(F.col("window"), "1 hour"))
                .agg(
                    F.sum("n10").cast("bigint").alias("n"),
                    F.count(F.lit(1)).cast("bigint").alias("n_subwindows"),
                )
                .select(
                    F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "n",
                    "n_subwindows",
                )
                .filter(F.col("window_end") <= F.lit(max_ts))
                .collect()
            )
        }
        assert oracle == {(_t(10), 3, 2), (_t(11), 4, 4)}  # fixture sanity
        assert got == oracle, (got, oracle)
        # exactly-once: the pre-restart hour was NOT re-emitted, and
        # hour 11 merged pre+post state into ONE row
        assert out.count() == 2, out.collect()


@pytest.mark.slow
class TestStreamStreamJoinRestartRecovery:
    """Kill-and-resume for the stream–stream interval join (VERDICT
    r12 item 3): a cold stop with UNMATCHED left rows still in the
    join state store, then a brand-new query object on the same
    checkpoint — the post-restart right row must join against the
    pre-restart left state, nothing re-emits, and the settled sink
    equals the single-run batch oracle (the same interval join run as
    one batch over everything fed)."""

    @staticmethod
    def _interval_join(left, right):
        l = (
            left.select(F.col("key").alias("l_key"), F.col("ts").alias("l_ts"), "val")
            .withWatermark("l_ts", "30 minutes")
        )
        r = (
            right.select(F.col("key").alias("r_key"), F.col("ts").alias("r_ts"),
                         F.col("val").alias("r_val"))
            .withWatermark("r_ts", "30 minutes")
        )
        return l.join(
            r,
            (F.col("l_key") == F.col("r_key"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("r_ts") <= F.col("l_ts")),
        ).select("l_key", "val", "r_val")

    def test_join_state_survives_restart(self, spark, tmp_path, state_provider):
        import glob

        left_src = str(tmp_path / "left")
        right_src = str(tmp_path / "right")
        ckpt = str(tmp_path / "ckpt")
        sink = str(tmp_path / "sink")
        os.makedirs(left_src)
        os.makedirs(right_src)

        def start_query():
            def src(path):
                return (
                    spark.readStream.schema(SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(path)
                )

            return (
                self._interval_join(src(left_src), src(right_src))
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .start()
            )

        n = 0
        fed_left: list[tuple] = []
        fed_right: list[tuple] = []

        def feed(query, src_dir, fed, rows):
            nonlocal n
            n += 1
            fed.extend(rows)
            df = spark.createDataFrame(rows, schema=SCHEMA)
            stage = str(tmp_path / f"stage_{n}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src_dir, f"batch_{n}.parquet"))
            query.processAllAvailable()

        q1 = start_query()
        # A matches pre-restart; B's left row goes INTO STATE unmatched
        feed(q1, left_src, fed_left, [(_t(12, 0), "A", 1), (_t(12, 30), "B", 2)])
        feed(q1, right_src, fed_right, [(_t(11, 50), "A", 10)])
        q1.stop()  # cold stop — B sits in the left state store

        pre = spark.read.schema(
            T.StructType(
                [
                    T.StructField("l_key", T.StringType()),
                    T.StructField("val", T.LongType()),
                    T.StructField("r_val", T.LongType()),
                ]
            )
        ).parquet(sink)
        assert {(r.l_key, r.val, r.r_val) for r in pre.collect()} == {("A", 1, 10)}

        # NEW query object on the same checkpoint: B's match arrives now
        q2 = start_query()
        feed(q2, right_src, fed_right, [(_t(12, 10), "B", 20)])
        # C pairs entirely post-restart (both sides fresh)
        feed(q2, left_src, fed_left, [(_t(13, 0), "C", 3)])
        feed(q2, right_src, fed_right, [(_t(12, 40), "C", 30)])
        q2.stop()

        out = spark.read.parquet(sink)
        got = sorted((r.l_key, r.val, r.r_val) for r in out.collect())

        # single-run batch oracle: the same interval join over ALL rows
        l = spark.createDataFrame(fed_left, schema=SCHEMA).select(
            F.col("key").alias("l_key"), F.col("ts").alias("l_ts"), "val"
        )
        r = spark.createDataFrame(fed_right, schema=SCHEMA).select(
            F.col("key").alias("r_key"), F.col("ts").alias("r_ts"),
            F.col("val").alias("r_val"),
        )
        oracle = sorted(
            (row.l_key, row.val, row.r_val)
            for row in l.join(
                r,
                (F.col("l_key") == F.col("r_key"))
                & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR"))
                & (F.col("r_ts") <= F.col("l_ts")),
            ).collect()
        )
        assert oracle == [("A", 1, 10), ("B", 2, 20), ("C", 3, 30)]  # sanity
        assert got == oracle, (got, oracle)  # == also proves no re-emission


@pytest.mark.slow
class TestCdcUpsertRestartRecovery:
    """Kill-and-resume for the foreachBatch CDC-upsert loop (VERDICT
    r12 item 3): cold-stop the apply loop mid-feed, resume on the same
    checkpoint, and the settled state table must equal latest-per-key
    over the WHOLE feed. foreachBatch replays its last epoch after a
    restart — the merge must be idempotent for exactly-once state, and
    cdc_latest (last-writer-wins by (us, event_id)) is; this test is
    the proof that survives a real restart, not just the unit claim."""

    def test_cdc_state_survives_restart(self, spark, tmp_path, state_provider):
        import glob

        from fact_hive_custom_spark.operators.merge import cdc_latest

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        state_dir = str(tmp_path / "state")
        os.makedirs(src)
        schema = T.StructType(
            [
                T.StructField("user_id", T.LongType()),
                T.StructField("event_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("us", T.LongType()),
            ]
        )

        def apply_batch(batch_df, epoch_id):
            state = (
                spark.read.parquet(state_dir)
                if os.path.isdir(state_dir)
                else None
            )
            new_state = cdc_latest(
                state, batch_df, key=["user_id"], order_by=["us", "event_id"]
            )
            tmp = f"{state_dir}_next_{epoch_id}"
            new_state.write.mode("overwrite").parquet(tmp)
            if os.path.isdir(state_dir):
                shutil.rmtree(state_dir)
            os.rename(tmp, state_dir)

        def start_query():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .start()
            )

        n = 0
        fed: list[tuple] = []

        def feed(query, rows):
            nonlocal n
            n += 1
            fed.extend(rows)
            df = spark.createDataFrame(rows, schema=schema)
            stage = str(tmp_path / f"stage_{n}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            shutil.move(part, os.path.join(src, f"batch_{n}.parquet"))
            query.processAllAvailable()

        q1 = start_query()
        feed(q1, [(1, 10, "a", 100), (2, 11, "b", 40)])
        feed(q1, [(1, 12, "c", 90)])  # older us → must NOT win
        q1.stop()  # cold stop between epochs

        # restart on the same checkpoint; feed an out-of-order mix:
        # user 2 advances, user 3 appears, user 1 gets a STALE row
        q2 = start_query()
        feed(q2, [(2, 13, "d", 60), (3, 14, "e", 10), (1, 9, "f", 50)])
        q2.stop()

        got = {
            (r.user_id, r.event_type, r.us)
            for r in spark.read.parquet(state_dir).collect()
        }
        # single-run oracle: latest per key by (us, event_id) over all
        all_df = spark.createDataFrame(fed, schema=schema)
        from pyspark.sql import Window

        latest = (
            all_df.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.desc("us"), F.desc("event_id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        oracle = {(r.user_id, r.event_type, r.us) for r in latest.collect()}
        assert oracle == {(1, "a", 100), (2, "d", 60), (3, "e", 10)}  # sanity
        assert got == oracle, (got, oracle)
