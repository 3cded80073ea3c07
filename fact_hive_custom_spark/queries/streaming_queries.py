"""Streaming operators (SURVEY.md §2.2.G) — Structured Streaming.

Queries that can settle deterministically under Trigger.AvailableNow
run as GENUINE streams into a memory sink (tumbling/sliding windows in
complete mode, stateful dedup in append, stream-static join,
applyInPandasWithState); their oracles check the batch-equivalent SQL.
Session windows run the same `session_window` function in batch mode
here (its append-mode streaming behavior needs multi-batch watermark
advancement — exercised with injected late rows in
tests/test_streaming.py, per SURVEY.md §5.4).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fact_hive_custom_spark.queries.registry import register
from fact_hive_custom_spark.streaming.jobs import (
    run_stream_foreach_batch_parquet,
    run_stream_to_memory,
    streaming_events,
)
from fact_hive_custom_spark.tables import load_table


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — genuine streaming run
    (complete mode, AvailableNow). The identical `F.window` expression
    works unchanged in batch; the oracle checks that equivalence."""
    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_stream_to_memory(spark, agg, "q_stream_tumbling", output_mode="complete")


@register(
    "q_stream_sliding",
    oracle="""
    WITH assigned AS (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                   AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM assigned
    GROUP BY window_start, event_type
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): every event lands in 2
    windows. Genuine streaming run in complete mode; both engines'
    windows are :00/:30-aligned so the bucket assignment matches."""
    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "total_value")
    )
    return run_stream_to_memory(spark, agg, "q_stream_sliding", output_mode="complete")


@register(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 10-minute gap (`session_window` — the
    same operator streams with a watermark; see tests/test_streaming.py).
    Oracle is the classic gaps-and-islands rewrite: a new session starts
    only when the gap is strictly greater than the timeout — verified
    empirically: Spark merges an event at exactly previous_ts + gap."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "q_stream_watermark",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed aggregate (30-minute lateness bound), update
    mode.

    Oracle-checkable because the fixture is ONE parquet file driven with
    AvailableNow → exactly one micro-batch, where the initial watermark
    drops nothing and the settled update-mode table equals the batch
    GROUP BY. The semantics batch mode *cannot* express — dropping data
    behind the watermark across micro-batches — is exercised in
    tests/test_streaming.py with injected late rows."""
    ev = streaming_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return run_stream_to_memory(spark, agg, "q_stream_watermark", output_mode="update")


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: first occurrence of each
    (user_id, event_type) passes, duplicates are dropped against the
    dedup state store. Genuine streaming run, append mode. In
    production, pair with a watermark (`dropDuplicatesWithinWatermark`)
    to bound state size."""
    ev = streaming_events(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_stream_to_memory(spark, deduped, "q_stream_dedup", output_mode="append")


@register(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: the event stream enriches against the static
    customer dimension (broadcast per micro-batch — the dimension never
    shuffles), then aggregates in complete mode. Genuine streaming run."""
    ev = streaming_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    agg = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    return run_stream_to_memory(spark, agg, "q_stream_static_join", output_mode="complete")


@register(
    "q_stream_stateful",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful operator via applyInPandasWithState: a running
    per-user event counter held in a GroupState, emitted once per
    micro-batch. Genuine streaming run; the settled count equals the
    batch GROUP BY (max() guards multi-batch re-emission)."""

    def count_events(
        key: tuple, pdfs: Iterator[pd.DataFrame], state
    ) -> Iterator[pd.DataFrame]:
        running = state.get[0] if state.exists else 0
        for pdf in pdfs:
            running += len(pdf)
        state.update((running,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [running]})

    ev = streaming_events(spark, sf_dir)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    settled = run_stream_to_memory(spark, counted, "q_stream_stateful", output_mode="append")
    return settled.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id, COUNT(*) AS n_pairs, ROUND(SUM(v.value), 4) AS view_value
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL '1 hour' AND v.ts <= c.ts
    WHERE c.event_type = 'click' AND v.event_type = 'view'
    GROUP BY c.user_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream watermarked interval join: clicks ⋈ views per user,
    the view at most 1 hour before the click (the canonical attribution
    join). Both sides are watermarked (30 min) and the join condition
    bounds event time on BOTH sides, so state for either stream is
    purged once the combined watermark passes the interval — bounded
    state at 100 TB. Two independent readStream sources stand in for
    two topics. Genuine streaming run, append mode; the inner interval
    join emits each pair exactly once under AvailableNow, so the
    settled table aggregates to the batch-join oracle. Cross-batch
    late-drop semantics (not batch-expressible) are exercised in
    tests/test_streaming.py::TestStreamStreamJoin."""
    clicks = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "30 minutes")
    )
    views = (
        streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"), "value")
        .withWatermark("view_ts", "30 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("click_ts")),
    )
    settled = run_stream_to_memory(
        spark, joined, "q_stream_stream_join", output_mode="append"
    )
    return settled.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("value"), 4).alias("view_value"),
    )


@register(
    "q_stream_sink_modes",
    oracle="""
    SELECT COUNT(*) AS memory_rows_total, COUNT(*) AS foreach_batch_rows
    FROM events
    """,
)
def q_stream_sink_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output modes + sinks: the same counting query lands in (a) a
    memory sink in complete mode and (b) a parquet directory via
    foreachBatch (idempotent-append — the exactly-once pattern).
    Both sinks must have seen every event exactly once, so both counts
    equal COUNT(*) of the source — which is the oracle.

    The parquet out_dir is uuid-suffixed (concurrent runs never
    interleave) and its count enters the returned plan as a lazy scan
    cross-joined in, not a driver-side collected literal."""
    import os
    import tempfile
    import uuid

    out_dir = os.path.join(
        tempfile.gettempdir(),
        "fact_hive_custom_spark_stage",
        f"feb_parquet_{uuid.uuid4().hex[:8]}",
    )

    events = streaming_events(spark, sf_dir)
    mem = run_stream_to_memory(
        spark,
        events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "q_stream_sink_modes",
        output_mode="complete",
    )
    run_stream_foreach_batch_parquet(spark, events, out_dir)
    parquet_rows = spark.read.schema(events.schema).parquet(out_dir).agg(
        F.count(F.lit(1)).alias("foreach_batch_rows")
    )
    return mem.agg(F.sum("n").alias("memory_rows_total")).crossJoin(parquet_rows)


# NOT registered: transformWithStateInPandas (Spark 4.0 StatefulProcessor,
# the successor API to applyInPandasWithState) is environment-blocked here —
# its state-server protocol needs google.protobuf, which this sandbox lacks
# (verified: the TWS driver worker crashes on `from google.protobuf import
# descriptor`; re-probed 2026-08-14, 2026-08-15, 2026-08-16 at round-12
# close AND again 2026-08-16 round-13: still ModuleNotFoundError; next
# re-probe due 2026-09).
# Arbitrary stateful streaming is covered by q_stream_stateful
# (applyInPandasWithState); the TWS port is mechanical when protobuf exists:
# a StatefulProcessor with handle.getValueState + RocksDB state store
# provider (the HDFS-backed default does not support TWS).


@register(
    "q_stream_cdc_upsert",
    oracle="""
    SELECT user_id, event_type AS last_type, value AS last_value,
           epoch_us(ts) AS last_us
    FROM events
    QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def q_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply loop: the event stream is staged into four
    files and consumed one file per micro-batch (maxFilesPerTrigger=1);
    every batch MERGEs its latest-per-key rows into a parquet-backed
    state table inside foreachBatch (compact batch → union with state →
    keep max (ts, event_id) per key → atomic swap via write-new +
    rename). The final state must equal "latest event per user" over
    the whole feed — the oracle — REGARDLESS of how events were split
    across batches, which is exactly the out-of-order-safe CDC-upsert
    contract.

    This is the poor-man's-Delta MERGE: on a lakehouse table the
    write-new+rename swap becomes an ACID commit (documented
    out-of-sandbox in operators/merge.py); state size is one row per
    key, batch cost is one shuffle of (key, version) pairs.
    """
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import types as T

    run_id = uuid.uuid4().hex[:8]
    base = os.path.join(tempfile.gettempdir(), "fact_hive_custom_spark_stage")
    stage_dir = os.path.join(base, f"cdc_src_{run_id}")
    state_dir = os.path.join(base, f"cdc_state_{run_id}")

    # Stage through the normalized batch reader (load_table handles
    # whichever ts encoding the fixture ships) so the CDC feed has a
    # FIXED layout — `us` epoch-micros long — independent of the source.
    (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .repartition(4)
        .write.mode("overwrite")
        .parquet(stage_dir)
    )

    staged_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("us", T.LongType(), True),
        ]
    )
    ev = (
        spark.readStream.schema(staged_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )

    from fact_hive_custom_spark.operators.merge import cdc_latest

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        state = (
            spark.read.schema(staged_schema).parquet(state_dir)
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

    checkpoint = os.path.join(base, f"cdc_ckpt_{run_id}")
    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    return spark.read.schema(staged_schema).parquet(state_dir).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
        F.col("us").alias("last_us"),
    )


@register(
    "q_stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    keeps a key's state only until the watermark passes its event time,
    so the dedup state store is bounded by the delay window instead of
    growing forever — the production counterpart of q_stream_dedup's
    unbounded dropDuplicates.

    The 365-day delay provably covers the fixture's whole event span,
    so the settled output equals plain DISTINCT (the oracle) while the
    state-expiry machinery is genuinely engaged. At 100 TB the delay is
    the dedup-correctness horizon the pipeline owner chooses (e.g.
    48 h for at-least-once upstreams), and state stays O(keys within
    horizon)."""
    ev = streaming_events(spark, sf_dir)
    deduped = (
        ev.select("user_id", "event_type", "ts")
        .withWatermark("ts", "365 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_stream_to_memory(
        spark, deduped, "q_stream_dedup_wm", output_mode="append"
    )


@register(
    "q_stream_topk_windowed",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n
    FROM counts
    QUALIFY row_number() OVER (
        PARTITION BY window_start ORDER BY n DESC, event_type) <= 3
    """,
)
def q_stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per tumbling hour, streaming: the windowed
    counts run as a GENUINE stream (complete mode, AvailableNow —
    ranking is not stream-expressible because a window function over
    an updating aggregate has no incremental form), then the rank runs
    as a batch pass over the settled memory-sink state — exactly how
    a live "trending now" dashboard ranks its materialized view on
    every refresh.

    At 100 TB-rate streams the stateful half is the windowed count
    (state = |windows|×|types| rows, watermark-evictable); the rank
    half touches only that state, never the firehose. The (n DESC,
    event_type) tiebreak makes top-3 deterministic on both engines."""
    ev = streaming_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    settled = run_stream_to_memory(
        spark, agg, "q_stream_topk_windowed", output_mode="complete"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        settled.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "q_stream_chained_windows",
    oracle="""
    WITH sub AS (
        SELECT time_bucket(INTERVAL '10 minutes', ts) AS w10,
               CAST(COUNT(*) AS BIGINT) AS n10
        FROM events GROUP BY 1
    ),
    hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', w10) AS window_start,
               CAST(SUM(n10) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_subwindows
        FROM sub GROUP BY 1
    )
    SELECT window_start, n, n_subwindows
    FROM hourly
    WHERE window_start + INTERVAL '1 hour' <= (SELECT max(ts) FROM events)
    """,
)
def q_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming window aggregations — two stateful operators
    in one streaming query (10-minute tumbling counts rolled up into
    hourly totals), the multi-stateful-operator capability Spark
    gained in 3.4 (unsupported before; still append-mode-only). This
    is the streaming form of the pre-aggregation rollup every metrics
    pipeline wants: the second level consumes the first level's
    window column as its event time.

    Watermark semantics ARE the oracle contract: in append mode a
    window emits only once the watermark (max event time, 0 s delay)
    passes its end, so the hourly window containing the stream's last
    event never finalizes — the oracle mirrors that exactly with
    `window_end ≤ max(ts)` (719 of 720 hours on the fixture). The
    n_subwindows column certifies the chaining (each hour aggregates
    its ≤6 ten-minute children, not raw rows).

    Scale: level 1 collapses the corpus to 10-minute partials before
    level 2 ever runs — the state store holds |open windows| rows per
    level, independent of corpus rate; at 100 TB/day this is the
    standard two-tier rollup that keeps the wide window's state tiny."""
    ev = streaming_events(spark, sf_dir).withWatermark("ts", "0 seconds")
    lvl1 = ev.groupBy(F.window("ts", "10 minutes")).agg(
        F.count(F.lit(1)).alias("n10")
    )
    lvl2 = (
        lvl1.groupBy(F.window(F.col("window"), "1 hour"))
        .agg(
            F.sum("n10").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_subwindows"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "n_subwindows")
    )
    return run_stream_to_memory(
        spark, lvl2, "q_stream_chained_windows", output_mode="append"
    )
