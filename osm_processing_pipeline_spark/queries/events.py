"""Event queries: tumbling windows, streaming first-seen and watermarked late
windows.  Each builder sits beside its DuckDB twin."""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import world
from .shared import register


# --------------------------------------------------------------------- q25
@register("q25_events_tumbling", """
SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS BIGINT) AS hour_bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(floor(value * 1000.0e0) AS BIGINT)) AS BIGINT) AS sum_value_milli
FROM events
GROUP BY 1, 2""")
def q25_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation (the batch twin of the streaming
    windowed agg in streaming/jobs.py)."""
    from ..streaming.jobs import event_sums

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events, sum_value_milli = event_sums()
    return (
        e.groupBy(
            F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hour_bucket"),
            "event_type")
        .agg(n_events, F.countDistinct("user_id").cast("long").alias("n_users"),
             sum_value_milli)
    )


# --------------------------------------------------------------------- q50
_SINK_SEQ = itertools.count(1)


def _sink_name(query: str, sf_dir: str) -> str:
    """A memory-sink table name for a streaming query over ``sf_dir``,
    unique per call: sink names must be identifiers, and repeated runs may
    share one session."""
    key = "".join(c if c.isalnum() else "_" for c in world.cache_key(sf_dir))
    return f"{query}_sink_{key}_{next(_SINK_SEQ)}"


def _q50_sql() -> str:
    return """
SELECT user_id, epoch_us(ts) AS first_ts_us, event_type AS first_event
FROM (
  SELECT user_id, ts, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_type) AS rn
  FROM events
) WHERE rn = 1"""


@register("q50_streaming_first_seen", _q50_sql())
def q50_streaming_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful STREAMING aggregation as a graded row: first-seen per user
    over a bounded multi-file stream (one file per micro-batch, state carried
    across batches in Spark's state store; streaming/stateful.py).  The
    events are staged by ``event_id % N_BATCHES``, so every user's events
    spread over the batches and the first-seen state really merges across
    them.  The streamed result equals the batch min per key exactly, so it
    has a full SQL oracle — the streaming==batch methodology made
    hash-checked."""
    from ..streaming import jobs as SJ, stateful

    stage = SJ.stage_batches(spark, sf_dir, "events_by_event",
                             F.col("event_id") % SJ.N_BATCHES)
    out = stateful.run_first_seen_available_now(
        spark, stage, sink_table=_sink_name("q50", sf_dir))
    return out.select("user_id",
                      F.unix_micros("first_ts").alias("first_ts_us"),
                      "first_event")


# --------------------------------------------------------------------- q54
def _q54_sql() -> str:
    from ..streaming import jobs as SJ
    nb1 = SJ.N_BATCHES - 1
    return f"""
WITH e AS (
  SELECT event_id, epoch_us(ts) AS tus,
         CAST(floor(epoch(ts)) AS BIGINT) AS tsec, event_type,
         CAST(floor(value * 1000.0e0) AS BIGINT) AS vmilli
  FROM events),
eb AS (
  SELECT e.*, CASE WHEN event_id % {SJ.LATE_STRAGGLER_MOD} = 0
       THEN LEAST({nb1}, LEAST({nb1},
            (tsec - {SJ.LATE_EPOCH0_S}) // {SJ.LATE_BATCH_S}) + 2)
       ELSE LEAST({nb1}, (tsec - {SJ.LATE_EPOCH0_S}) // {SJ.LATE_BATCH_S})
       END AS b
  FROM e),
bm AS (SELECT b, MAX(tus) AS mt FROM eb GROUP BY b),
wml AS (SELECT b1.b AS b, MAX(b2.mt) // 1000 - {SJ.LATE_DELAY_MS} AS wm_ms
        FROM bm b1 LEFT JOIN bm b2 ON b2.b < b1.b - 1 GROUP BY b1.b),
fin AS (SELECT MAX(mt) // 1000 - {SJ.LATE_DELAY_MS} AS wm_ms FROM bm),
x AS (SELECT eb.*, s.off FROM eb CROSS JOIN (SELECT UNNEST([0, 1]) AS off) s),
win AS (SELECT b, event_type, vmilli,
               (tus // {SJ.LATE_SLIDE_S * 1000000}) * {SJ.LATE_SLIDE_S}
               - off * {SJ.LATE_SLIDE_S} AS ws FROM x),
kept AS (SELECT w.* FROM win w JOIN wml ON w.b = wml.b
         WHERE wml.wm_ms IS NULL OR (w.ws + {SJ.LATE_WIN_S}) * 1000 > wml.wm_ms)
SELECT CAST(ws AS BIGINT) AS win_start_s, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vmilli) AS BIGINT) AS sum_value_milli
FROM kept, fin
WHERE (ws + {SJ.LATE_WIN_S}) * 1000 <= fin.wm_ms
GROUP BY ws, event_type"""


@register("q54_streaming_late_windows", _q54_sql())
def q54_streaming_late_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked sliding windows with REAL late-data drop — the
    streaming semantic q25/q50 never exercise.  Events replay as four
    deterministic time-ordered micro-batches (8-day buckets; every 16th event
    held back two batches; staged once by ``jobs.stage_batches``),
    aggregated into 2h/1h sliding windows under a
    45-minute watermark.  Each window is emitted exactly once when the
    watermark passes its end; two-batch stragglers are dropped by the
    late-row filter; windows still open at end-of-stream are withheld.  The
    SQL oracle replays the watermark progression batch-by-batch — late-row
    filtering uses the PREVIOUS batch's watermark and eviction the current
    one (Spark's two-watermark scheme, verified against query progress at
    sf0.001 and sf0.01)."""
    from ..streaming import jobs as SJ

    stage = SJ.stage_batches(spark, sf_dir, "events_late_stream",
                             SJ.late_batch_id())
    return SJ.run_sliding_late_available_now(
        spark, stage, sink_table=_sink_name("q54", sf_dir))
