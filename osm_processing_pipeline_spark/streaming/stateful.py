"""Streaming first-seen per user: the earliest (ts, event_type) of each
``user_id``, with state carried across micro-batches.

First-seen is a running min per key, which is exactly what Structured
Streaming's built-in aggregation keeps in its JVM state store
(StateStoreRestore/StateStoreSave around a HashAggregate).  So the stream and
its batch twin run the one builder ``first_seen``; no per-key Python runs.
In complete mode the memory sink holds the final state, one row per user, so
the drained table needs no merge.  Tests assert streaming(availableNow) ==
batch exactly, the same dual-engine methodology as the SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .jobs import _drain


def first_seen(events: DataFrame) -> DataFrame:
    """(user_id, first_ts, first_event): each user's min (ts, event_type),
    over a batch DataFrame or a stream alike."""
    return events.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_type")).alias("m")
    ).select("user_id", F.col("m.ts").alias("first_ts"),
             F.col("m.event_type").alias("first_event"))


def run_first_seen_available_now(spark, events_dir: str,
                                 sink_table: str = "stream_first_seen"):
    """Drain events as a bounded multi-batch stream (one file per trigger)
    through ``first_seen``; returns the sink, the final per-user rows."""
    return _drain(spark, events_dir, first_seen, "complete", sink_table)
