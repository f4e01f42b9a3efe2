"""Custom stateful streaming operator via applyInPandasWithState.

The engine's example of a stateful op Structured Streaming lacks as a
built-in: streaming first-seen dedup (exactly-once emission of the first
event per key, with all later duplicates suppressed across micro-batches).
State per key is a single seen-flag + first timestamp; timeout is disabled
(the batch-twin comparison needs total determinism).

Batch twin: ``batch_first_seen`` computes the identical result with a
window/min — tests assert streaming(availableNow) == batch exactly, the same
dual-engine methodology as the SQL oracles.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "seen boolean, first_ts timestamp, first_event string"
OUTPUT_SCHEMA = "user_id long, first_ts timestamp, first_event string"


def _dedup_fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    (user_id,) = key
    if state.exists:
        seen, first_ts, first_event = state.get
    else:
        seen, first_ts, first_event = False, None, None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_type"], kind="mergesort")
        if not seen:
            seen = True
            first_ts = pdf.iloc[0]["ts"]
            first_event = pdf.iloc[0]["event_type"]
        else:
            # deterministic min across batches: earlier ts wins, ties by event
            cand_ts = pdf.iloc[0]["ts"]
            cand_ev = pdf.iloc[0]["event_type"]
            if (cand_ts, cand_ev) < (first_ts, first_event):
                first_ts, first_event = cand_ts, cand_ev
    state.update((seen, first_ts, first_event))
    yield pd.DataFrame({"user_id": [user_id], "first_ts": [first_ts],
                        "first_event": [first_event]})


def streaming_first_seen(events_stream: DataFrame) -> DataFrame:
    """(user_id, first_ts, first_event) maintained as streaming state."""
    return (events_stream
            .select("user_id", "ts", "event_type")
            .groupBy("user_id")
            .applyInPandasWithState(
                _dedup_fn, OUTPUT_SCHEMA, STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


def batch_first_seen(events: DataFrame) -> DataFrame:
    """Batch twin: exact same result as the stateful stream at availableNow."""
    return events.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_type")).alias("m")
    ).select("user_id", F.col("m.ts").alias("first_ts"),
             F.col("m.event_type").alias("first_event"))


def run_first_seen_available_now(spark, events_dir: str,
                                 sink_table: str = "stream_first_seen"):
    """Drain events as a bounded multi-batch stream (one file per trigger);
    state carries across micro-batches.  Returns the final per-user rows
    (last update emitted per key)."""
    from .jobs import _drain

    t = _drain(spark, events_dir, streaming_first_seen, "update", sink_table)
    # update mode appends one row per (key, batch); keep each key's last
    # emission = the min-merged state (first_ts monotonically improves)
    return batch_first_seen(
        t.select("user_id", F.col("first_ts").alias("ts"),
                 F.col("first_event").alias("event_type")))
