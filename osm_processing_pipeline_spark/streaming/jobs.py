"""Structured Streaming jobs.

The reference is strictly batch (SURVEY.md §1.3), so streaming here covers the
engine-side surface a continuously-ingested document/event feed needs:
watermarked tumbling-window aggregation whose results are the exact streaming
twin of the batch q25 (tests assert equality via availableNow + memory sink).
Every job drains through ``_drain``.  A replay that needs a fixed micro-batch
sequence (q50 split by event, q54 by late batch) is staged once per
``DATA_VERSION`` in the world cache by ``stage_batches``.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import world

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")
N_BATCHES = 4                           # micro-batches of every staged replay
_STAGE_MTIME0 = 1600000000              # fixed ascending mtimes pin file order


def _drain(spark: SparkSession, events_dir: str,
           build: Callable[[DataFrame], DataFrame], mode: str,
           sink_table: str) -> DataFrame:
    """Every availableNow job's scaffold: read the events parquet as a
    stream of one file per trigger, apply ``build``, write it to the
    in-memory ``sink_table`` in output ``mode``, drain to the end and return
    the sink table.

    At these state sizes a drain's wall is micro-batch ORCHESTRATION more
    than plan work: every trigger commits every state-store partition to
    the checkpoint dir.  The state partition count is fixed from
    spark.sql.shuffle.partitions at the first batch, so it is pinned to 4
    for the drain (plenty for these state sizes; partitioning never changes
    aggregate values) and restored after: 32 partitions spend ~8x the
    commit I/O for zero parallelism benefit."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (spark.readStream.schema(EVENTS_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(events_dir))
        (build(stream).writeStream.format("memory")
         .queryName(sink_table)
         .outputMode(mode)
         .trigger(availableNow=True)
         .start()
         .awaitTermination())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(sink_table)


def stage_batches(spark: SparkSession, sf_dir: str, name: str,
                  batch: Column) -> str:
    """The events of ``sf_dir`` staged in the world cache under ``name`` as
    N_BATCHES single-file parquet batches, batch k holding the events whose
    ``batch`` is k, with strictly ascending mtimes, so FileStreamSource
    (which orders by modification time) replays exactly batch 0..N-1 one
    file per trigger.

    One write stages every batch: repartitioned on the batch id, each batch
    lands whole in one task, whose one file under ``_b=k`` becomes
    ``batch-0000k.parquet``.  A batch with no file or with several would
    replay a different micro-batch sequence, so it raises.

    This staging is TEST SCAFFOLDING for a deterministic replay: one file
    per micro-batch lets the oracle model the replay exactly.  A production
    ingest keeps its natural many-file batches (the operators under test
    are file-layout-agnostic; only the replay determinism needs single
    files)."""
    def write(path: str) -> None:
        # underscore-prefixed paths are invisible to the file source
        tmp = os.path.join(path, "_parts")
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .withColumn("_b", batch).repartition(N_BATCHES, "_b")
         .write.partitionBy("_b").parquet(tmp))
        for k in range(N_BATCHES):
            parts = glob.glob(f"{tmp}/_b={k}/part-*.parquet")
            if len(parts) != 1:
                raise RuntimeError(f"stage {name}: batch {k} has "
                                   f"{len(parts)} files, expected 1")
            dst = os.path.join(path, f"batch-{k:05d}.parquet")
            shutil.move(parts[0], dst)
            os.utime(dst, (_STAGE_MTIME0 + 10 * k,) * 2)
        shutil.rmtree(tmp)

    return world.cached(f"{world.cache_key(sf_dir)}/{name}", write)


def event_sums() -> tuple[Column, Column]:
    """The per-group event aggregates (n_events, sum_value_milli): a row
    count and a value sum milli-quantized to ints (exact, order-free)."""
    return (F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * F.lit(1000.0)).cast("long"))
             .cast("long").alias("sum_value_milli"))


def windowed_event_aggregation(stream: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type with a 1-hour watermark for
    late data, aggregated by ``event_sums``."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*event_sums())
        .select(
            F.expr("CAST(unix_timestamp(w.start) DIV 3600 AS BIGINT)")
             .alias("hour_bucket"),
            "event_type", "n_events", "sum_value_milli")
    )


def run_events_stream_available_now(spark: SparkSession, events_dir: str,
                                    sink_table: str = "stream_agg") -> DataFrame:
    """Drain the events parquet as a bounded stream (availableNow) into an
    in-memory sink; returns the final aggregate table."""
    return _drain(spark, events_dir, windowed_event_aggregation, "complete",
                  sink_table)


# ----------------------------------------------------------- late-data drop
# Append-mode watermarking is the one streaming semantic the complete-mode
# tumbling job above never exercises: with a watermark and outputMode=append,
# Spark drops rows whose window closed before the late-events watermark (the
# PREVIOUS batch's — see late_batch_id) and emits each window exactly once
# when the eviction watermark (the current batch's) passes its end.  The
# micro-batch sequence below is fully deterministic, so the emitted set has
# an exact SQL twin that replays the watermark progression batch by batch.
LATE_DELAY_MS = 45 * 60 * 1000          # withWatermark("ts", "45 minutes")
LATE_WIN_S = 7200                       # window("ts", "2 hours", "1 hour")
LATE_SLIDE_S = 3600
LATE_BATCH_S = 8 * 86400                # 8-day ingestion buckets
LATE_EPOCH0_S = 1704067200              # 2024-01-01 (events table start)
LATE_STRAGGLER_MOD = 16                 # every 16th event arrives two batches late


def late_batch_id() -> "F.Column":
    """Deterministic micro-batch id per event: time-ordered 8-day buckets,
    with every ``LATE_STRAGGLER_MOD``-th event held back TWO batches.  Two,
    not one: Spark's streaming aggregation filters late rows with the
    PREVIOUS batch's watermark and evicts with the current one (the
    two-watermark scheme of SPARK-42376, verified against query progress),
    so a one-batch straggler always lands while its window is still live in
    state — only a two-batch straggler is genuinely late-dropped."""
    tsec = F.unix_timestamp("ts")
    base = F.least(F.lit(N_BATCHES - 1),
                   F.floor((tsec - F.lit(LATE_EPOCH0_S)) / F.lit(LATE_BATCH_S)))
    return F.when(F.col("event_id") % LATE_STRAGGLER_MOD == 0,
                  F.least(F.lit(N_BATCHES - 1), base + 2)).otherwise(base)


def sliding_late_aggregation(stream: DataFrame) -> DataFrame:
    """2h windows sliding hourly per event_type, 45-minute watermark,
    aggregated by ``event_sums``."""
    return (
        stream.withWatermark("ts", "45 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(*event_sums())
        .select(F.col("w.start").cast("long").alias("win_start_s"),
                "event_type", "n_events", "sum_value_milli")
    )


def run_sliding_late_available_now(spark: SparkSession, stage_dir: str,
                                   sink_table: str = "stream_late") -> DataFrame:
    """Drain the staged batches one file per trigger in append mode: each
    emitted row is a window finalized by the watermark; windows still open at
    end-of-stream are withheld (append-mode semantics)."""
    return _drain(spark, stage_dir, sliding_late_aggregation, "append",
                  sink_table)
