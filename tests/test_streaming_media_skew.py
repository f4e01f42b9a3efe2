"""Streaming twins, multimodal plumbing, and the world's urban-core skew."""

import os

import pytest
from pyspark.sql import functions as F

from osm_processing_pipeline_spark import worldspec as W
from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.functions import cells
from osm_processing_pipeline_spark.multimodal import media as M
from osm_processing_pipeline_spark.sources import documents as D
from osm_processing_pipeline_spark.streaming import jobs as SJ
from tests.conftest import SF_SMOKE


def test_streaming_matches_batch(spark, tmp_path):
    # FileStreamSource requires a directory of files
    import shutil
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-0.parquet")
    streamed = SJ.run_events_stream_available_now(
        spark, str(d), "t_stream_agg").toPandas()
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.expr("CAST(unix_timestamp(ts) DIV 3600 AS BIGINT)").alias("hour_bucket"),
                 "event_type")
        .agg(F.count("*").cast("long").alias("n_events"),
             F.sum(F.floor(F.col("value") * F.lit(1000.0)).cast("long"))
              .cast("long").alias("sum_value_milli"))
    ).toPandas()
    key = ["hour_bucket", "event_type"]
    s = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b) > 0
    assert (s[["n_events", "sum_value_milli"]].values
            == b[["n_events", "sum_value_milli"]].values).all()


def test_media_pipeline_plumbing(spark):
    roads = world.roads_materialized(spark, SF_SMOKE)
    docs = D.parse_road_documents(D.encode_road_documents(roads))
    with_media = docs.filter(F.col("has_image"))
    media = M.media_table(with_media)
    feats = M.image_features(media).toPandas()
    assert len(feats) == with_media.count() > 0
    assert (feats.width.values >= 8).all() and (feats.width.values <= 16).all()
    # determinism: same media_ref -> same checksum
    f2 = M.image_features(media).toPandas()
    a = feats.sort_values("media_ref").reset_index(drop=True)
    b = f2.sort_values("media_ref").reset_index(drop=True)
    assert (a.px_checksum.values == b.px_checksum.values).all()


def test_hot_cells_flags_urban_core(spark):
    """The world plants dense-urban-cell skew: at least 3/4 of the
    urban-core cells hold more than 20x the mean vertices per cell
    (world-edge cells may be dense too: coordinate clamping piles boundary
    vertices there)."""
    r = world.roads_materialized(spark, SF_SMOKE)
    per_cell = (r.select(F.explode("vertices").alias("v"))
                .groupBy(cells.cell_of_point(F.col("v.lon"), F.col("v.lat"))
                         .alias("cell"))
                .count().toPandas())
    mean = per_cell["count"].sum() / (W.NX * W.NY)
    hot = set(per_cell.cell[per_cell["count"] > 20 * mean])
    ulo = int(W.URBAN_LO / W.CELL_DEG)
    uhi = int(W.URBAN_HI / W.CELL_DEG)
    core = {j * W.NX + i for i in range(ulo, uhi) for j in range(ulo, uhi)}
    assert len(core & hot) >= len(core) * 3 // 4, \
        f"only {len(core & hot)}/{len(core)} urban-core cells above 20x the mean"


def test_stateful_streaming_first_seen_matches_batch(spark, tmp_path):
    """First-seen state merged across micro-batches == the same builder
    over the batch table."""
    import shutil

    from osm_processing_pipeline_spark.streaming import stateful
    d = tmp_path / "events_stateful"
    d.mkdir()
    # split into 3 files -> 3 micro-batches, so state genuinely merges
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1) \
            .write.mode("overwrite").parquet(str(d / f"chunk{i}"))
    import glob
    files = sorted(glob.glob(str(d / "chunk*" / "*.parquet")))
    for i, f in enumerate(files):
        shutil.copy(f, d / f"part-{i}.parquet")
    for i in range(3):
        shutil.rmtree(d / f"chunk{i}")
    streamed = stateful.run_first_seen_available_now(spark, str(d)).toPandas()
    batch = stateful.first_seen(ev).toPandas()
    s = streamed.sort_values("user_id").reset_index(drop=True)
    b = batch.sort_values("user_id").reset_index(drop=True)
    assert len(s) == len(b)
    assert (s["user_id"].values == b["user_id"].values).all()
    assert (s["first_ts"].values == b["first_ts"].values).all()
    assert (s["first_event"].values == b["first_event"].values).all()


def test_q50_users_span_micro_batches(spark):
    """q50 stages its stream split by event, one file per micro-batch, so a
    user's events land in several batches and first-seen state really
    merges across them (split by user, no user ever spans two)."""
    d = SJ.stage_batches(spark, SF_SMOKE, "events_by_event",
                         F.col("event_id") % SJ.N_BATCHES)
    per_user = (spark.read.parquet(d)
                .select("user_id", F.input_file_name().alias("batch"))
                .groupBy("user_id")
                .agg(F.countDistinct("batch").alias("n_batches")))
    assert per_user.filter(F.col("n_batches") >= 2).count() > 0


def test_stage_batches_one_file_per_batch(spark, tmp_path, monkeypatch):
    """A replay is staged as N_BATCHES single files with ascending mtimes;
    a batch id that leaves a batch empty raises instead of staging a
    shorter replay."""
    monkeypatch.setattr(world, "CACHE_DIR", str(tmp_path))
    d = SJ.stage_batches(spark, SF_SMOKE, "events_late_stream",
                         SJ.late_batch_id())
    files = [f"batch-{k:05d}.parquet" for k in range(SJ.N_BATCHES)]
    assert sorted(os.listdir(d)) == ["_SUCCESS"] + files
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in files]
    assert mtimes == sorted(set(mtimes))
    assert spark.read.parquet(d).count() == spark.read.parquet(
        f"{SF_SMOKE}/events.parquet").count()
    with pytest.raises(RuntimeError, match="batch 1 has 0 files"):
        SJ.stage_batches(spark, SF_SMOKE, "one_batch", F.lit(0))
    assert not list(tmp_path.rglob("one_batch/_SUCCESS"))


def test_q50_drain_commits_four_state_partitions(spark):
    """``_drain`` pins every stream's state store to 4 partitions, whatever
    the session's shuffle partitions, and restores the session conf."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from osm_processing_pipeline_spark import registry

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.parts, self.done = [], False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.parts += [op.numShufflePartitions
                           for op in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done = True

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "4"
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        registry.QUERIES["q50_streaming_first_seen"](spark, SF_SMOKE).collect()
        deadline = time.time() + 30
        while not listener.done and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.done
    assert listener.parts and set(listener.parts) == {4}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_late_window_stream_drops_and_withholds(spark, tmp_path, monkeypatch):
    """Append-mode watermarking must (a) drop two-batch stragglers, (b)
    withhold windows the final watermark never closed, and (c) emit every
    window exactly once."""
    monkeypatch.setattr(world, "CACHE_DIR", str(tmp_path))
    stage = SJ.stage_batches(spark, SF_SMOKE, "events_late_stream",
                             SJ.late_batch_id())
    out = SJ.run_sliding_late_available_now(spark, stage, "t_late").toPandas()
    total_row_windows = 2 * spark.read.parquet(
        f"{SF_SMOKE}/events.parquet").count()
    emitted = int(out.n_events.sum())
    assert emitted < total_row_windows          # something was late/withheld
    assert emitted > 0.9 * total_row_windows    # but the stream is not lossy
    # exactly-once emission per window key
    assert not out.duplicated(["win_start_s", "event_type"]).any()
    # no window still open at end-of-stream may appear: every emitted window
    # end precedes the final watermark (global max event time - 45 min)
    max_ts_us = spark.read.parquet(f"{SF_SMOKE}/events.parquet") \
        .agg(F.max("ts")).toPandas().iloc[0, 0].value // 1000
    fin_wm_ms = max_ts_us // 1000 - SJ.LATE_DELAY_MS
    assert ((out.win_start_s + SJ.LATE_WIN_S) * 1000 <= fin_wm_ms).all()
