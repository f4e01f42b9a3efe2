"""Landmark probes + cell-index properties — the engine's port of the
reference's named-landmark validation style
(sql/urban_pressure/99_validation_queries.sql:33-67: grids nearest
Bangalore/Mysore/rural must classify as expected)."""

import numpy as np
from pyspark.sql import functions as F

from osm_processing_pipeline_spark import worldspec as W
from osm_processing_pipeline_spark.datagen import world
from osm_processing_pipeline_spark.functions import cells
from tests.conftest import SF_SMOKE


def _cell_at(x: float, y: float) -> int:
    return int(y / W.CELL_DEG) * W.NX + int(x / W.CELL_DEG)


def test_kring_complete_and_unique(spark):
    """kring at several radii on the tiling grid, and the point-centred 3x3
    kring_of_point on every grid size in use (the tiling grid, hill
    smoothing's 64, HAdj's 512), corners included; the point is each cell's
    centre, so at r = 1 both rings must be the same set."""
    rng = np.random.default_rng(11)

    def ids(m):
        return [int(v) for v in rng.integers(0, m * m, 20)] \
            + [0, m - 1, m * m - m, m * m - 1]

    def expect(cid, r, m):
        i0, j0 = cid % m, cid // m
        return {j * m + i
                for i in range(max(0, i0 - r), min(m, i0 + r + 1))
                for j in range(max(0, j0 - r), min(m, j0 + r + 1))}

    def check(got, want, what):
        assert len(got) == len(set(got)), f"duplicate ring cells: {what}"
        assert set(got) == want, f"ring mismatch: {what}"

    df = spark.createDataFrame([(c,) for c in ids(W.NX)], "cid long")
    for r in (1, 2, 8):
        for row in df.select("cid", cells.kring(F.col("cid"), r)
                             .alias("ring")).collect():
            check(list(row.ring), expect(row.cid, r, W.NX),
                  f"kring {row.cid} r={r}")
    for m in (W.NX, 64, 512):
        df = spark.createDataFrame(
            [(c, (c % m + 0.5) / m, (c // m + 0.5) / m) for c in ids(m)],
            "cid long, x double, y double")
        rows = df.select("cid", cells.kring_of_point(
            F.col("x"), F.col("y"), m).alias("pring")).collect()
        for row in rows:
            check(list(row.pring), expect(row.cid, 1, m),
                  f"kring_of_point {row.cid} m={m}")


def test_landmark_grid_classes(spark):
    g = {r["grid_id"]: r["grid_class"] for r in world.grids(spark).collect()}
    urban_center = _cell_at((W.URBAN_LO + W.URBAN_HI) / 2,
                            (W.URBAN_LO + W.URBAN_HI) / 2)
    semi_probe = _cell_at(W.SEMI_LO + W.CELL_DEG / 2,
                          (W.URBAN_LO + W.URBAN_HI) / 2)
    rural_corner = _cell_at(0.125, 0.125)
    assert g[urban_center] == "Urban"
    assert g[semi_probe] == "Semi_Urban"
    assert g[rural_corner] == "Rural"


def test_landmark_pressure_class(spark):
    from osm_processing_pipeline_spark.operators import zonal
    from osm_processing_pipeline_spark.sources.raster import raster_tiles

    press = zonal.urban_pressure(zonal.zonal_cell_sums(raster_tiles(spark)))
    p = {r["grid_id"]: r["pressure_class"] for r in press.collect()}
    urban_center = _cell_at((W.URBAN_LO + W.URBAN_HI) / 2,
                            (W.URBAN_LO + W.URBAN_HI) / 2)
    rural_corner = _cell_at(0.125, 0.125)
    assert p[urban_center] == "urban"
    assert p[rural_corner] != "urban"


def test_landmark_urban_road_setting(spark):
    """Roads that start in the urban core and stay within it must classify
    Urban; far-corner rural roads must classify Rural (q01 semantics)."""
    from osm_processing_pipeline_spark import registry

    out = registry.QUERIES["q01_road_grid_classification"](spark, SF_SMOKE)
    r = world.roads_materialized(spark, SF_SMOKE)
    span = F.lit(10 * 6 / 2048.0)  # max per-road drift: 6 steps of 10/2048
    core = r.filter(
        (F.element_at("vertices", 1)["lon"] >= W.URBAN_LO + span)
        & (F.element_at("vertices", 1)["lon"] < W.URBAN_HI - span)
        & (F.element_at("vertices", 1)["lat"] >= W.URBAN_LO + span)
        & (F.element_at("vertices", 1)["lat"] < W.URBAN_HI - span)
    ).select("osm_id")
    j = out.join(core, "osm_id")
    n = j.count()
    assert n > 0
    assert j.filter(F.col("road_setting") != "Urban").count() == 0


def test_vector_tile_partitioned_sink(spark, tmp_path):
    """S7 materialization: tiles written partitionBy(zoom, tile_id) must
    prune partitions on point lookup (the tile-server access path)."""
    from osm_processing_pipeline_spark.operators import tiles

    r = world.roads_materialized(spark, SF_SMOKE)
    df = tiles.vector_tiles(r)
    out = str(tmp_path / "tiles")
    df.write.partitionBy("zoom", "tile_id").mode("overwrite").parquet(out)

    back = spark.read.parquet(out)
    one_tile = back.filter((F.col("zoom") == 6) & (F.col("tile_id") >= 0)) \
                   .groupBy("tile_id").count()
    assert one_tile.count() > 0
    # partition pruning reaches the scan
    probe = back.filter((F.col("zoom") == 6))
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    assert "PartitionFilters: [isnotnull(zoom" in buf.getvalue().replace("#", "").replace("L)", ")") \
        or "PartitionFilters" in buf.getvalue()
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and "zoom" in pf[0], f"no zoom partition filter: {pf}"
    # round-trip totals match the unpartitioned frame
    assert back.count() == df.count()
