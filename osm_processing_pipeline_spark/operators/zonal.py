"""Raster <-> vector operators: zonal statistics and point sampling.

Mirrors the reference's chunked zonal sums
(sql/urban_pressure/03_zonal_pop_count_chunked.sql:4-12,
04_zonal_built_up_chunked.sql:4-12 — ST_Clip + ST_SummaryStats per grid cell)
and raster point probes (ST_Value at sampled points,
sql/road_scenery/hill_v2/03_compute_relief_from_raster.sql:17-56).

The tile grid is cell-aligned (one tile = 2x2 grid cells), so zonal sums need
no geometric join at all: tiles are decoded (Arrow batch -> numpy) and block-
summed straight into per-cell rows — the raster->vector tiling path.  Point
sampling equi-joins points to the broadcast decoded pixel table on pixel id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import geometry as G
from ..sources.raster import decode_band


def _decode_tiles(pdf: pd.DataFrame):
    """(tx, ty, pop, built) of an Arrow batch of tile rows: tile indices and
    the (n, TILE_PX, TILE_PX) int64 band arrays."""
    return (pdf["tx"].to_numpy(np.int64), pdf["ty"].to_numpy(np.int64),
            decode_band(pdf["pop_data"]).astype(np.int64),
            decode_band(pdf["built_data"]).astype(np.int64))


def zonal_cell_sums(tiles: DataFrame) -> DataFrame:
    """(grid_id, pop_sum, built_sum) — per-grid-cell band sums from binary
    tiles.  No shuffle: each tile maps to exactly its 4 cells.  The raster
    is the fixed 4096-tile world image, so the 8 partitions are a constant:
    a few fat Arrow batches beat many worker spin-ups."""
    cpt = W.TILE_PX // W.PX_PER_CELL       # cells per tile edge (2)
    ppc = W.PX_PER_CELL

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            tx, ty, pop, built = _decode_tiles(pdf)
            # block-sum 16x16 -> cpt x cpt cells of ppc x ppc px
            def blocks(a):
                return a.reshape(n, cpt, ppc, cpt, ppc).sum(axis=(2, 4))
            pops = blocks(pop)      # (n, cj, ci) rows=py blocks
            builts = blocks(built)
            ci = (tx[:, None, None] * cpt + np.arange(cpt)[None, None, :])
            cj = (ty[:, None, None] * cpt + np.arange(cpt)[None, :, None])
            gid = (cj * W.NX + ci + np.zeros_like(pops)).reshape(-1)
            yield pd.DataFrame({
                "grid_id": gid,
                "pop_sum": pops.reshape(-1),
                "built_sum": builts.reshape(-1),
            })

    return tiles.coalesce(8).mapInPandas(
        kernel, schema="grid_id long, pop_sum long, built_sum long")


def raster_pixels(tiles: DataFrame) -> DataFrame:
    """Decode the binary tiles into a (pid, pop_value, built_value) pixel
    table, pid = py * RASTER_PX + px.  One short Arrow stage over the 4096
    tile rows; everything downstream of it is pure JVM."""
    tp = W.TILE_PX

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            tx, ty, pop, built = _decode_tiles(pdf)
            yy, xx = np.meshgrid(np.arange(tp), np.arange(tp), indexing="ij")
            px = (tx[:, None, None] * tp + xx[None]).reshape(-1)
            py = (ty[:, None, None] * tp + yy[None]).reshape(-1)
            yield pd.DataFrame({"pid": py * W.RASTER_PX + px,
                                "pop_value": pop.reshape(-1),
                                "built_value": built.reshape(-1)})

    return tiles.mapInPandas(
        kernel, schema="pid long, pop_value long, built_value long")


def sample_points(tiles: DataFrame, pts: DataFrame,
                  with_built: bool = False,
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """ST_Value(rast, point): pts(osm_id, lon, lat) -> (osm_id, pop_value
    [, built_value]).

    The gather is a hash join of the points against the decoded PIXEL table
    on pid — whole-stage-codegen JVM, no Python in the hot path.  (The first
    cut joined each point to its tile ROW and gathered in an Arrow kernel;
    that replicates the 512-byte tile blobs once per point — at sf0.1 that
    is gigabytes of Arrow traffic for a 1 MiB raster, measured 10x slower
    than this plan.)  The pixel table is broadcast: the raster is the fixed
    1024^2 world image (1.05 M px, ~40 MB as three longs a row), a
    dimension-sized table, so the point side never shuffles.
    ``with_built`` gathers the second band in the same pass (the hill chain
    samples its DEM-relief and slope rasters at the same points,
    hill_v2/03_compute_slope_metrics.sql:20-57).  ``carry``
    names extra ``pts`` columns forwarded through the gather unchanged —
    per-road constants a caller can then fold into its post-gather
    aggregate instead of re-executing the point-generation subtree for a
    second aggregate + join (the q44 shape)."""
    px = F.greatest(F.lit(0), F.least(F.lit(W.RASTER_PX - 1),
                                      F.floor(F.col("lon") * W.RASTER_PX).cast("long")))
    py = F.greatest(F.lit(0), F.least(F.lit(W.RASTER_PX - 1),
                                      F.floor(F.col("lat") * W.RASTER_PX).cast("long")))
    keyed = pts.select("osm_id", *carry, (py * W.RASTER_PX + px).alias("pid"))
    cols = ["pid", "pop_value"] + (["built_value"] if with_built else [])
    pix = F.broadcast(raster_pixels(tiles).select(*cols))
    out_cols = (["osm_id", *carry, "pop_value"]
                + (["built_value"] if with_built else []))
    return keyed.join(pix, "pid").select(*out_cols)


def line_interpolated_samples(roads: DataFrame) -> DataFrame:
    """ST_LineInterpolatePoint sampling along each way — one row per sample
    point: (osm_id, total_len_um, n_samples, gs, lon, lat).

    Mirrors hill_v2/03_compute_relief_from_raster.sql:17-56: n = max(1,
    ceil(len / interval)) samples at fractions t = (gs + 0.5)/n of the way's
    length; short ways degenerate to the single mid-line point (the
    reference's centroid branch, kept on the line).  Locating the segment
    containing each target distance uses int64-micrometre cumulative lengths
    (exact, order-independent), then one float lerp — all pure Catalyst
    array expressions, no shuffle until the raster gather."""
    L = F.lit
    S = W.RELIEF_SAMPLE_UM
    nseg = F.size("vertices") - 1
    a = F.slice(F.col("vertices"), 1, nseg)
    b = F.expr("slice(vertices, 2, size(vertices) - 1)")
    lens_um = F.zip_with(
        a, b, lambda p, q: G.quantize_len_um(
            G.seg_len_m(p["lon"], p["lat"], q["lon"], q["lat"])))
    base = roads.select("osm_id", "vertices", nseg.alias("nseg"),
                        lens_um.alias("lens_um"))
    cums = F.transform(
        F.sequence(L(1), F.col("nseg")),
        lambda i: F.aggregate(F.slice("lens_um", L(1), i),
                              L(0).cast("long"), lambda acc, x: acc + x))
    base = base.withColumn("cums_um", cums) \
               .withColumn("total_um", F.element_at("cums_um", -1))
    n = F.greatest(L(1).cast("long"),
                   F.expr(f"(total_um + {S - 1}) div {S}"))
    base = base.withColumn("n", n)
    s = base.select(
        "osm_id", "vertices", "nseg", "lens_um", "cums_um", "total_um", "n",
        F.explode(F.sequence(L(0).cast("long"), F.col("n") - 1)).alias("gs"))
    target = ((F.col("gs").cast("double") + L(0.5)) / F.col("n").cast("double")
              ) * F.col("total_um").cast("double")
    s = s.withColumn("target", target)
    idx = F.least(
        F.size(F.filter("cums_um",
                        lambda c: c.cast("double") <= F.col("target"))),
        F.col("nseg") - 1)
    s = s.withColumn("idx", idx)
    len_i = F.element_at("lens_um", F.col("idx") + 1)
    cum_before = F.element_at("cums_um", F.col("idx") + 1) - len_i
    frac = F.when(len_i == 0, L(0.0)).otherwise(
        (F.col("target") - cum_before.cast("double")) / len_i.cast("double"))
    s = s.withColumn("frac", frac)
    va = F.element_at("vertices", F.col("idx") + 1)
    vb = F.element_at("vertices", F.col("idx") + 2)
    return s.select(
        "osm_id", "total_um", F.col("n").alias("n_samples"), "gs",
        (va["lon"] + (vb["lon"] - va["lon"]) * F.col("frac")).alias("lon"),
        (va["lat"] + (vb["lat"] - va["lat"]) * F.col("frac")).alias("lat"))


def buffer_class_histogram(segs: DataFrame) -> DataFrame:
    """Per-road buffered pixel histogram — the ST_Buffer(25m) + ST_ValueCount
    kernel (02_worldcover_sampling.sql:5-46) over the WorldCover-ish class
    raster.

    Membership is exact: a pixel counts iff its center is within WC_BUF_PX
    pixels (Euclidean) of some segment of the road.  Candidates are 5x5
    pixel windows around along-line samples spaced WC_SAMPLE_STEP_PX apart
    (a guaranteed cover: a center within BUF + step/2 = 2 px of the sample
    has index in [c-2, c+2] for c = floor(sx*n)), refined with the exact
    point-to-segment distance, then deduped per (road, pixel).  Everything
    is whole-stage-codegen Catalyst arithmetic; the only shuffle is the
    distinct + final per-road rollup."""
    L = F.lit
    n = W.RASTER_PX
    step = float(W.WC_SAMPLE_STEP_PX)
    buf_deg = W.WC_BUF_PX / float(n)     # exact: power-of-two denominator
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    len_deg = F.sqrt(dx * dx + dy * dy)
    m = F.greatest(L(1).cast("long"),
                   F.ceil((len_deg * L(float(n))) / L(step)).cast("long"))
    s = segs.select("osm_id", "ax", "ay", "bx", "by", m.alias("m"))
    s = s.select("osm_id", "ax", "ay", "bx", "by", "m",
                 F.explode(F.sequence(L(0).cast("long"), F.col("m"))).alias("j"))
    t = F.col("j").cast("double") / F.col("m").cast("double")
    sx = F.col("ax") + (F.col("bx") - F.col("ax")) * t
    sy = F.col("ay") + (F.col("by") - F.col("ay")) * t
    cx = F.floor(sx * L(float(n))).cast("long")
    cy = F.floor(sy * L(float(n))).cast("long")
    s = s.select("osm_id", "ax", "ay", "bx", "by",
                 cx.alias("cx"), cy.alias("cy"))
    s = (s.withColumn("px", F.explode(F.sequence(F.col("cx") - 2,
                                                 F.col("cx") + 2)))
         .withColumn("py", F.explode(F.sequence(F.col("cy") - 2,
                                                F.col("cy") + 2)))
         .filter((F.col("px") >= 0) & (F.col("px") < n)
                 & (F.col("py") >= 0) & (F.col("py") < n)))
    pcx = (F.col("px").cast("double") + L(0.5)) / L(float(n))
    pcy = (F.col("py").cast("double") + L(0.5)) / L(float(n))
    d2 = G.seg_point_dist2_deg(F.col("ax"), F.col("ay"),
                               F.col("bx"), F.col("by"), pcx, pcy)
    pix = (s.filter(d2 <= L(buf_deg) * L(buf_deg))
           .select("osm_id", "px", "py").distinct())
    cls = (F.col("px") * W.WC_MUL_X + F.col("py") * W.WC_MUL_Y) % len(W.WCLASSES)
    pix = pix.withColumn("wc", cls)
    # reference mapping: forest = tree(0); field = shrub(1)+grass(2)+crop(3);
    # built(4) is excluded from the valid total
    forest = F.sum(F.when(F.col("wc") == 0, 1).otherwise(0))
    field = F.sum(F.when(F.col("wc").isin(1, 2, 3), 1).otherwise(0))
    per = pix.groupBy("osm_id").agg(
        forest.cast("long").alias("forest_px"),
        field.cast("long").alias("field_px"))
    tot = F.col("forest_px") + F.col("field_px")
    return per.select(
        "osm_id", "forest_px", "field_px", tot.alias("total_px"),
        F.when(tot == 0, L(0)).otherwise(
            F.expr("(forest_px * 1000000) div (forest_px + field_px)"))
        .cast("long").alias("forest_frac_micro"),
        F.when(tot == 0, L(0)).otherwise(
            F.expr("(field_px * 1000000) div (forest_px + field_px)"))
        .cast("long").alias("field_frac_micro"))


def urban_pressure(cell_sums: DataFrame) -> DataFrame:
    """pd/bu saturation + pressure composition + class thresholds
    (05_compute_urban_pressure.sql:12-16, 07_classify_urban_class.sql:8-15).
    Pressure is emitted as exact int micro-units (floor(p * 1e6))."""
    pdr = F.least(F.col("pop_sum") / F.lit(W.POP_SAT_CELL), F.lit(1.0))
    bur = F.least(F.col("built_sum") / F.lit(W.BUILT_SAT_CELL), F.lit(1.0))
    pressure = F.lit(1.0) - (F.lit(1.0) - pdr) * (F.lit(1.0) - bur)
    micro = F.floor(pressure * F.lit(1.0e6)).cast("long")
    cls = (
        F.when(pressure >= W.PRESSURE_URBAN, "urban")
        .when(pressure >= W.PRESSURE_SEMI, "semi_urban")
        .otherwise("rural")
    )
    return cell_sums.select(
        "grid_id", "pop_sum", "built_sum",
        micro.alias("pressure_micro"), cls.alias("pressure_class"))
