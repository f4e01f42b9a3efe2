"""Raster <-> vector queries: zonal cell sums, point sampling, urban
pressure, the dominant WorldCover class, the hill composite and the buffer
histogram.  Each builder sits beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, world
from ..functions import cells, geometry as G
from .shared import (
    _pressure_sql_ctes, _reps_cte, _semi_sql, _wc_sql_ctes, register)


# --------------------------------------------------------------------- q10
def _q10_sql() -> str:
    return f"""WITH {_pressure_sql_ctes()}
SELECT grid_id, pop_sum, built_sum FROM cellsums"""


@register("q10_zonal_stats", _q10_sql())
def q10_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/A2: per-grid-cell zonal band sums decoded from real binary raster
    tiles (ST_Clip + ST_SummaryStats path, 03_zonal_pop_count_chunked.sql:4-12)."""
    from ..operators import zonal
    from ..sources.raster import raster_tiles

    return zonal.zonal_cell_sums(raster_tiles(spark))


# --------------------------------------------------------------------- q11
def _q11_sql() -> str:
    n = W.RASTER_PX
    lo, hi = W.URBAN_PX_LO, W.URBAN_PX_HI
    return f"""{oracle.with_world('verts')},
{_reps_cte()},
rep AS (
  SELECT osm_id,
         GREATEST(0, LEAST({n - 1}, CAST(floor(rep_lon * {n}) AS BIGINT))) AS px,
         GREATEST(0, LEAST({n - 1}, CAST(floor(rep_lat * {n}) AS BIGINT))) AS py
  FROM reps
)
SELECT osm_id,
       CAST((px*37 + py*73) % 100
            + CASE WHEN px >= {lo} AND px < {hi} AND py >= {lo} AND py < {hi}
                   THEN {W.URBAN_POP_BOOST} ELSE 0 END AS BIGINT) AS pop_value
FROM rep"""


@register("q11_raster_point_sample", _q11_sql())
def q11_raster_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: ST_Value(rast, pt) at each road's representative vertex — point ->
    tile equi-join + vectorized pixel gather from binary tiles
    (hill_v2/03_compute_relief_from_raster.sql:17-56)."""
    from ..operators import zonal
    from ..sources.raster import raster_tiles

    r = world.roads_materialized(spark, sf_dir)
    rep = cells.rep_vertex()
    pts = r.select("osm_id", rep["lon"].alias("lon"), rep["lat"].alias("lat"))
    return zonal.sample_points(raster_tiles(spark), pts)


# --------------------------------------------------------------------- q12
def _q12_sql() -> str:
    fl = oracle.fl
    return f"""WITH {_pressure_sql_ctes()}
SELECT grid_id, pop_sum, built_sum, pressure_micro,
       CASE WHEN pressure >= {fl(W.PRESSURE_URBAN)} THEN 'urban'
            WHEN pressure >= {fl(W.PRESSURE_SEMI)} THEN 'semi_urban'
            ELSE 'rural' END AS pressure_class
FROM pressures"""


@register("q12_urban_pressure", _q12_sql())
def q12_urban_pressure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urban pressure composition + classification over zonal sums
    (05_compute_urban_pressure.sql:12-16, 07_classify_urban_class.sql:8-15)."""
    from ..operators import zonal
    from ..sources.raster import raster_tiles

    return zonal.urban_pressure(zonal.zonal_cell_sums(raster_tiles(spark)))


# --------------------------------------------------------------------- q30
def _q30_sql() -> str:
    n, k = W.RASTER_PX, len(W.WCLASSES)
    px = f"GREATEST(0, LEAST({n - 1}, CAST(floor(lon * {n}) AS BIGINT)))"
    py = f"GREATEST(0, LEAST({n - 1}, CAST(floor(lat * {n}) AS BIGINT)))"
    cnt_cols = ",\n         ".join(
        f"SUM(CASE WHEN wc = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(k))
    arg = "CASE "
    for i in range(k):
        conds = " AND ".join(f"c{i} >= c{j}" for j in range(i + 1, k)) or "TRUE"
        arg += f"WHEN {conds} THEN '{W.WCLASSES[i]}' "
    arg += "END"
    best = f"GREATEST({', '.join(f'c{i}' for i in range(k))})"
    flags = ",\n       ".join(
        f"c{i} * 20 >= tot * 7 AS is_{name}, CAST(c{i} AS BIGINT) AS n_{name}"
        for i, name in enumerate(W.WCLASSES))
    return f"""{oracle.with_world('verts')},
wcs AS (
  SELECT osm_id,
         (({px}) * {W.WC_MUL_X} + ({py}) * {W.WC_MUL_Y}) % {k} AS wc
  FROM verts
),
per AS (
  SELECT osm_id, COUNT(*) AS tot,
         {cnt_cols}
  FROM wcs GROUP BY osm_id
)
SELECT osm_id, CAST(tot AS BIGINT) AS n_samples,
       CASE WHEN {best} * 5 >= tot * 4 THEN {arg} ELSE 'mixed' END AS primary_class,
       {flags}
FROM per"""


@register("q30_dominant_class", _q30_sql())
def q30_dominant_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: WorldCover dominant-class argmax, 0.8 primary gate + 0.35 flags
    as exact integer cross-multiplications (03_scenery_v2_classify.sql:26-83)."""
    from ..operators import scoring

    return scoring.dominant_class(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q44
def _q44_sql() -> str:
    S = W.RELIEF_SAMPLE_UM
    n, lo, hi = W.RASTER_PX, W.URBAN_PX_LO, W.URBAN_PX_HI
    fl = oracle.fl
    frac = ("CASE WHEN c.len_um = 0 THEN 0.0e0 "
            "ELSE (l.target - CAST(c.cum_um - c.len_um AS DOUBLE)) "
            "/ CAST(c.len_um AS DOUBLE) END")
    pop = (f"(px*37 + py*73) % 100 + CASE WHEN px >= {lo} AND px < {hi} "
           f"AND py >= {lo} AND py < {hi} THEN {W.URBAN_POP_BOOST} ELSE 0 END")
    built = "(px*91 + py*17) % 50"
    k = int(1.0 / W.HILL_SMOOTH_DEG)     # the smoothing grid: edge = radius
    r2 = W.HILL_SMOOTH_DEG * W.HILL_SMOOTH_DEG
    semi = _semi_sql()
    d2 = og.point_dist2("a.rep_lon", "a.rep_lat", "b.rep_lon", "b.rep_lat")
    return f"""{oracle.with_world('verts', 'segs')},
seglen AS (
  SELECT osm_id, seg_idx, {og.quantize_um(og.seg_len_m())} AS len_um FROM segs
),
cums AS (
  SELECT osm_id, seg_idx, len_um,
         CAST(SUM(len_um) OVER (PARTITION BY osm_id ORDER BY seg_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_um
  FROM seglen
),
tot AS (
  SELECT osm_id, CAST(MAX(cum_um) AS BIGINT) AS total_um,
         CAST(COUNT(*) AS BIGINT) AS nseg
  FROM cums GROUP BY osm_id
),
ns AS (
  SELECT osm_id, total_um, nseg,
         CAST(GREATEST(1, (total_um + {S - 1}) // {S}) AS BIGINT) AS n
  FROM tot
),
samples AS (
  SELECT osm_id, total_um, nseg, n, unnest(generate_series(0, n - 1)) AS gs
  FROM ns
),
targets AS (
  SELECT *, (CAST(gs AS DOUBLE) + 0.5e0) / CAST(n AS DOUBLE)
            * CAST(total_um AS DOUBLE) AS target
  FROM samples
),
located AS (
  SELECT t.osm_id, t.gs, t.n, t.total_um, t.target,
         LEAST(SUM(CASE WHEN CAST(c.cum_um AS DOUBLE) <= t.target
                        THEN 1 ELSE 0 END), t.nseg - 1) AS idx
  FROM targets t JOIN cums c USING (osm_id)
  GROUP BY t.osm_id, t.gs, t.n, t.total_um, t.target, t.nseg
),
pts AS (
  SELECT l.osm_id, l.n, l.total_um,
         s.ax + (s.bx - s.ax) * ({frac}) AS x,
         s.ay + (s.by - s.ay) * ({frac}) AS y
  FROM located l
  JOIN cums c ON c.osm_id = l.osm_id AND c.seg_idx = l.idx
  JOIN segs s ON s.osm_id = l.osm_id AND s.seg_idx = l.idx
),
vals AS (
  SELECT osm_id, n, total_um,
         GREATEST(0, LEAST({n - 1}, CAST(floor(x * {n}) AS BIGINT))) AS px,
         GREATEST(0, LEAST({n - 1}, CAST(floor(y * {n}) AS BIGINT))) AS py
  FROM pts
),
relief AS (
  SELECT osm_id,
         CAST(total_um AS BIGINT) AS total_len_um,
         CAST(n AS BIGINT) AS n_samples,
         total_um >= {W.RELIEF_LONG_UM} AS is_long,
         CAST(SUM({pop}) AS BIGINT) AS relief_sum,
         CAST((SUM({pop}) * 1000000) // n AS BIGINT) AS relief_mean_micro,
         CAST((SUM({built}) * 1000000) // n AS BIGINT) AS slope_mean_micro
  FROM vals GROUP BY osm_id, total_um, n
),
{_reps_cte()},
sig AS (
  SELECT r.*, p.rep_lon, p.rep_lat,
         NOT {semi} AS rural,
         CASE WHEN NOT {semi}
              THEN r.slope_mean_micro + r.relief_mean_micro // 20
              ELSE 0 END AS signal_raw_micro
  FROM relief r JOIN reps p USING (osm_id)
),
rural_pts AS (
  SELECT osm_id, rep_lon, rep_lat, signal_raw_micro,
         {og.cell_index("rep_lon", k)} AS cx,
         {og.cell_index("rep_lat", k)} AS cy
  FROM sig WHERE rural
),
nbrs AS (
  SELECT a.osm_id,
         CAST(SUM(b.signal_raw_micro) AS BIGINT) AS sig_sum,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs
  FROM (SELECT * FROM
          (SELECT *, unnest([cx - 1, cx, cx + 1]) AS jx FROM rural_pts),
          LATERAL (SELECT unnest([cy - 1, cy, cy + 1]) AS jy)) a
  JOIN rural_pts b ON b.cx = a.jx AND b.cy = a.jy
   AND {d2} <= {fl(r2)}
  GROUP BY a.osm_id
)
SELECT s.osm_id, s.total_len_um, s.n_samples, s.is_long, s.relief_sum,
       s.relief_mean_micro, s.slope_mean_micro, s.rural,
       CAST(s.signal_raw_micro AS BIGINT) AS signal_raw_micro,
       CAST(COALESCE(m.n_nbrs, 0) AS BIGINT) AS n_nbrs,
       CAST(COALESCE(m.sig_sum // GREATEST(m.n_nbrs, 1), 0) AS BIGINT)
         AS signal_smooth_micro,
       s.rural AND COALESCE(m.sig_sum // GREATEST(m.n_nbrs, 1), 0)
         > {W.HILL_SIGNAL_THRESHOLD_MICRO} AS is_hill
FROM sig s LEFT JOIN nbrs m USING (osm_id)"""


@register("q44_hill_composite", _q44_sql())
def q44_hill_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full hill_v2 chain, composed and graded end-to-end (the persona-q46
    treatment for scripts/dev-runs/hill_scenery_run.py):

    1. J7+ line-interpolated raster sampling — n = max(1, ceil(len/interval))
       points at t = (gs+0.5)/n along each way, relief (pop band) AND slope
       (built band) gathered from real binary tiles in one pass
       (hill_v2/03_compute_relief_from_raster.sql:17-56 incl. the short-way
       single-sample branch; 03_compute_slope_metrics.sql:20-57).
    2. hill_signal_raw = slope_mean + relief_mean/20 for rural roads
       (05_compute_hill_signal.sql:5-9; the urban/semiurban gate is the
       representative-vertex semi-window test).
    3. 2 km road-neighborhood smoothing: average signal over rural roads
       whose representative vertices are within HILL_SMOOTH_DEG — the
       radius-sized micro-grid join standing in for the ST_DWithin road
       self-join (05_compute_hill_signal.sql:15-33), including self.
    4. hill classification: smoothed > threshold
       (06_finalize_classification.sql:4-8, HILL_RELIEF_THRESHOLD scaled to
       the world's integer-micro signal range).

    All signal math is int64 micro-units; the smoothing join is rural-only
    (the dense urban core is excluded BY THE SEMANTICS, so the micro-grid
    join cannot go quadratic in the hotspot)."""
    from ..operators import zonal
    from ..sources.raster import raster_tiles

    r = world.roads_materialized(spark, sf_dir)
    samples = zonal.line_interpolated_samples(r)
    # per-road constants (total_um, n_samples) ride THROUGH the gather so
    # ONE post-gather aggregate replaces the old two-aggregate + join shape
    # (which executed the sampling subtree twice); the gather is an inner
    # 1:1 join against the complete (clamped) pixel table, so the row set
    # per road is unchanged and min(constant) == the constant
    vals = zonal.sample_points(
        raster_tiles(spark),
        samples.select("osm_id", "lon", "lat", "total_um", "n_samples"),
        with_built=True, carry=("total_um", "n_samples"))
    sums = vals.groupBy("osm_id").agg(
        F.min("total_um").cast("long").alias("total_len_um"),
        F.min("n_samples").cast("long").alias("n_samples"),
        F.sum("pop_value").cast("long").alias("relief_sum"),
        F.sum("built_value").cast("long").alias("slope_sum"))
    relief = (sums
              .select("osm_id", "total_len_um", "n_samples",
                      (F.col("total_len_um") >= W.RELIEF_LONG_UM).alias("is_long"),
                      "relief_sum",
                      F.expr("(relief_sum * 1000000) div n_samples")
                      .cast("long").alias("relief_mean_micro"),
                      F.expr("(slope_sum * 1000000) div n_samples")
                      .cast("long").alias("slope_mean_micro")))
    rep = cells.rep_vertex()
    reps = r.select("osm_id", rep["lon"].alias("rep_lon"),
                    rep["lat"].alias("rep_lat"))
    sig = (relief.join(reps, "osm_id")
           .withColumn("rural", ~cells.in_semi_window(F.col("rep_lon"),
                                                      F.col("rep_lat")))
           .withColumn("signal_raw_micro",
                       F.when(F.col("rural"),
                              F.col("slope_mean_micro")
                              + F.expr("relief_mean_micro div 20"))
                       .otherwise(F.lit(0)).cast("long")))
    # sig feeds BOTH smoothing sides and the final join — without a
    # materialization the whole sampling+gather tree executes 3-4x.  Unlike
    # the exploded segments/way_nodes (where checkpointing LOSES 1.7x,
    # CLAUDE.md), sig is one narrow row per road: localCheckpoint pays for
    # itself immediately (measured 13s -> 7.5s at sf0.1).
    sig = sig.localCheckpoint(eager=True)
    m = cells.micro_grid_for_radius(W.HILL_SMOOTH_DEG)   # 64: one cell edge
    r2 = W.HILL_SMOOTH_DEG * W.HILL_SMOOTH_DEG
    rural_pts = sig.filter("rural")
    lon, lat = F.col("rep_lon"), F.col("rep_lat")
    a = rural_pts.select(
        F.col("osm_id").alias("qa"), lon.alias("qx"), lat.alias("qy"),
        F.explode(cells.kring_of_point(lon, lat, m)).alias("_cell"))
    b = rural_pts.select(
        cells.cell_of_point(lon, lat, m).alias("_cell"),
        lon.alias("bx"), lat.alias("by"), "signal_raw_micro")
    d2 = G.point_dist2_deg(F.col("qx"), F.col("qy"),
                           F.col("bx"), F.col("by"))
    # a partner within one cell edge lies in the 3x3 ring, so the
    # candidates are exactly the ring's cells, joined on one key column
    cand = a.join(b, "_cell").filter(d2 <= F.lit(r2))
    nbrs = cand.groupBy("qa").agg(
        F.sum("signal_raw_micro").cast("long").alias("sig_sum"),
        F.count("*").cast("long").alias("n_nbrs"))
    smooth = F.coalesce(F.expr("sig_sum div greatest(n_nbrs, 1)"), F.lit(0))
    return (sig.join(nbrs, sig.osm_id == nbrs.qa, "left")
            .select(sig.osm_id, "total_len_um", "n_samples", "is_long",
                    "relief_sum", "relief_mean_micro", "slope_mean_micro",
                    "rural", "signal_raw_micro",
                    F.coalesce("n_nbrs", F.lit(0)).cast("long").alias("n_nbrs"),
                    smooth.cast("long").alias("signal_smooth_micro"),
                    (F.col("rural")
                     & (smooth > W.HILL_SIGNAL_THRESHOLD_MICRO)).alias("is_hill")))


# --------------------------------------------------------------------- q45
def _q45_sql() -> str:
    return f"""{oracle.with_world('segs')},
{_wc_sql_ctes()}
SELECT osm_id,
       CAST(forest_px AS BIGINT) AS forest_px,
       CAST(field_px AS BIGINT) AS field_px,
       CAST(forest_px + field_px AS BIGINT) AS total_px,
       CAST(CASE WHEN forest_px + field_px = 0 THEN 0
            ELSE (forest_px * 1000000) // (forest_px + field_px) END AS BIGINT)
         AS forest_frac_micro,
       CAST(CASE WHEN forest_px + field_px = 0 THEN 0
            ELSE (field_px * 1000000) // (forest_px + field_px) END AS BIGINT)
         AS field_frac_micro
FROM wc"""


@register("q45_buffer_histogram", _q45_sql())
def q45_buffer_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer + ST_ValueCount kernel: per-road buffered pixel class
    histogram with the reference's forest/field mapping and built-excluded
    valid total (02_worldcover_sampling.sql:5-46)."""
    from ..operators import zonal

    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    return zonal.buffer_class_histogram(s)
