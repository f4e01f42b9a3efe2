"""Map projections: the grid overlay in spherical and ellipsoidal Mollweide
and in UTM 32643, and the Web-Mercator endpoint DWithin.  Each builder sits
beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, world
from ..functions import cells, geometry as G, projection
from ..operators import classify
from .shared import _road_endpoints, _sql_road_type, register


# --------------------------------------------------------------------- q56
# q56, q60 and q61 project the same MOLL_BBOX grid cells — each cell's
# centre ``c`` and corners ``pa``, ``pb``, ``pd``, ``pe`` — through different
# kernels and take the projected corner quad's shoelace area.  The steps are
# the projection module's dual-expression spec, rendered once per engine.
_GRID_POINTS = (("c", "cx", "cy"), ("pa", "x0", "y0"), ("pb", "x1", "y0"),
                ("pd", "x1", "y1"), ("pe", "x0", "y1"))


def _grid_area_steps(kernel) -> list:
    """``kernel`` (a ``projection.*_steps`` function) applied to every grid
    point, plus the corner quad's shoelace ``area_raw``."""
    steps = [st for p, lon, lat in _GRID_POINTS for st in kernel(p, lon, lat)]
    return steps + projection.quad_shoelace_steps(
        "area_raw", ["pa", "pb", "pd", "pe"])


def _grid_area_sql(kernel, x: str, y: str) -> str:
    """Oracle of ``_grid_areas``: (grid_id, centroid_{x}_mm, centroid_{y}_mm,
    grid_area_m2) per MOLL_BBOX cell, x/y naming the kernel's centre
    outputs ``c_{x}`` / ``c_{y}``."""
    fl = oracle.fl
    xlo, ylo, xhi, yhi = W.MOLL_BBOX
    half = fl(W.CELL_DEG / 2.0)
    steps = _grid_area_steps(kernel)
    return f"""{oracle.with_world('grid')},
cells AS (
  SELECT grid_id, x0, y0, x1, y1,
         x0 + {half} AS cx, y0 + {half} AS cy
  FROM grid
  WHERE x1 >= {fl(xlo)} AND x0 <= {fl(xhi)}
    AND y1 >= {fl(ylo)} AND y0 <= {fl(yhi)}
),
proj AS (
  SELECT * FROM {projection.steps_sql_from(steps, 'cells')}
)
SELECT grid_id,
       CAST(floor(c_{x} * {fl(1000.0)}) AS BIGINT) AS centroid_{x}_mm,
       CAST(floor(c_{y} * {fl(1000.0)}) AS BIGINT) AS centroid_{y}_mm,
       CAST(floor(area_raw) AS BIGINT) AS grid_area_m2
FROM proj"""


def _grid_areas(spark: SparkSession, kernel, x: str, y: str) -> DataFrame:
    """Per MOLL_BBOX grid cell: the ``kernel``-projected centre in mm
    (``centroid_{x}_mm``, ``centroid_{y}_mm``) and the projected corner
    quad's area (``grid_area_m2``) — a per-row map, no shuffle."""
    xlo, ylo, xhi, yhi = W.MOLL_BBOX
    g = (world.grids(spark)
         .filter((F.col("x1") >= xlo) & (F.col("x0") <= xhi)
                 & (F.col("y1") >= ylo) & (F.col("y0") <= yhi))
         .withColumn("cx", F.col("x0") + F.lit(W.CELL_DEG / 2.0))
         .withColumn("cy", F.col("y0") + F.lit(W.CELL_DEG / 2.0)))
    g = projection.apply_steps(g, _grid_area_steps(kernel))
    return g.select(
        "grid_id",
        F.floor(F.col(f"c_{x}") * F.lit(1000.0)).cast("long")
        .alias(f"centroid_{x}_mm"),
        F.floor(F.col(f"c_{y}") * F.lit(1000.0)).cast("long")
        .alias(f"centroid_{y}_mm"),
        F.floor(F.col("area_raw")).cast("long").alias("grid_area_m2"))


@register("q56_mollweide_grid",
          _grid_area_sql(projection.mollweide_steps, "x", "y"))
def q56_mollweide_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True map projection — the grid overlay in World Mollweide
    (sql/urban_pressure/01_create_india_grids_54009.sql:7-20: per cell,
    ST_Transform(grid_geom, 54009), ST_PointOnSurface and ST_Area, under a
    test-bounds envelope filter).  The engine projects each cell's center
    (the point-on-surface of a convex quad) and four corners with the
    closed-form spherical Mollweide kernel — Taylor trig + fixed-count
    Newton, single-sourced for BOTH engines by functions/projection.py's
    dual-expression builder — and takes the corner quad's shoelace area as
    ST_Area of the projected cell (Mollweide is equal-area, so the quad
    tracks the true cell area; ~737k m2 per 1/128-deg cell at lat 12-13).

    Scale shape: a pure per-row map over the grid dimension — no shuffle,
    no Python; at a planetary grid this is one whole-stage-codegen pass."""
    return _grid_areas(spark, projection.mollweide_steps, "x", "y")


# --------------------------------------------------------------------- q59
def _q59_merc_steps() -> tuple[list, list]:
    m = projection.mercator_steps
    return m("pe", "lon", "lat"), m("pa", "ax", "ay") + m("pb", "bx", "by")


def _q59_sql() -> str:
    fl = oracle.fl
    bik = oracle.str_list(W.BIKABLE)
    e_steps, s_steps = _q59_merc_steps()
    dd = fl(W.MERC_DWITHIN_M / W.MERC_M_PER_DEG)
    r2 = fl(W.MERC_DWITHIN_M * W.MERC_DWITHIN_M)
    d2 = og.seg_point_dist2("s.pa_x", "s.pa_y", "s.pb_x", "s.pb_y",
                            "e.pe_x", "e.pe_y")
    return f"""{oracle.with_world('verts')},
eps AS (
  SELECT osm_id, CASE WHEN k = 0 THEN 0 ELSE 1 END AS ep, lon, lat
  FROM verts v
  WHERE (k = 0 OR k = nv - 1)
    AND v.highway IN ({bik})
    AND v.highway IN ('tertiary', 'tertiary_link')
    AND {_sql_road_type("v")} = 'Other'
),
eproj AS (
  SELECT * FROM {projection.steps_sql_from(e_steps, 'eps')}
),
hsegs AS (
  SELECT osm_id AS h_osm, lon AS ax, lat AS ay,
         LEAD(lon) OVER sw AS bx, LEAD(lat) OVER sw AS by
  FROM verts v
  WHERE v.highway IN ({bik})
    AND {_sql_road_type("v")} IN ('NH', 'SH', 'MDR', 'HW')
  WINDOW sw AS (PARTITION BY osm_id ORDER BY k)
  QUALIFY LEAD(lon) OVER sw IS NOT NULL
),
sproj AS (
  SELECT * FROM {projection.steps_sql_from(s_steps, 'hsegs')}
),
per_ep AS (
  SELECT e.osm_id, e.ep, MIN({d2}) AS d2m
  FROM eproj e JOIN sproj s
    ON e.lon >= LEAST(s.ax, s.bx) - {dd} AND e.lon <= GREATEST(s.ax, s.bx) + {dd}
   AND e.lat >= LEAST(s.ay, s.by) - {dd} AND e.lat <= GREATEST(s.ay, s.by) + {dd}
  GROUP BY e.osm_id, e.ep
),
per_road AS (
  SELECT osm_id,
         MAX(CASE WHEN ep = 0 AND d2m <= {r2} THEN 1 ELSE 0 END) = 1 AS near0,
         MAX(CASE WHEN ep = 1 AND d2m <= {r2} THEN 1 ELSE 0 END) = 1 AS near1,
         MIN(CASE WHEN ep = 0 AND d2m <= {r2}
                  THEN CAST(floor(sqrt(d2m) * {fl(1000.0)}) AS BIGINT) END) AS d0_mm,
         MIN(CASE WHEN ep = 1 AND d2m <= {r2}
                  THEN CAST(floor(sqrt(d2m) * {fl(1000.0)}) AS BIGINT) END) AS d1_mm
  FROM per_ep GROUP BY osm_id
)
SELECT e.osm_id,
       CAST(floor(e.pe_x * {fl(1000.0)}) AS BIGINT) AS start_x_mm,
       CAST(floor(e.pe_y * {fl(1000.0)}) AS BIGINT) AS start_y_mm,
       COALESCE(p.near0, FALSE) AS near0,
       COALESCE(p.near1, FALSE) AS near1,
       COALESCE(p.near0, FALSE) AND COALESCE(p.near1, FALSE) AS hadj_3857,
       p.d0_mm, p.d1_mm
FROM eproj e LEFT JOIN per_road p USING (osm_id)
WHERE e.ep = 0"""


@register("q59_mercator_endpoint_dwithin", _q59_sql())
def q59_mercator_endpoint_dwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE EPSG:3857 endpoint DWithin — the reference's literal HAdj
    refine (07_assign_final_road_classification.sql:63-97: tertiary/
    tertiary_link endpoints within 50 3857-metres of an NH/SH/MDR/OH
    road's geom_3857), run through the real Web-Mercator forward kernel
    (functions/projection.mercator_steps: x = R*lam, y = R*atanh(sin phi),
    shared series, single-sourced for both engines).  Completes the
    projection family: q52/q55 cos-lat metres, q56 Mollweide, 3857 here —
    a user porting any ST_Transform(.., 3857) call now has the projection
    itself, not a semantic stand-in.  Emits each candidate's projected
    start point (mm) plus per-endpoint nearness and min 3857-distance.

    Scale shape: projection is a per-row codegen map BEFORE the join (one
    evaluation per endpoint / per segment vertex pair, never per
    candidate pair); candidates come from the same degree-space cell-
    cover equi-join as q55 (cover radius MERC_DWITHIN_M / MERC_M_PER_DEG,
    sound because 3857 stretches metres-per-degree only UPWARD from the
    equatorial rate); the exact planar refine runs INSIDE the
    (osm_id, ep) min-aggregate (the q55 codegen lesson).  Distances are
    emitted only for endpoints within the radius, where min over any
    complete candidate superset is identical in both engines;
    min(floor(sqrt(d2))) = floor(sqrt(min d2)) by monotonicity."""
    r = world.roads_materialized(spark, sf_dir)
    rt = classify.road_type(F.col("ref"), F.col("highway"))
    bik = F.col("highway").isin(W.BIKABLE)
    cand = r.filter(bik & F.col("highway").isin("tertiary", "tertiary_link")
                    & (rt == "Other"))
    hw = r.filter(bik & rt.isin("NH", "SH", "MDR", "HW"))

    e_steps, s_steps = _q59_merc_steps()
    eps = _road_endpoints(cand)
    eps = projection.apply_steps(eps, e_steps) \
        .select("osm_id", "ep", "lon", "lat", "pe_x", "pe_y")

    hsegs = world.segments(spark, sf_dir, hw) \
        .select(F.col("osm_id").alias("h_osm"), "ax", "ay", "bx", "by")
    hsegs = projection.apply_steps(hsegs, s_steps) \
        .select("ax", "ay", "bx", "by", "pa_x", "pa_y", "pb_x", "pb_y")

    # sub-CELL_DEG radius => radius-sized micro-grid keys (the q09 lesson).
    # Measured at sf0.1: full 1/128-deg cells 8.0 s; micro-grid with the
    # radius-expanded bbox on the fat segment side 5.8 s (12.6 cells/seg
    # shuffled); this ring-swap 3.9 s.  The
    # fat segment side explodes only its UNEXPANDED bbox cover (~2.5 cells/
    # seg); the 77k-row endpoint side takes the 3x3 ring.  Complete: an
    # endpoint within dd (< cell edge) of a segment is within dd of its
    # bbox, so the bbox's covering cell is inside the endpoint's ring.
    cover_deg = W.MERC_DWITHIN_M / W.MERC_M_PER_DEG
    m = cells.micro_grid_for_radius(cover_deg)
    scov = hsegs.withColumn(
        "_cell", F.explode(cells.bbox_cover(
            F.least("ax", "bx"), F.least("ay", "by"),
            F.greatest("ax", "bx"), F.greatest("ay", "by"), m))) \
        .select("_cell", "pa_x", "pa_y", "pb_x", "pb_y")
    ecov = eps.withColumn(
        "_cell", F.explode(cells.kring_of_point(
            F.col("lon"), F.col("lat"), m))) \
        .select("_cell", "osm_id", "ep", "pe_x", "pe_y")
    d2 = G.seg_point_dist2_deg(F.col("pa_x"), F.col("pa_y"),
                               F.col("pb_x"), F.col("pb_y"),
                               F.col("pe_x"), F.col("pe_y"))
    per_ep = (ecov.join(scov, "_cell")
              .groupBy("osm_id", "ep").agg(F.min(d2).alias("_d2")))
    hit = F.col("_d2") <= F.lit(W.MERC_DWITHIN_M * W.MERC_DWITHIN_M)
    mm = F.floor(F.sqrt("_d2") * F.lit(1000.0)).cast("long")
    per_road = per_ep.groupBy("osm_id").agg(
        (F.max(F.when((F.col("ep") == 0) & hit, 1).otherwise(0)) == 1).alias("near0"),
        (F.max(F.when((F.col("ep") == 1) & hit, 1).otherwise(0)) == 1).alias("near1"),
        F.min(F.when((F.col("ep") == 0) & hit, mm)).alias("d0_mm"),
        F.min(F.when((F.col("ep") == 1) & hit, mm)).alias("d1_mm"))
    start = eps.filter(F.col("ep") == 0).select(
        "osm_id",
        F.floor(F.col("pe_x") * F.lit(1000.0)).cast("long").alias("start_x_mm"),
        F.floor(F.col("pe_y") * F.lit(1000.0)).cast("long").alias("start_y_mm"))
    out = start.join(per_road, "osm_id", "left")
    n0 = F.coalesce(F.col("near0"), F.lit(False))
    n1 = F.coalesce(F.col("near1"), F.lit(False))
    return out.select("osm_id", "start_x_mm", "start_y_mm",
                      n0.alias("near0"), n1.alias("near1"),
                      (n0 & n1).alias("hadj_3857"), "d0_mm", "d1_mm")


# --------------------------------------------------------------------- q60
@register("q60_mollweide_ellipsoidal",
          _grid_area_sql(projection.mollweide_authalic_steps, "x", "y"))
def q60_mollweide_ellipsoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q56's grid overlay through the TRUE ellipsoidal EPSG:54009 kernel
    (authalic-latitude Mollweide on the authalic sphere — exactly PROJ's
    +proj=moll +ellps=WGS84 path; mollweide_authalic_steps).  Removes the
    spherical-vs-ellipsoidal caveat q56 declared in rounds 3-4: the
    remaining gap to the exact ellipsoidal transform is the O(e^8) Snyder
    series truncation, < 1 cm (pinned by test_projection).  Kept in the
    ungraded tail — the graded q56 stays the spherical default; the
    operator shape (per-row projection map, no shuffle) is graded there."""
    return _grid_areas(spark, projection.mollweide_authalic_steps, "x", "y")


# --------------------------------------------------------------------- q61
@register("q61_utm_grid_areas", _grid_area_sql(projection.utm_steps, "e", "n"))
def q61_utm_grid_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's LITERAL grid-area statement:
    ST_Area(ST_Transform(grid_geom, 32643))
    (road_classification/01_create_india_grids.sql:96) — per grid cell,
    project the corners with the EPSG:32643 transverse-Mercator kernel
    (functions/projection.utm_steps, Redfearn series, < 1 cm vs Karney)
    and take the planar shoelace area of the projected quad, which IS
    what ST_Area computes on a projected polygon.  Centroid easting/
    northing (mm) grades the forward transform per cell.  Completes the
    ST_Transform family: 3857 (q59), 54009 spherical (q56) + ellipsoidal
    (q60), 32643 here, cos-lat geography (q52/q55).  Same per-row
    no-shuffle map shape as q56; kept in the ungraded tail."""
    return _grid_areas(spark, projection.utm_steps, "e", "n")
