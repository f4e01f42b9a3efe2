"""Scenery joins of roads against landmark layers: point-in-polygon,
distance (hills, passes), coastline/beach, geodesic DWithin and admin-boundary
assignment.  Each builder sits beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, world
from ..functions import cells, geometry as G
from ..operators import spatial_join
from .shared import (
    _coast_hits_cte, _coast_sql_ctes, _reps_cte, _semi_sql, register)


# --------------------------------------------------------------------- q03
def _q03_sql() -> str:
    cross = og.point_in_poly_crossing("v.lon", "v.lat", "e.x1", "e.y1", "e.x2", "e.y2")
    flag_cols = ",\n         ".join(
        f"MAX(CASE WHEN layer = '{l}' THEN 1 ELSE 0 END) = 1 AS in_{l}"
        for l in W.POLY_LAYERS
    )
    sel_flags = ",\n       ".join(
        f"COALESCE(h.in_{l}, FALSE) AS in_{l}" for l in W.POLY_LAYERS
    )
    return f"""{oracle.with_world('verts', 'feat_edges')},
pip_pairs AS (
  SELECT v.osm_id, f.feature_id, f.layer
  FROM verts v
  JOIN feats f ON f.is_poly
    AND v.lon >= f.cx - f.r AND v.lon <= f.cx + f.r
    AND v.lat >= f.cy - f.r AND v.lat <= f.cy + f.r
  JOIN feat_edges e ON e.feature_id = f.feature_id
  GROUP BY v.osm_id, v.k, v.lon, v.lat, f.feature_id, f.layer
  HAVING SUM({cross}) % 2 = 1
),
road_flags AS (
  SELECT osm_id,
         {flag_cols},
         COUNT(DISTINCT feature_id) AS n_poly_features
  FROM pip_pairs GROUP BY osm_id
)
SELECT r.osm_id,
       {sel_flags},
       CAST(COALESCE(h.n_poly_features, 0) AS BIGINT) AS n_poly_features
FROM roads_base r LEFT JOIN road_flags h USING (osm_id)"""


@register("q03_point_in_polygon_scenery", _q03_sql())
def q03_point_in_polygon_scenery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/J11: vertex-in-polygon scenery flags via cell-cover PIP join;
    per-road max(exists) replaces the reference's iterative progressive
    filters (03_scenery_forest.sql:8-13 and friends)."""
    r = world.roads_materialized(spark, sf_dir)
    wn = world.way_nodes(spark, sf_dir, r).select(
        F.col("way_id").alias("osm_id"), "lon", "lat")
    polys = world.features(spark, sf_dir).filter(F.col("layer").isin(W.POLY_LAYERS))
    hits = spatial_join.point_in_polygon_join(wn, polys)
    aggs = [
        (F.max(F.when(F.col("layer") == l, 1).otherwise(0)) == 1).alias(f"in_{l}")
        for l in W.POLY_LAYERS
    ] + [F.countDistinct("feature_id").alias("n_poly_features")]
    flags = hits.groupBy("osm_id").agg(*aggs)
    out = r.select("osm_id").join(flags, "osm_id", "left")
    cols = [F.coalesce(F.col(f"in_{l}"), F.lit(False)).alias(f"in_{l}")
            for l in W.POLY_LAYERS]
    return out.select(
        "osm_id", *cols,
        F.coalesce(F.col("n_poly_features"), F.lit(0)).cast("long").alias("n_poly_features"))


# --------------------------------------------------------------------- q04
def _q04_sql() -> str:
    def hits(layer: str, d: float, name: str, rarity: int = 1) -> str:
        dd = oracle.fl(d)
        d2 = og.seg_point_dist2("s.ax", "s.ay", "s.bx", "s.by", "f.cx", "f.cy")
        rar = (f" AND f.feature_id % {rarity} = {W.PASS_RESIDUE}"
               if rarity > 1 else "")
        return f"""{name} AS (
  SELECT s.osm_id, COUNT(DISTINCT f.feature_id) AS n
  FROM segs s JOIN feats f ON f.layer = '{layer}'{rar}
    AND f.cx >= LEAST(s.ax, s.bx) - {dd} AND f.cx <= GREATEST(s.ax, s.bx) + {dd}
    AND f.cy >= LEAST(s.ay, s.by) - {dd} AND f.cy <= GREATEST(s.ay, s.by) + {dd}
  WHERE {d2} <= {dd} * {dd}
  GROUP BY s.osm_id
)"""

    return f"""{oracle.with_world('segs', 'feats')},
{hits('hills_nodes', W.DIST_HILL_DEG, 'hill_hits')},
{hits('mountain_pass', W.DIST_PASS_DEG, 'pass_hits', W.PASS_RARITY)}
SELECT r.osm_id,
       h.osm_id IS NOT NULL AS near_hill,
       p.osm_id IS NOT NULL AS near_pass,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hills
FROM roads_base r
LEFT JOIN hill_hits h USING (osm_id)
LEFT JOIN pass_hits p USING (osm_id)"""


@register("q04_distance_join_scenery", _q04_sql())
def q04_distance_join_scenery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: ST_DWithin(road, point feature, d) scenery flags — degree-space
    thresholds exactly as the reference uses them (04_scenery_hill.sql:7-26,
    11_mountain_pass.sql:8-14)."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    feats = world.features(spark, sf_dir)
    # narrow (osm_id, cell) presence table consumed by BOTH distance
    # branches below — localCheckpoint pays one serialize for two saved
    # explode+exact-test+distinct subtrees (the q44 narrow-table lesson;
    # A/B at sf0.1: q46 32.6->19.5s, q04 2.40->1.82s best-of-3)
    rcells = spatial_join.road_cells(s).localCheckpoint(eager=True)

    hpts = feats.filter(F.col("layer") == "hills_nodes") \
                .select("feature_id", "cx", "cy")
    hills = (spatial_join.distance_pairs_full_partial(s, rcells, hpts,
                                                      W.DIST_HILL_DEG)
             .groupBy("osm_id").agg(F.count("*").alias("n")))
    # near_pass is existence-only in the output, so the big-radius pass disk
    # (0.09 deg ~ 12 cells) takes the cell-set semi-join path — one feature
    # covering the urban core must NOT materialize a pair per core road
    ppts = (feats.filter((F.col("layer") == "mountain_pass")
                         & (F.col("feature_id") % W.PASS_RARITY
                            == W.PASS_RESIDUE))
            .select("feature_id", "cx", "cy"))
    passes = (spatial_join.roads_within_distance(s, rcells, ppts,
                                                 W.DIST_PASS_DEG)
              .withColumn("_pass", F.lit(1)))
    return (
        r.select("osm_id")
        .join(hills, "osm_id", "left")
        .join(passes, "osm_id", "left")
        .select(
            "osm_id",
            F.col("n").isNotNull().alias("near_hill"),
            F.col("_pass").isNotNull().alias("near_pass"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hills"),
        )
    )


# --------------------------------------------------------------------- q53
def _q53_sql() -> str:
    semi = _semi_sql()
    return f"""{oracle.with_world('verts', 'segs')},
{_coast_sql_ctes()},
{og.cand_cells_ctes()},
{_coast_hits_cte('hits')},
{_reps_cte()}
SELECT r.osm_id, r.highway,
       NOT {semi} AS rural,
       h.osm_id IS NOT NULL AS near_coast,
       NOT {semi} AND h.osm_id IS NOT NULL AS is_beach
FROM roads_base r
JOIN reps p USING (osm_id)
LEFT JOIN hits h USING (osm_id)"""


@register("q53_beach_scenery", _q53_sql())
def q53_beach_scenery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beach/coastline scenery layer (Lua3...lua:60-71 rs_coastline
    dispatch; sql/road_scenery/06_scenery_beach.sql): road_scenery_beach = 1
    iff the road is within ~100 m (0.001 deg -> binary 2/2048) of the
    coastline LINE feature and is rural — the one scenery layer with
    line-to-line DWithin semantics, distinct from lake/river polygon/point
    proximity.  The progressive 'exclude already-marked roads' filter of the
    reference is the EXISTS collapse here (distinct osm_id, order-free)."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    coast = world.coastline_segments(spark)
    hits = spatial_join.roads_within_line_distance(
        s, coast, W.BEACH_DIST_DEG).withColumn("hit", F.lit(True))
    rep = cells.rep_vertex()
    base = r.select("osm_id", "highway",
                    (~cells.in_semi_window(rep["lon"], rep["lat"])).alias("rural"))
    return (base.join(hits, "osm_id", "left")
            .select("osm_id", "highway", "rural",
                    F.coalesce("hit", F.lit(False)).alias("near_coast"),
                    (F.col("rural") & F.coalesce("hit", F.lit(False)))
                    .alias("is_beach")))


# --------------------------------------------------------------------- q55
def _q55_sql() -> str:
    dd = oracle.fl(W.GEO_DWITHIN_M / (W.M_PER_DEG * W.GEO_COS_FLOOR))
    d2 = og.seg_point_geo_dist2_m2("s.ax", "s.ay", "s.bx", "s.by",
                                   "f.cx", "f.cy")
    r2 = oracle.fl(W.GEO_DWITHIN_M * W.GEO_DWITHIN_M)
    return f"""{oracle.with_world('segs', 'feats')}
SELECT osm_id,
       CAST(COUNT(DISTINCT feature_id) AS BIGINT) AS n_geo_hills,
       MIN(dist_mm) AS min_geo_mm
FROM (
  SELECT s.osm_id, f.feature_id,
         CAST(floor(sqrt({d2}) * {oracle.fl(1000.0)}) AS BIGINT) AS dist_mm
  FROM segs s JOIN feats f ON f.layer = 'hills_nodes'
    AND f.cx >= LEAST(s.ax, s.bx) - {dd} AND f.cx <= GREATEST(s.ax, s.bx) + {dd}
    AND f.cy >= LEAST(s.ay, s.by) - {dd} AND f.cy <= GREATEST(s.ay, s.by) + {dd}
  WHERE {d2} <= {r2}
)
GROUP BY osm_id"""


@register("q55_geo_dwithin", _q55_sql())
def q55_geo_dwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geography-mode ST_DWithin — the metre-true distance predicate that
    completes the CRS trio (lengths q52, equal-area dissolve q35, distances
    here): roads within GEO_DWITHIN_M metres of a hill feature under the
    cos-lat equirectangular metric, with per-road feature count and min
    geodesic distance in mm.  The reference gets metre DWithin semantics by
    working in EPSG:3857 (50 m endpoint DWithin,
    sql/road_classification/07_assign_final_road_classification.sql:89-96;
    25 m buffers, road_scenery_v2/02_worldcover_sampling.sql:9) and measures
    lengths in geography (06_handle_roads...sql:21); this query is that
    metre semantics EXTRAPOLATED to the hill layer (04_scenery_hill.sql
    itself states the radius in degrees — q04 mirrors that directly).  The
    engine anchors cos at the feature latitude so both engines evaluate one
    shared exact tree (functions/geometry.seg_point_geo_dist2_m2).

    Scale shape: same two-phase join as q04 — feature disk covers (radius
    conservatively widened by 1/GEO_COS_FLOOR for the anisotropic metric)
    equi-joined to segment cell covers, exact refine, then ONE shuffle
    keyed on uniform osm_id.  Unlike the existence-only q04 flag, min
    distance needs the exact kernel on every candidate pair — and the
    kernel must run inside the (osm_id, feature_id) AGGREGATE, not a
    post-join filter: a filter referencing both sides is folded into the
    hash join's condition, where the big cos-lat tree evaluates INTERPRETED
    per candidate (measured 128 s at sf0.1); as min(d2)'s input it stays in
    whole-stage codegen (3-7 s).  The per-pair min also absorbs duplicate
    shared-cell candidates, so COUNT(DISTINCT) collapses to a plain count,
    and min(floor(sqrt(d2)*1000)) = floor(sqrt(min d2)*1000) because floor
    and a correctly-rounded sqrt are monotone — values identical to the
    oracle's per-candidate form."""
    s = world.segments(spark, sf_dir)
    pts = (world.features(spark, sf_dir)
           .filter(F.col("layer") == "hills_nodes")
           .select("feature_id", "cx", "cy"))
    cover_deg = W.GEO_DWITHIN_M / (W.M_PER_DEG * W.GEO_COS_FLOOR)
    scov = s.withColumn(
        "_cell", F.explode(cells.segment_cover(F.col("ax"), F.col("ay"),
                                               F.col("bx"), F.col("by"))))
    fcov = pts.withColumn(
        "_cell", F.explode(cells.disk_cover_of_point(F.col("cx"), F.col("cy"),
                                                     cover_deg)))
    d2 = G.seg_point_geo_dist2_m2(F.col("ax"), F.col("ay"), F.col("bx"),
                                  F.col("by"), F.col("cx"), F.col("cy"))
    r2 = F.lit(W.GEO_DWITHIN_M * W.GEO_DWITHIN_M)
    per_pair = (scov.join(fcov, "_cell")
                .groupBy("osm_id", "feature_id")
                .agg(F.min(d2).alias("_d2")))
    return (per_pair.filter(F.col("_d2") <= r2)
            .groupBy("osm_id").agg(
                F.count("*").cast("long").alias("n_geo_hills"),
                F.min(F.floor(F.sqrt(F.col("_d2")) * F.lit(1000.0))
                      .cast("long")).alias("min_geo_mm")))


# --------------------------------------------------------------------- q57
def _q57_sql() -> str:
    fl = oracle.fl
    cross = og.point_in_poly_crossing("p.rep_lon", "p.rep_lat",
                                      "e.x1", "e.y1", "e.x2", "e.y2")
    corner = og.point_in_poly_crossing("g.x0", "g.y0",
                                       "e.x1", "e.y1", "e.x2", "e.y2")
    edge_hit = og.seg_rect_hit(ax="e.x1", ay="e.y1", bx="e.x2", by="e.y2",
                               x0="g.x0", y0="g.y0", x1="g.x1", y1="g.y1")
    return f"""{oracle.with_world('verts', 'admin_edges', 'extra_edges', 'grid')},
{_reps_cte()},
admin_hits AS (
  SELECT p.osm_id, a.admin_id, a.level
  FROM reps p
  JOIN admin a ON p.rep_lon >= a.cx - a.r AND p.rep_lon <= a.cx + a.r
              AND p.rep_lat >= a.cy - a.r AND p.rep_lat <= a.cy + a.r
  JOIN admin_edges e USING (admin_id)
  GROUP BY p.osm_id, p.rep_lon, p.rep_lat, a.admin_id, a.level
  HAVING SUM({cross}) % 2 = 1
),
road_admin AS (
  SELECT osm_id,
         MAX(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS c,
         MIN(CASE WHEN level = 4 THEN admin_id END) AS state_raw,
         COUNT(DISTINCT CASE WHEN level = 4 THEN admin_id END) AS n_states
  FROM admin_hits GROUP BY osm_id
),
extra_hits AS (
  SELECT p.osm_id, f.feature_id, f.layer
  FROM reps p
  JOIN extra_feats f ON p.rep_lon >= f.cx - f.r AND p.rep_lon <= f.cx + f.r
                    AND p.rep_lat >= f.cy - f.r AND p.rep_lat <= f.cy + f.r
  JOIN extra_edges e USING (feature_id)
  GROUP BY p.osm_id, p.rep_lon, p.rep_lat, f.feature_id, f.layer
  HAVING SUM({cross}) % 2 = 1
),
road_extra AS (
  SELECT osm_id,
         MAX(CASE WHEN layer = 'protected_area' THEN 1 ELSE 0 END) AS prot,
         MAX(CASE WHEN layer = 'shrub' THEN 1 ELSE 0 END) AS shr
  FROM extra_hits GROUP BY osm_id
),
{og.cover_ctes("admin_cells", "admin", "(cx - r)", "(cy - r)",
               "(cx + r)", "(cy + r)", keep="admin_id, level")},
cell_admin AS (
  SELECT g.grid_id, ac.level
  FROM admin_cells ac
  JOIN grid g USING (grid_id)
  JOIN admin_edges e USING (admin_id)
  GROUP BY g.grid_id, ac.admin_id, ac.level, g.x0, g.y0, g.x1, g.y1
  HAVING MAX(CASE WHEN {edge_hit} THEN 1 ELSE 0 END) = 1
      OR SUM({corner}) % 2 = 1
),
valid AS (SELECT grid_id, MIN(level) AS valid_level FROM cell_admin GROUP BY grid_id)
SELECT p.osm_id,
       COALESCE(ra.c, 0) = 1 AS in_country,
       CAST(COALESCE(ra.state_raw, -1) AS BIGINT) AS state_id,
       CAST(COALESCE(ra.n_states, 0) AS BIGINT) AS n_states,
       COALESCE(rx.prot, 0) = 1 AS in_protected,
       COALESCE(rx.shr, 0) = 1 AS in_shrub,
       CAST(COALESCE(v.valid_level, 0) AS BIGINT) AS rep_valid_level
FROM reps p
LEFT JOIN road_admin ra USING (osm_id)
LEFT JOIN road_extra rx USING (osm_id)
LEFT JOIN valid v ON v.grid_id = p.rep_cell"""


@register("q57_admin_bounds", _q57_sql())
def q57_admin_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three dispatch layers the engine lacked (VERDICT r3 missing #3):
    rs_india_bounds administrative relations (Lua3...lua:443-457), rs_protected
    (boundary=protected_area, :359-367) and rs_shrub (natural=scrub/heath/...,
    :368-377), all query-covered at once.

    Semantics mirror the reference's two distinct uses: (a) roads are
    assigned to admin areas by containment of a single REPRESENTATIVE point
    — not the any-vertex rule of the forest/desert scenery layers — giving
    country membership, state assignment (min containing level-4 id) and the
    rep-point protected/shrub flags; (b) grid cells are validated by the
    admin-level ESCALATION ladder of 01_create_india_grids.sql:55-90
    (valid if intersecting a level-2 boundary, else level-4, else level-5 —
    i.e. MIN intersecting level; 0 = the reference's DELETEd invalid cells),
    with exact cell-pentagon intersection = any-edge Liang-Barsky hit OR
    cell-corner containment.

    Scale shape: admin bounds are an O(1) dimension (25 rows) — every join
    against them is a cell-cover equi-join that broadcasts; shrub/protected
    are O(sf) features joined through the same two-phase cell-cover PIP as
    q03.  One osm_id shuffle for each rollup; no pair distinct anywhere."""
    r = world.roads_materialized(spark, sf_dir)
    rep = cells.rep_vertex()
    reps = r.select("osm_id", rep["lon"].alias("lon"), rep["lat"].alias("lat"))
    admin = world.admin_areas(spark, sf_dir)

    ah = spatial_join.point_in_polygon_join(reps, admin)
    road_admin = ah.groupBy("osm_id").agg(
        F.max(F.when(F.col("level") == 2, 1).otherwise(0)).alias("c"),
        F.min(F.when(F.col("level") == 4, F.col("admin_id"))).alias("state_raw"),
        F.countDistinct(F.when(F.col("level") == 4, F.col("admin_id")))
        .alias("n_states"))

    eh = spatial_join.point_in_polygon_join(reps, world.extra_features(spark, sf_dir))
    road_extra = eh.groupBy("osm_id").agg(
        F.max(F.when(F.col("layer") == "protected_area", 1).otherwise(0)).alias("prot"),
        F.max(F.when(F.col("layer") == "shrub", 1).otherwise(0)).alias("shr"))

    g = world.grids(spark)
    ac = admin.withColumn(
        "_cell", F.explode(cells.bbox_cover(F.col("xmin"), F.col("ymin"),
                                            F.col("xmax"), F.col("ymax"))))
    cand = g.join(ac.select(F.col("_cell").alias("grid_id"), "level", "edges"),
                  "grid_id")
    edge_hit = F.exists(
        "edges", lambda e: G.seg_rect_intersects(
            e["x1"], e["y1"], e["x2"], e["y2"],
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")))
    corner_in = G.point_in_poly(F.col("x0"), F.col("y0"), F.col("edges"))
    valid = (cand.filter(edge_hit | corner_in)
             .groupBy("grid_id").agg(F.min("level").alias("valid_level")))

    base = reps.select(
        "osm_id", cells.cell_of_point(F.col("lon"), F.col("lat")).alias("rep_cell"))
    return (base
            .join(road_admin, "osm_id", "left")
            .join(road_extra, "osm_id", "left")
            .join(valid.withColumnRenamed("grid_id", "rep_cell"), "rep_cell", "left")
            .select(
                "osm_id",
                (F.coalesce("c", F.lit(0)) == 1).alias("in_country"),
                F.coalesce("state_raw", F.lit(-1)).cast("long").alias("state_id"),
                F.coalesce("n_states", F.lit(0)).cast("long").alias("n_states"),
                (F.coalesce("prot", F.lit(0)) == 1).alias("in_protected"),
                (F.coalesce("shr", F.lit(0)) == 1).alias("in_shrub"),
                F.coalesce("valid_level", F.lit(0)).cast("long")
                .alias("rep_valid_level")))
