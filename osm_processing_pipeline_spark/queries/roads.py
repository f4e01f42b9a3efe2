"""Road network and tiling queries: classification, tile assignment, kNN,
k-ring smoothing, intersections, curvature, endpoint upgrade, urban clusters
and their dissolves, degradation, speeds, vector tiles, length and relation
rollups, conflict nodes, the checkpointed pieces stage and its metrics, lane
and denylist filters, DBSCAN, the analysis summary and geodesic length.  Each
builder sits beside its DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, world
from ..functions import cells, geometry as G
from ..operators import classify, knn, spatial_join
from .shared import (
    _FOURLANE_SQL, _LANES_FIRST_SQL, _cl_sql_ctes, _curvature_rollup,
    _dg_sql_ctes, _endpoint_proximity_upgrade, _hadj_sql_ctes, _isect_cte,
    _persona_norm_ctes, _reps_cte, _road_len_cte, _setting_sql,
    _sql_parse_lanes, _sql_road_type, _tw_sql_ctes, _urban_comp_sql_ctes,
    register)


# --------------------------------------------------------------------- q01
def _q01_sql() -> str:
    bik = oracle.str_list(W.BIKABLE)
    rt = _sql_road_type("r")
    setting = _setting_sql()
    return f"""{oracle.with_world('segs', 'grid')},
{_cl_sql_ctes()},
{_road_len_cte()}
SELECT r.osm_id, r.highway,
       {rt} AS road_type,
       r.highway IN ({bik}) AS bikable,
       CAST(COALESCE(c.n_cells, 0) AS BIGINT) AS n_cells,
       COALESCE(c.n_cells, 0) > 1 AS multi_grid,
       {setting} AS road_setting,
       {rt} || '_' || {setting} AS road_classification,
       CAST(COALESCE(t.total_len_um, 0) AS BIGINT) AS total_len_um,
       CAST(COALESCE(c.u, 0) AS BIGINT) AS urban_len_um,
       CAST(COALESCE(c.s, 0) AS BIGINT) AS semiurban_len_um,
       CAST(COALESCE(c.ru, 0) AS BIGINT) AS rural_len_um
FROM roads_base r
LEFT JOIN road_len t USING (osm_id)
LEFT JOIN cl_per c USING (osm_id)"""


@register("q01_road_grid_classification", _q01_sql())
def q01_road_grid_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship J1+A1+P6: road x grid cover join -> exact clip -> class rollup."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    g = world.grids(spark)
    out = classify.classify_roads(r, s, g)
    longs = ["n_cells", "total_len_um", "urban_len_um", "semiurban_len_um",
             "rural_len_um"]
    for c in longs:
        out = out.withColumn(c, F.col(c).cast("long"))
    return out


# --------------------------------------------------------------------- q02
def _q02_sql() -> str:
    return f"""{oracle.with_world('segs', 'grid')},
{og.cand_cells_ctes()},
pieces AS (
  SELECT c.osm_id, c.grid_id
  FROM seg_cells c JOIN grid g USING (grid_id)
  WHERE {og.seg_rect_hit()}
),
{_reps_cte()},
mins AS (SELECT osm_id, MIN(grid_id) AS min_cell FROM pieces GROUP BY osm_id)
SELECT reps.osm_id, reps.rep_cell, mins.min_cell
FROM reps LEFT JOIN mins USING (osm_id)"""


@register("q02_tile_assignment", _q02_sql())
def q02_tile_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: deterministic tile assignment — representative-vertex cell (pure
    encode) + min intersecting cell (ORDER BY grid_id LIMIT 1 made associative,
    persona_v2_run.py:222-243)."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    g = world.grids(spark)
    return classify.tile_assignment(r, s, g)


# --------------------------------------------------------------------- q05
def _q05_sql() -> str:
    d2 = og.point_dist2("q.qx", "q.qy", "n.lon", "n.lat")
    return f"""{oracle.with_world('verts', 'qpts')},
nodes AS (SELECT DISTINCT node_id, lon, lat FROM verts),
cand AS (
  SELECT q.query_id, n.node_id, {d2} AS d2
  FROM qpts q CROSS JOIN nodes n
),
ranked AS (
  SELECT query_id, node_id, d2,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, node_id) AS rank
  FROM cand
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, node_id, d2
FROM ranked WHERE rank <= {W.KNN_K}"""


@register("q05_knn", _q05_sql())
def q05_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: exact kNN via escalating k-ring expansion with ring-sufficiency
    proof; brute-force residue fallback."""
    q = world.query_points(spark, sf_dir)
    nodes = world.way_nodes(spark, sf_dir).select("node_id", "lon", "lat").distinct()
    out = knn.knn_join(q, nodes, W.KNN_K)
    return out.select("query_id", F.col("rank").cast("long").alias("rank"),
                      "node_id", "d2")


# --------------------------------------------------------------------- q06
def _q06_sql() -> str:
    return f"""{oracle.with_world('segs', 'grid')},
{og.cand_cells_ctes()},
pieces AS (
  SELECT c.osm_id, c.grid_id
  FROM seg_cells c JOIN grid g USING (grid_id)
  WHERE {og.seg_rect_hit()}
),
cellcnt AS (SELECT grid_id, COUNT(DISTINCT osm_id) AS cnt FROM pieces GROUP BY grid_id),
allcells AS (
  SELECT g.grid_id, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
  FROM grid g LEFT JOIN cellcnt c USING (grid_id)
),
ring_i AS (
  SELECT grid_id AS src, grid_id % {W.NX} AS i, grid_id // {W.NX} AS j, cnt,
         unnest(generate_series(-2, 2)) AS di
  FROM allcells
),
contrib AS (
  SELECT (j + dj) * {W.NX} + (i + di) AS grid_id, cnt
  FROM (SELECT *, unnest(generate_series(-2, 2)) AS dj FROM ring_i)
  WHERE i + di BETWEEN 0 AND {W.NX - 1} AND j + dj BETWEEN 0 AND {W.NY - 1}
),
smooth AS (
  SELECT grid_id, SUM(cnt) AS ring_sum, COUNT(*) AS ring_cells
  FROM contrib GROUP BY grid_id
)
SELECT a.grid_id, a.cnt,
       CAST(s.ring_sum AS BIGINT) AS ring_sum,
       CAST(s.ring_cells AS BIGINT) AS ring_cells,
       CAST((s.ring_sum * 1000) // s.ring_cells AS BIGINT) AS smoothed_permille
FROM allcells a JOIN smooth s USING (grid_id)"""


@register("q06_kring_smoothing", _q06_sql())
def q06_kring_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: neighborhood-smoothed road density per cell — the reference's
    reinforced-pressure self-join (06_compute_reinforced_pressure_chunked.sql:4-16)
    re-expressed as a computable k-ring contribution join (no geometric
    self-join, no skew: contributions fan out 25x then hash-agg)."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    g = world.grids(spark)
    pieces = spatial_join.segment_cell_pieces(s, g)
    cellcnt = pieces.groupBy("grid_id").agg(F.countDistinct("osm_id").alias("cnt"))
    allcells = (
        g.select("grid_id").join(cellcnt, "grid_id", "left")
        .select("grid_id", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("cnt"))
    )
    contrib = allcells.select(
        F.explode(cells.kring(F.col("grid_id"), 2)).alias("grid_id"),
        F.col("cnt"),
    )
    smooth = contrib.groupBy("grid_id").agg(
        F.sum("cnt").alias("ring_sum"), F.count("*").alias("ring_cells"))
    return (
        allcells.join(smooth, "grid_id")
        .select(
            "grid_id", "cnt",
            F.col("ring_sum").cast("long").alias("ring_sum"),
            F.col("ring_cells").cast("long").alias("ring_cells"),
            F.expr("CAST((ring_sum * 1000) DIV ring_cells AS BIGINT)").alias("smoothed_permille"),
        )
    )


# --------------------------------------------------------------------- q07
def _q07_sql() -> str:
    return f"""{oracle.with_world('verts')},
{_isect_cte()}
SELECT node_id, CAST(n_ways AS BIGINT) AS n_ways, CAST(n_types AS BIGINT) AS n_types,
       mid = 1 AS has_mid,
       CASE WHEN n_ways >= 4 THEN 'major'
            WHEN n_ways = 3 THEN 'three_way'
            ELSE 'crossing' END AS category
FROM isect"""


@register("q07_intersection_detection", _q07_sql())
def q07_intersection_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: shared-node intersection detection + categorization
    (01_find_and_categorize_intersections_v2.sql:52-73): >=2 distinct ways AND
    (>=3 ways OR >=2 road types OR a mid-way crossing)."""
    from ..operators import scoring

    # two-phase: dedup (node, way) first -> single distinct at node level
    # (no Expand; see operators/scoring.intersection_degradation)
    per_edge = scoring.node_way_edges(world.way_nodes(spark, sf_dir))
    stats = per_edge.groupBy("node_id").agg(
        F.count("*").alias("n_ways"),
        F.countDistinct("highway").alias("n_types"),
        F.max("mid").alias("mid"),
    )
    out = stats.filter(
        (F.col("n_ways") >= 2)
        & ((F.col("n_ways") >= 3) | (F.col("n_types") >= 2) | (F.col("mid") == 1))
    )
    return out.select(
        "node_id",
        F.col("n_ways").cast("long").alias("n_ways"),
        F.col("n_types").cast("long").alias("n_types"),
        (F.col("mid") == 1).alias("has_mid"),
        F.when(F.col("n_ways") >= 4, "major")
         .when(F.col("n_ways") == 3, "three_way")
         .otherwise("crossing").alias("category"),
    )


# --------------------------------------------------------------------- q08
def _q08_sql() -> str:
    cut_hi = int(W.TWIST_CUT_HI * 1000)
    cut_lo = int(W.TWIST_CUT_LO * 1000)
    return f"""{oracle.with_world('verts')},
{_tw_sql_ctes()}
SELECT r.osm_id,
       CAST(COALESCE(t.total_len_um, 0) AS BIGINT) AS total_len_um,
       CAST(COALESCE(o.sharp_len_um, 0) AS BIGINT) AS sharp_len_um,
       CAST(COALESCE(o.broad_len_um, 0) AS BIGINT) AS broad_len_um,
       CAST(COALESCE(o.n_sharp, 0) AS BIGINT) AS n_sharp,
       CAST(COALESCE(o.n_broad, 0) AS BIGINT) AS n_broad,
       CAST(COALESCE(o.n_suppressed, 0) AS BIGINT) AS n_suppressed,
       p.twist_permille,
       CASE WHEN p.twist_permille >= {cut_hi} THEN 'twisty'
            WHEN p.twist_permille >= {cut_lo} THEN 'curvy'
            ELSE 'straight' END AS curve_class
FROM roads_base r
LEFT JOIN tw_roll o USING (osm_id)
LEFT JOIN tw_tot t USING (osm_id)
LEFT JOIN tw_p p USING (osm_id)"""


@register("q08_curvature", _q08_sql())
def q08_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W1/W2 + conflict suppression: per-way curvature rollup through the
    vectorized Arrow kernel (mapInPandas over nested vertex arrays — no
    shuffle; flat-vectorized numpy, no per-row Python)."""
    return _curvature_rollup(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q09
def _q09_sql() -> str:
    return f"""{oracle.with_world('verts')},
{_hadj_sql_ctes()}
SELECT r.osm_id,
       COALESCE(p.near0, FALSE) AS near0,
       COALESCE(p.near1, FALSE) AS near1,
       COALESCE(p.hadj_upgrade, FALSE) AS hadj_upgrade
FROM roads_base r LEFT JOIN h_per p USING (osm_id)"""


@register("q09_endpoint_proximity_upgrade", _q09_sql())
def q09_endpoint_proximity_upgrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: HAdj upgrade — both road endpoints within d of an NH/SH/MDR road's
    vertices (07_assign_final_road_classification.sql:63-97).

    The join keys on a RADIUS-SIZED micro-grid (d = 1/512 deg exactly, so a
    512x512 grid), not the 128x128 tiling cells: with a radius of 1/4 cell,
    keying on full cells makes the dense urban core quadratic (tens of
    thousands of highway vertices x thousands of endpoints per hot cell —
    measured 41 s at sf0.1); radius-sized keys bound each bucket's density
    by the true collision neighborhood and the same join runs in ~1 s.
    Highway vertices take the 3x3 micro-ring (completeness: any point within
    d is inside the ring, clamped consistently at the world border); the
    exact d^2 refine is unchanged.

    The highway side is further deduped to DISTINCT POSITIONS carrying two
    owner witnesses (min/max h_osm): coordinates are quantized (1/2048), so
    the urban core piles ~17 coincident vertices per position — the dedup
    shrinks the join fan-out by that factor, and "some owner != this road"
    is exactly (min_h != osm OR max_h != osm)."""
    r = world.roads_materialized(spark, sf_dir)
    return _endpoint_proximity_upgrade(r, r)


# --------------------------------------------------------------------- q27
def _q27_sql() -> str:
    return f"""WITH RECURSIVE {_urban_comp_sql_ctes()}
SELECT c.grid_id, c.component,
       CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT) AS component_size
FROM comp c"""


def _urban_cells(spark: SparkSession) -> DataFrame:
    """grid_id of every urban-pressure cell: the vertex set of the urban
    clusters q27, q35 and q48 measure."""
    from ..operators import zonal
    from ..sources.raster import raster_tiles

    press = zonal.urban_pressure(zonal.zonal_cell_sums(raster_tiles(spark)))
    return press.filter(F.col("pressure_class") == "urban").select("grid_id")


@register("q27_urban_clusters", _q27_sql())
def q27_urban_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: connected components over urban-cell 4-adjacency (ST_Cluster*
    analogue) via driver-side union-find over the collected urban cells."""
    from pyspark.sql import Window

    from ..operators import clusters

    comp = clusters.connected_components(_urban_cells(spark))
    w = Window.partitionBy("component")
    return comp.select(
        "grid_id", "component",
        F.count("*").over(w).cast("long").alias("component_size"))


# --------------------------------------------------------------------- q28
def _q28_sql() -> str:
    return f"""{oracle.with_world('verts', 'segs')},
{_dg_sql_ctes()}
SELECT osm_id, CAST(n_int AS BIGINT) AS n_int, max_red_ppm,
       CAST(sum_red_ppm AS BIGINT) AS sum_red_ppm,
       CAST(total_len_um AS BIGINT) AS total_len_um, final_red_ppm
FROM dg"""


@register("q28_intersection_degradation", _q28_sql())
def q28_intersection_degradation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+W3: per-way intersection speed degradation — weighted-average vs
    sorted-fold multiplicative stacking 1-PROD(1-r)
    (03_calculate_base_degradation_v2.sql:16-69)."""
    from ..operators import scoring

    r = world.roads_materialized(spark, sf_dir)
    wn = world.way_nodes(spark, sf_dir, r)
    s = world.segments(spark, sf_dir, r)
    return scoring.intersection_degradation(wn, s)


# --------------------------------------------------------------------- q31
def _q31_sql() -> str:
    base = " ".join(f"WHEN '{h}' THEN {v}" for h, v in W.SPEED_BASE.items())
    surf = " ".join(f"WHEN '{s}' THEN {p}" for s, p in W.SPEED_SURFACE_PCT.items()
                    if s is not None)
    lanes = _sql_parse_lanes()
    return f"""{oracle.with_world('roads_base')},
parsed AS (
  SELECT osm_id, highway, surface,
         CAST({lanes} AS BIGINT) AS lanes_parsed,
         CAST(CASE highway {base} ELSE 0 END AS BIGINT) AS base_kph,
         CAST(CASE surface {surf} ELSE {W.SPEED_SURFACE_PCT[None]} END AS BIGINT) AS surf_pct
  FROM roads_base
)
SELECT osm_id, highway, surface, lanes_parsed, base_kph,
       CAST((base_kph * surf_pct *
             CASE WHEN lanes_parsed >= {W.SPEED_LANE_MIN}
                  THEN {100 + W.SPEED_LANE_BONUS_PCT} ELSE 100 END) // 10000
            AS BIGINT) AS speed_kph
FROM parsed"""


@register("q31_avg_speed", _q31_sql())
def q31_avg_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 + speed ladder: regex lane parsing, highway base x surface pct x
    lane bonus, all-integer (avg_speed_kph_run.py:226-330)."""
    from ..operators import scoring

    return scoring.avg_speed(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q32
def _q32_sql() -> str:
    """True global-tolerance Douglas-Peucker, twin of operators/tiles.py:
    endpoints seed the kept set; each of the NV_MAX - 2 fixpoint iterations
    splits every consecutive-kept chord at its max-deviation interior vertex
    (exact seg-point kernel, smallest-k tie-break) iff that deviation
    exceeds the GLOBAL tolerance.  The previous/next kept vertex of each row
    is an atomic struct MIN/MAX window over {'k', 'x', 'y'} (k leads, so the
    lexicographic extreme IS the nearest kept row), mirroring the Spark
    side's kept-index-array fold."""
    lenm = og.seg_len_m("px_lon", "px_lat", "lon", "lat")
    rt = _sql_road_type("v")
    fl = oracle.fl
    dev2 = og.seg_point_dist2("pv['x']", "pv['y']", "nx['x']", "nx['y']",
                              "lon", "lat")
    parts = []
    ctes = []
    for zi, (zoom, t, tol) in enumerate(W.ZOOMS):
        tol2 = tol * tol
        ctes.append(f"""
z{zi}i0 AS (
  SELECT osm_id, highway, ref, nv, k, lon, lat,
         (k = 0 OR k = nv - 1) AS kept
  FROM verts
)""".strip())
        n_iter = W.NV_MAX - 2
        for it in range(n_iter):
            ctes.append(f"""
z{zi}i{it + 1} AS (
  SELECT osm_id, highway, ref, nv, k, lon, lat,
         kept OR (dev2 IS NOT NULL AND dev2 > {fl(tol2)}
                  AND k = MIN(CASE WHEN dev2 = maxd THEN k END)
                          OVER (PARTITION BY osm_id, pk)) AS kept
  FROM (
    SELECT *, MAX(dev2) OVER (PARTITION BY osm_id, pk) AS maxd
    FROM (
      SELECT osm_id, highway, ref, nv, k, lon, lat, kept,
             pv['k'] AS pk,
             CASE WHEN NOT kept THEN {dev2} END AS dev2
      FROM (
        SELECT *,
               MAX(CASE WHEN kept THEN {{'k': k, 'x': lon, 'y': lat}} END)
                 OVER (PARTITION BY osm_id ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
               MIN(CASE WHEN kept THEN {{'k': k, 'x': lon, 'y': lat}} END)
                 OVER (PARTITION BY osm_id ORDER BY k
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
        FROM z{zi}i{it}
      )
    )
  )
)""".strip())
        ctes.append(f"""
z{zi}f AS (
  SELECT osm_id, highway, ref, nv, k, lon, lat
  FROM z{zi}i{n_iter} WHERE kept
)""".strip())
        prev = f"z{zi}f"
        tx = f"GREATEST(0, LEAST({t - 1}, CAST(floor(rep_lon * {t}) AS BIGINT)))"
        ty = f"GREATEST(0, LEAST({t - 1}, CAST(floor(rep_lat * {t}) AS BIGINT)))"
        parts.append(f"""
SELECT CAST({zoom} AS BIGINT) AS zoom,
       ({ty}) * {t} + ({tx}) AS tile_id,
       s.osm_id, s.highway, s.road_type,
       s.n_pts_full, s.n_pts, s.simplified_len_um
FROM (
  SELECT v.osm_id, ANY_VALUE(v.highway) AS highway, ANY_VALUE({rt}) AS road_type,
         ANY_VALUE(v.nv) AS nv,
         CAST(ANY_VALUE(v.nv) AS BIGINT) AS n_pts_full,
         CAST(COUNT(*) AS BIGINT) AS n_pts,
         CAST(COALESCE(SUM(CASE WHEN px_lon IS NULL THEN 0
                            ELSE {og.quantize_um(lenm)} END), 0) AS BIGINT)
           AS simplified_len_um
  FROM (
    SELECT *,
           LAG(lon) OVER (PARTITION BY osm_id ORDER BY k) AS px_lon,
           LAG(lat) OVER (PARTITION BY osm_id ORDER BY k) AS px_lat
    FROM {prev}
  ) v
  GROUP BY v.osm_id
) s
JOIN reps r ON r.osm_id = s.osm_id""")
    return (f"{oracle.with_world('verts')},\n{_reps_cte()},\n"
            + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(parts))


@register("q32_vector_tiles", _q32_sql())
def q32_vector_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: per-zoom vector-tile materialization — tile assignment + TRUE
    global-tolerance Douglas-Peucker (deviation measured against the
    ORIGINAL line's chords, endpoints always kept — the exact guarantee
    shape of ST_SimplifyPreserveTopology) + simplified length
    (vis_persona_v2_normalised_z10.sql:44-66;
    ST_SimplifyPreserveTopology(geom, 0.0005) at :55)."""
    from ..operators import tiles

    return tiles.vector_tiles(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q33
def _q33_sql() -> str:
    lenm = og.seg_len_m()
    return f"""{oracle.with_world('segs')},
totals AS (
  SELECT s.osm_id, ANY_VALUE(s.highway) AS highway,
         SUM({og.quantize_um(lenm)}) AS total_len_um
  FROM segs s GROUP BY s.osm_id
),
ranked AS (
  SELECT highway, total_len_um,
         ROW_NUMBER() OVER (PARTITION BY highway
                            ORDER BY total_len_um, osm_id) AS rn,
         COUNT(*) OVER (PARTITION BY highway) AS n
  FROM totals
)
SELECT highway,
       CAST(MAX(n) AS BIGINT) AS n_roads,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN total_len_um END) AS BIGINT) AS median_len_um,
       CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN total_len_um END) AS BIGINT) AS p90_len_um
FROM ranked GROUP BY highway"""


@register("q33_length_percentiles", _q33_sql())
def q33_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9: per-class discrete percentiles (rank-based, exact) — the
    validation-pack summary stats (99_validation.sql:20-28).

    Scale note: EXACT per-class percentiles need a total order within the
    class (one sorted reducer per highway; classes spread the work).  At
    10^12 rows the swap is percentile_approx or a length-quantized
    pre-aggregation (q51's bounded-key cumsum shape); exactness is what the
    validation pack is for, so the exact variant stays the graded one."""
    from pyspark.sql import Window

    from ..operators import scoring

    s = world.segments(spark, sf_dir)
    totals = s.groupBy("osm_id").agg(F.min("highway").alias("highway"),
                                     scoring.total_len_um())
    w = Window.partitionBy("highway").orderBy("total_len_um", "osm_id")
    wc = Window.partitionBy("highway")
    ranked = totals.select(
        "highway", "total_len_um",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"))
    return ranked.groupBy("highway").agg(
        F.max("n").cast("long").alias("n_roads"),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"),
                     F.col("total_len_um"))).cast("long").alias("median_len_um"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"),
                     F.col("total_len_um"))).cast("long").alias("p90_len_um"))


# --------------------------------------------------------------------- q34
def _q34_sql() -> str:
    return """WITH mem AS (
  SELECT DISTINCT l_orderkey AS relation_id, l_linenumber FROM lineitem
),
ranked AS (
  SELECT relation_id,
         relation_id * 8 + l_linenumber AS osm_id,
         ROW_NUMBER() OVER (PARTITION BY relation_id ORDER BY l_linenumber) AS seq,
         COUNT(*) OVER (PARTITION BY relation_id) AS n_members
  FROM mem
)
SELECT relation_id, osm_id, CAST(seq AS BIGINT) AS seq,
       CAST(n_members AS BIGINT) AS n_members,
       CASE relation_id % 3 WHEN 0 THEN 'NH_route'
            WHEN 1 THEN 'SH_route' ELSE 'local_route' END AS route_type
FROM ranked WHERE n_members >= 2"""


@register("q34_relation_members", _q34_sql())
def q34_relation_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: relation-membership extraction — ordered member ways per route
    relation (Lua3...lua:428-441, osm_relation_ways)."""
    from pyspark.sql import Window

    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .select("l_orderkey", "l_linenumber").distinct())
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    wc = Window.partitionBy("l_orderkey")
    out = li.select(
        F.col("l_orderkey").alias("relation_id"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("osm_id"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.count("*").over(wc).cast("long").alias("n_members"),
    ).filter(F.col("n_members") >= 2)
    route = (
        F.when(F.col("relation_id") % 3 == 0, "NH_route")
        .when(F.col("relation_id") % 3 == 1, "SH_route")
        .otherwise("local_route"))
    return out.withColumn("route_type", route)


# --------------------------------------------------------------------- q35
def _q35_sql() -> str:
    fl = oracle.fl
    return f"""WITH RECURSIVE {_urban_comp_sql_ctes()}
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS area_cells,
       CAST(MIN(grid_id % {W.NX}) AS BIGINT) AS bbox_i0,
       CAST(MAX(grid_id % {W.NX}) AS BIGINT) AS bbox_i1,
       CAST(MIN(grid_id // {W.NX}) AS BIGINT) AS bbox_j0,
       CAST(MAX(grid_id // {W.NX}) AS BIGINT) AS bbox_j1,
       CAST(SUM(grid_id % {W.NX}) AS BIGINT) AS centroid_i_sum,
       CAST(SUM(grid_id // {W.NX}) AS BIGINT) AS centroid_j_sum,
       CAST(SUM(CAST(floor({fl((W.CELL_DEG * W.M_PER_DEG) ** 2)}
         * {og.cos_lat(f"((CAST(grid_id // {W.NX} AS DOUBLE) + {fl(0.5)}) * {fl(W.CELL_DEG)})")})
         AS BIGINT)) AS BIGINT) AS geo_area_m2
FROM comp GROUP BY component"""


@register("q35_cluster_dissolve", _q35_sql())
def q35_cluster_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: per-cluster dissolve rollup — area, bbox, centroid sums
    (ST_UnaryUnion(ST_Collect(...)) + area/centroid/bbox,
    01_clusters_opt1_test.sql:59-99) as exact integer cell aggregates.
    ``geo_area_m2`` is the equal-area metric the reference computes by
    reprojecting to UTM 32643 / Mollweide 54009
    (01_create_india_grids.sql:96, 01_create_india_grids_54009.sql:7-20):
    each cell's planar area scaled by cos(latitude at the cell center) via
    the shared trig-free Taylor tree (functions/geometry.cos_lat), floored
    per cell so the sum is order-free and engine-identical."""
    from ..operators import clusters

    comp = clusters.connected_components(_urban_cells(spark))
    i, j = cells.cell_ij(F.col("grid_id"))
    _, latc = cells.cell_center(F.col("grid_id"))
    cell_geo = F.floor(F.lit(W.CELL_M ** 2) * G.cos_lat(latc)).cast("long")
    return comp.select("component", i.alias("i"), j.alias("j"),
                       cell_geo.alias("cell_geo")) \
        .groupBy("component").agg(
        F.count("*").cast("long").alias("area_cells"),
        F.min("i").alias("bbox_i0"), F.max("i").alias("bbox_i1"),
        F.min("j").alias("bbox_j0"), F.max("j").alias("bbox_j1"),
        F.sum("i").alias("centroid_i_sum"), F.sum("j").alias("centroid_j_sum"),
        F.sum("cell_geo").cast("long").alias("geo_area_m2"))


# --------------------------------------------------------------------- q36
def _q36_sql() -> str:
    nconf = len(W.CONFLICT_TYPES)
    types = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(W.CONFLICT_TYPES))
    return f"""{oracle.with_world('verts')},
tagged AS (
  SELECT DISTINCT node_id, CASE node_id % 97 {types} END AS conflict_type
  FROM verts WHERE node_id % 97 < {nconf}
),
derived AS (
  SELECT node_id, 'intersection' AS conflict_type
  FROM (
    SELECT node_id, COUNT(DISTINCT osm_id) AS n_ways
    FROM verts GROUP BY node_id
  ) WHERE n_ways >= 3
)
SELECT node_id,
       MAX(CASE WHEN conflict_type != 'intersection' THEN conflict_type END)
         AS tagged_type,
       MAX(conflict_type = 'intersection') AS is_intersection
FROM (SELECT * FROM tagged UNION ALL SELECT * FROM derived)
GROUP BY node_id"""


@register("q36_conflict_nodes", _q36_sql())
def q36_conflict_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op coverage (2.7): tagged conflict nodes UNION derived
    high-degree intersections, deduplicated keeping both provenance flags
    (04_conflict_zone_suppression.sql:36-59)."""
    wn = world.way_nodes(spark, sf_dir)
    nconf = len(W.CONFLICT_TYPES)
    ctype = F.lit(None).cast("string")
    for i, t in enumerate(W.CONFLICT_TYPES):
        ctype = F.when(F.col("node_id") % 97 == i, t).otherwise(ctype)
    tagged = (wn.filter(F.col("node_id") % 97 < nconf)
              .select("node_id", ctype.alias("conflict_type")).distinct())
    derived = (wn.groupBy("node_id")
               .agg(F.countDistinct("way_id").alias("n_ways"))
               .filter(F.col("n_ways") >= 3)
               .select("node_id", F.lit("intersection").alias("conflict_type")))
    both = tagged.unionByName(derived)
    return both.groupBy("node_id").agg(
        F.max(F.when(F.col("conflict_type") != "intersection",
                     F.col("conflict_type"))).alias("tagged_type"),
        F.max(F.col("conflict_type") == "intersection").alias("is_intersection"))


# --------------------------------------------------------------------- q38
def _q38_sql() -> str:
    lenm = og.seg_len_m()
    piece = og.quantize_um(f"({og.seg_rect_frac()}) * ({lenm})")
    return f"""{oracle.with_world('segs', 'grid')},
{og.cand_cells_ctes()}
SELECT c.osm_id, c.grid_id,
       CAST(SUM({piece}) AS BIGINT) AS piece_um,
       CAST(COUNT(*) AS BIGINT) AS n_segs
FROM seg_cells c JOIN grid g USING (grid_id)
WHERE {og.seg_rect_hit()}
GROUP BY c.osm_id, c.grid_id"""


# Shared q38/q41 checkpoint-store parameters: ONE derivation for the stage
# name, output dir, lineage hash, range list and range width, so the metrics
# query (q41), its oracle and ``job.py --checkpointed`` can never drift from
# the stage writer (q38).
PIECES_STAGE = "pieces_rollup"
_Q38_N_RANGES = 16


def pieces_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship cover-join pieces stage: every road segment clipped to
    the grid cells it crosses, rolled up per (road, cell) into the clipped
    length ``piece_um`` and the segment count ``n_segs``.  q38 and
    ``job.py --checkpointed`` write it range by range; ``_q38_sql`` is its
    twin."""
    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    return (spatial_join.segment_cell_pieces(s, world.grids(spark))
            .groupBy("osm_id", "grid_id")
            .agg(F.sum("piece_um").alias("piece_um"),
                 F.count("*").alias("n_segs")))


def run_pieces_stage(spark: SparkSession, sf_dir: str, out_dir: str,
                     n_ranges: int) -> tuple[dict, str]:
    """Write ``pieces_rollup`` into ``out_dir`` in ``n_ranges`` grid_id
    ranges, resuming ranges already done under the same lineage (the stage
    name, ``sf_dir`` and the world's DATA_VERSION).  Returns
    ``checkpoint.run_stage``'s result and the lineage."""
    from ..plans import checkpoint as CP

    lin = CP.lineage_hash(PIECES_STAGE, [sf_dir], version=W.DATA_VERSION)
    res = CP.run_stage(spark, PIECES_STAGE, lambda: pieces_rollup(spark, sf_dir),
                       "grid_id", CP.make_ranges(0, W.NX * W.NY, n_ranges),
                       out_dir, lin)
    return res, lin


def _q38_store(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Run the stage into q38/q41's store (a no-op resume once every range
    is done); returns the store's directory and lineage."""
    import tempfile

    out_dir = (f"{tempfile.gettempdir()}/osm_engine_ckpt_q38_"
               f"{world.cache_key(sf_dir)}")
    return out_dir, run_pieces_stage(spark, sf_dir, out_dir, _Q38_N_RANGES)[1]


def _q38_range_width() -> int:
    """make_ranges' ceil step — grid_id // width == range_id for every range
    (the oracle's arithmetic twin of the range list)."""
    return (W.NX * W.NY + _Q38_N_RANGES - 1) // _Q38_N_RANGES


@register("q38_checkpointed_pieces", _q38_sql())
def q38_checkpointed_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship cover-join pieces stage executed THROUGH the
    per-partition checkpoint machinery (plans/checkpoint.run_stage): the
    output is written per cell-range with a lineage+row-count manifest and
    re-runs resume by skipping completed ranges — the graded result is read
    back from the checkpoint store, so this query proves the resume path
    end-to-end (3.4 in SURVEY; the multi_grid IS NULL chunk-resume analogue).
    """
    from ..plans import checkpoint as CP

    out_dir, lin = _q38_store(spark, sf_dir)
    out = CP.load_stage(spark, out_dir, PIECES_STAGE, lin)
    return out.select("osm_id", "grid_id",
                      F.col("piece_um").cast("long").alias("piece_um"),
                      F.col("n_segs").cast("long").alias("n_segs"))


# --------------------------------------------------------------------- q41
def _q41_sql() -> str:
    rng = _q38_range_width()
    return f"""{oracle.with_world('segs', 'grid')},
{og.cand_cells_ctes()},
rolled AS (
  SELECT c.osm_id, c.grid_id
  FROM seg_cells c JOIN grid g USING (grid_id)
  WHERE {og.seg_rect_hit()}
  GROUP BY c.osm_id, c.grid_id
)
SELECT CAST(grid_id // {rng} AS BIGINT) AS range_id,
       CAST(COUNT(*) AS BIGINT) AS output_rows
FROM rolled GROUP BY 1"""


@register("q41_checkpoint_metrics", _q41_sql())
def q41_checkpoint_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition checkpoint METRICS as data: runs the checkpointed
    pieces stage (resuming if already done) and returns the manifest's
    per-range row counts — oracle-checked against an independent recount, so
    the lineage manifest itself is part of the graded contract (3.4)."""
    from ..plans import checkpoint as CP

    out_dir, lin = _q38_store(spark, sf_dir)
    rows = [(int(r["range_id"]), int(r["output_rows"]))
            for r in CP.live_records(out_dir, PIECES_STAGE, lin)
            if r["output_rows"] > 0]
    return spark.createDataFrame(rows, "range_id long, output_rows long")


# --------------------------------------------------------------------- q42
def _q42_sql() -> str:
    return f"""{oracle.with_world('roads_base')}
SELECT osm_id, highway, oneway, lanes,
       CAST({_LANES_FIRST_SQL} AS BIGINT) AS lanes_first,
       {_FOURLANE_SQL} AS fourlane
FROM roads_base"""


@register("q42_fourlane", _q42_sql())
def q42_fourlane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-lane flag feeding persona v2's CruiseRoadScore
    (scripts/dev-runs/fourlane_run.py:219-245): oneway-ish AND first-int
    lanes >= 2."""
    from ..operators import scoring

    return scoring.fourlane(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q43
def _q43_sql() -> str:
    return f"""{oracle.with_world('roads_base')},
denylist AS (
  SELECT o_orderkey * 8 + 1 + (o_orderkey % {W.DENY_LINE_MOD}) AS deny_id
  FROM orders WHERE o_orderkey % {W.DENY_MOD} = 0
)
SELECT r.osm_id, r.highway,
       CASE WHEN d.deny_id IS NOT NULL THEN 'no' ELSE 'yes' END AS rsbikeaccess
FROM roads_base r
LEFT JOIN (SELECT DISTINCT deny_id FROM denylist) d ON d.deny_id = r.osm_id"""


@register("q43_denylist", _q43_sql())
def q43_denylist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 ID denylist (01_rsbikeaccess_update.sql:33-12680): rsbikeaccess
    defaults to 'yes' and is forced 'no' for a ~1k-id way list — a broadcast
    join against the denylist dimension, not a 12.6k-literal IN."""
    from ..operators import scoring

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    deny = (orders.filter(F.col("o_orderkey") % W.DENY_MOD == 0)
            .select((F.col("o_orderkey") * 8 + 1
                     + F.col("o_orderkey") % W.DENY_LINE_MOD).alias("deny_id")))
    return scoring.apply_denylist(world.roads_materialized(spark, sf_dir), deny)


# --------------------------------------------------------------------- q47
def _q47_sql() -> str:
    fl = oracle.fl
    cd = fl(W.CELL_DEG)
    cd2 = fl(W.CELL_DEG / 2.0)
    eps = f"({fl(W.DBSCAN_EPS_M)} / {fl(W.M_PER_DEG)})"
    cell = og.cell_of_point("cx", "cy")
    vcell = og.cell_of_point("lon", "lat")
    return f"""WITH RECURSIVE {oracle.with_world('verts', 'feats')[5:]},
vc AS (
  SELECT {vcell} AS grid_id, COUNT(*) AS cnt FROM verts GROUP BY 1
),
vtot AS (SELECT SUM(cnt) AS v, COUNT(*) AS nc FROM vc),
passcells AS (
  SELECT {cell} AS pc FROM feats
  WHERE layer = 'mountain_pass'
    AND feature_id % {W.PASS_RARITY} = {W.PASS_RESIDUE}
),
q AS (
  SELECT grid_id FROM vc, vtot WHERE cnt * nc >= 4 * v
  UNION
  SELECT pc + di AS grid_id
  FROM passcells, (SELECT unnest(generate_series(-2, 2)) AS di)
  WHERE pc % {W.NX} + di >= 0 AND pc % {W.NX} + di < {W.NX}
  UNION
  SELECT {cell} AS grid_id FROM feats WHERE layer = 'hills_nodes'
),
ctr AS (
  SELECT grid_id,
         CAST(grid_id % {W.NX} AS DOUBLE) * {cd} + {cd2} AS cx,
         CAST(grid_id // {W.NX} AS DOUBLE) * {cd} + {cd2} AS cy
  FROM q
),
pairs AS (
  SELECT a.grid_id AS ga, b.grid_id AS gb
  FROM ctr a JOIN ctr b ON b.grid_id != a.grid_id
  WHERE (a.cx - b.cx) * (a.cx - b.cx) + (a.cy - b.cy) * (a.cy - b.cy)
        <= {eps} * {eps}
),
core AS (
  SELECT ga AS grid_id FROM pairs GROUP BY ga
  HAVING COUNT(*) + 1 >= {W.DBSCAN_MINPTS}
),
ce AS (
  SELECT p.ga AS a, p.gb AS b
  FROM pairs p
  JOIN core c1 ON c1.grid_id = p.ga
  JOIN core c2 ON c2.grid_id = p.gb
),
reach(a, b) AS (
  SELECT grid_id, grid_id FROM core
  UNION
  SELECT r.a, e.b FROM reach r JOIN ce e ON e.a = r.b
),
comp AS (SELECT a AS grid_id, MIN(b) AS component FROM reach GROUP BY a),
border AS (
  SELECT p.ga AS grid_id, MIN(c.component) AS cluster
  FROM pairs p JOIN comp c ON c.grid_id = p.gb
  WHERE p.ga NOT IN (SELECT grid_id FROM core)
  GROUP BY p.ga
),
lab AS (
  SELECT grid_id, TRUE AS is_core, component AS cluster FROM comp
  UNION ALL
  SELECT grid_id, FALSE AS is_core, cluster FROM border
)
SELECT grid_id, is_core, cluster,
       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
FROM lab"""


@register("q47_dbscan_clusters", _q47_sql())
def q47_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ClusterDBSCAN option (02_clusters_opt3_test.sql:52-60, eps=1500 m,
    minpoints=3) over a multi-modal cell set — the dense-vertex urban blob
    (>= 4x mean vertex density), 5-cell line clumps at the rare mountain
    passes, and the scattered hill cells — so clusters, border cells AND
    noise all occur.  eps-neighborhood k-ring join + core filter + CC over the core
    graph; border cells take the min core-neighbor component, noise is
    dropped; deterministic labels (min core cell id)."""
    from pyspark.sql import Window

    from ..operators import clusters

    wn = world.way_nodes(spark, sf_dir)
    vc = (wn.select(cells.cell_of_point(F.col("lon"), F.col("lat"))
                    .alias("grid_id"))
          .groupBy("grid_id").agg(F.count("*").alias("cnt")))
    vtot = vc.agg(F.sum("cnt").alias("v"), F.count("*").alias("nc"))
    dense = (vc.crossJoin(F.broadcast(vtot))
             .filter(F.col("cnt") * F.col("nc") >= 4 * F.col("v"))
             .select("grid_id"))
    feats = world.features(spark, sf_dir)
    passes = (feats.filter(
        (F.col("layer") == "mountain_pass")
        & (F.col("feature_id") % W.PASS_RARITY == W.PASS_RESIDUE))
        .select(cells.cell_of_point(F.col("cx"), F.col("cy")).alias("pc")))
    # horizontal 5-cell line per pass: interior cells are core, the two tips
    # have a single eps-neighbor — genuine DBSCAN border cells
    pi, _ = cells.cell_ij(F.col("pc"))
    clumps = (passes
              .select("pc", F.explode(F.sequence(F.lit(-2), F.lit(2)))
                      .alias("di"))
              .filter((pi + F.col("di") >= 0) & (pi + F.col("di") < W.NX))
              .select((F.col("pc") + F.col("di")).alias("grid_id")))
    hills = (feats.filter(F.col("layer") == "hills_nodes")
             .select(cells.cell_of_point(F.col("cx"), F.col("cy"))
                     .alias("grid_id")))
    q = dense.unionByName(clumps).unionByName(hills).distinct()
    out = clusters.dbscan(q, W.DBSCAN_EPS_M, W.M_PER_DEG, W.DBSCAN_MINPTS)
    w = Window.partitionBy("cluster")
    return out.select("grid_id", "is_core", "cluster",
                      F.count("*").over(w).cast("long").alias("cluster_size"))


# --------------------------------------------------------------------- q48
_CELL_UM = int(W.CELL_M * 1.0e6)   # exact: CELL_M = 869.6875 is 869 + 11/16


def _q48_sql() -> str:
    return f"""WITH RECURSIVE {_urban_comp_sql_ctes()},
ec AS (
  SELECT c.component, COUNT(*) AS e_dir
  FROM edges e JOIN comp c ON c.grid_id = e.a GROUP BY 1
)
SELECT c.component,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(4 * COUNT(*) - COALESCE(MIN(ec.e_dir), 0) AS BIGINT) AS perimeter_edges,
       CAST((4 * COUNT(*) - COALESCE(MIN(ec.e_dir), 0)) * {_CELL_UM} AS BIGINT)
         AS perimeter_um
FROM comp c LEFT JOIN ec ON ec.component = c.component
GROUP BY c.component"""


@register("q48_dissolve_boundary", _q48_sql())
def q48_dissolve_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_UnaryUnion fidelity: EXACT boundary metrics of each dissolved
    urban-cluster polygon (01_clusters_opt1_test.sql:59-99).  The union of
    axis-aligned cells is a rectilinear polygon whose boundary length is
    exactly (4n - shared_edges) cell edges — every cell edge not shared
    inside the component, which counts outer boundary AND holes correctly —
    so the dissolve is measured exactly with no geometry library."""
    from ..operators import clusters

    urban = _urban_cells(spark)
    comp = clusters.connected_components(urban)
    edges = clusters.cell_neighbors(urban)
    ec = (edges.join(comp, "grid_id")
          .groupBy("component").agg(F.count("*").alias("e_dir")))
    per = comp.groupBy("component").agg(F.count("*").alias("n_cells"))
    out = per.join(ec, "component", "left")
    peri = 4 * F.col("n_cells") - F.coalesce(F.col("e_dir"), F.lit(0))
    return out.select(
        "component",
        F.col("n_cells").cast("long").alias("n_cells"),
        peri.cast("long").alias("perimeter_edges"),
        (peri * _CELL_UM).cast("long").alias("perimeter_um"))


# --------------------------------------------------------------------- q51
def _q51_sql() -> str:
    lenm = og.seg_len_m()
    hist = ",\n       ".join(
        f"CAST(SUM(CASE WHEN LEAST(9, norm_bp // 1000) = {b} "
        f"THEN n ELSE 0 END) AS BIGINT) AS h{b}" for b in range(10))
    return f"""{oracle.with_world('segs')},
{_persona_norm_ctes()},
lens AS (
  SELECT osm_id, CAST(SUM({og.quantize_um(lenm)}) // 1000 AS BIGINT) AS len_mm
  FROM segs GROUP BY osm_id
),
j AS (
  SELECT n.highway, n.norm_bp, COALESCE(l.len_mm, 0) AS len_mm
  FROM norm n LEFT JOIN lens l USING (osm_id)
),
g AS (
  SELECT highway, norm_bp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len_mm) AS BIGINT) AS w_mm
  FROM j GROUP BY highway, norm_bp
),
cum AS (
  SELECT *,
         CAST(SUM(w_mm) OVER (PARTITION BY highway ORDER BY norm_bp
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_mm,
         CAST(SUM(w_mm) OVER (PARTITION BY highway) AS BIGINT) AS tot_mm
  FROM g
)
SELECT highway,
       CAST(SUM(n) AS BIGINT) AS n_roads,
       CAST(MIN(tot_mm) AS BIGINT) AS total_len_mm,
       CAST((SUM(norm_bp * w_mm) * 1000) // GREATEST(MIN(tot_mm), 1)
            AS BIGINT) AS wmean_milli_bp,
       CAST(MIN(CASE WHEN cum_mm * 2 >= tot_mm THEN norm_bp END) AS BIGINT)
         AS wp50_bp,
       {hist}
FROM cum GROUP BY highway"""


@register("q51_analysis_summary", _q51_sql())
def q51_analysis_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 analysis sink (Analysis/persona_v2_analysis.py:190-318): per
    highway class, LENGTH-WEIGHTED summary of the normalized persona score —
    weighted mean, weighted median (exact integer cumulative-weight rule:
    first score where 2*cum >= total), and a 10-bin histogram.  All stats
    are exact integer arithmetic (weights in int64 millimetres), so the CSV
    the reference's pandas tooling would emit is reproduced bit-for-bit.

    Scale shape: the weighted median pre-aggregates to (highway, norm_bp) —
    a BOUNDED key space (<= 10001 scores per class) — so the cumulative-sum
    window runs over a tiny table instead of sorting every road in a class
    through one reducer."""
    from pyspark.sql import Window

    from ..operators import scoring

    r = world.roads_materialized(spark, sf_dir)
    s = world.segments(spark, sf_dir, r)
    norm = scoring.persona_scores(r).select("osm_id", "highway", "norm_bp")
    lens = scoring._way_lengths(s).select(
        "osm_id", F.expr("total_len_um div 1000").alias("len_mm"))
    j = norm.join(lens, "osm_id", "left") \
            .withColumn("len_mm", F.coalesce("len_mm", F.lit(0)))
    g = j.groupBy("highway", "norm_bp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("len_mm").cast("long").alias("w_mm"))
    wcum = Window.partitionBy("highway").orderBy("norm_bp") \
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.partitionBy("highway")
    c = (g.withColumn("cum_mm", F.sum("w_mm").over(wcum).cast("long"))
         .withColumn("tot_mm", F.sum("w_mm").over(wtot).cast("long")))
    hist = [F.sum(F.when(F.least(F.lit(9), F.expr("norm_bp div 1000"))
                         == b, F.col("n")).otherwise(0)).cast("long")
            .alias(f"h{b}") for b in range(10)]
    return (c.groupBy("highway").agg(
        F.sum("n").cast("long").alias("n_roads"),
        F.min("tot_mm").cast("long").alias("total_len_mm"),
        F.expr("(sum(norm_bp * w_mm) * 1000) div greatest(min(tot_mm), 1)")
        .cast("long").alias("wmean_milli_bp"),
        F.min(F.when(F.col("cum_mm") * 2 >= F.col("tot_mm"),
                     F.col("norm_bp"))).cast("long").alias("wp50_bp"),
        *hist))


# --------------------------------------------------------------------- q52
def _q52_sql() -> str:
    lenm = og.seg_len_m()
    geom = og.seg_len_geo_m()
    return f"""{oracle.with_world('segs')}
SELECT osm_id, highway,
       CAST(len_um AS BIGINT) AS len_um,
       CAST(geo_len_um AS BIGINT) AS geo_len_um,
       CAST((geo_len_um * 1000000) // GREATEST(len_um, 1) AS BIGINT) AS ratio_ppm
FROM (
  SELECT osm_id, ANY_VALUE(highway) AS highway,
         SUM({og.quantize_um(lenm)}) AS len_um,
         SUM({og.quantize_um(geom)}) AS geo_len_um
  FROM segs GROUP BY osm_id
)"""


@register("q52_geodesic_length", _q52_sql())
def q52_geodesic_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latitude-aware (geography-mode) road lengths next to the planar
    metric: the reference computes lengths via
    ST_Length(geometry::geography)
    (road_intersection_density/03_calculate_base_degradation_v2.sql:19,
    visualization/vis_rsbikeaccess_z10.sql:44); the engine's geographic mode
    scales the longitudinal span by cos(base+mid-latitude) via a shared
    trig-free Taylor tree (functions/geometry.cos_lat), so both engines emit
    the bit-identical metres.  Output per road: planar um, geodesic um, and
    the integer ppm ratio — a single map-side aggregation, no extra shuffle
    vs the planar-only query."""
    s = world.segments(spark, sf_dir)
    planar = G.quantize_len_um(G.seg_len_m(
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
    geo = G.quantize_len_um(G.seg_len_geo_m(
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))
    per = s.groupBy("osm_id").agg(
        F.min("highway").alias("highway"),
        F.sum(planar).cast("long").alias("len_um"),
        F.sum(geo).cast("long").alias("geo_len_um"))
    return per.select(
        "osm_id", "highway", "len_um", "geo_len_um",
        F.expr("geo_len_um * 1000000 div greatest(len_um, 1)")
        .cast("long").alias("ratio_ppm"))
