"""Persona composites: the normalized persona score (q29) and the two
multi-branch persona ladders (q46 v2, q58 v1 simplified), with the road
branches and the one-SQL ladder they share.  Each builder sits beside its
DuckDB twin."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, world
from ..functions import cells, geometry as G
from ..operators import classify, persona as P, spatial_join
from .shared import (
    _FOURLANE_SQL, _cl_sql_ctes, _coast_hits_cte, _coast_sql_ctes,
    _curvature_rollup, _dg_sql_ctes, _dist_hits_cte,
    _endpoint_proximity_upgrade, _hadj_sql_ctes, _persona_norm_ctes,
    _pip_hits_cte, _pressure_sql_ctes, _reps_cte, _semi_sql, _setting_sql,
    _tw_sql_ctes, _wc_sql_ctes, register)


def _apply_ladder(spark: SparkSession, df: DataFrame,
                  stages: tuple[dict[str, str], ...], view: str,
                  final: list[str] | None = None) -> DataFrame:
    """Apply an expression-ladder (each stage's columns reference the
    previous stage's) as ONE spark.sql CTE chain over a temp view.

    Every Dataset creation re-runs the analyzer over its FULL logical plan,
    so a per-stage selectExpr loop re-analyzes the deep join tree once per
    stage (~4-5 s of driver time for q46's 4-stage ladder at sf0.1 —
    CLAUDE.md round-5 notes).  Checkpointing before the ladder to shorten
    the tree was a measured NEGATIVE (barrier + serialize cost more,
    BENCH.md); a single SQL statement analyzes the tree once with no
    barrier.  It won the A/B against the per-stage loop (q46 20.78 ->
    17.74 s best-of-3, q58 within noise).

    `final` (optional, selectExpr-style "expr AS name" strings) folds the
    caller's output projection into the SAME statement — a trailing
    `d.select(...)` on the returned Dataset would re-analyze the full tree
    once more (q58 pays ~1 s of driver time at sf0.1 without it; q46's
    trailing select sits behind a localCheckpoint, so folding buys
    nothing there)."""
    import uuid

    # unique suffix: temp views are session-scoped, so a fixed name would
    # race if two runs of the same query share one SparkSession
    view = f"{view}_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(view)
    ctes, last = P.ladder_ctes(stages, view)
    tail = ",\n       ".join(final) if final else "*"
    out = spark.sql(f"WITH {ctes}\nSELECT {tail}\nFROM {last}")
    # Dataset analysis is eager, so the view's plan is already inlined —
    # drop it to keep the session catalog clean across repeated runs
    spark.catalog.dropTempView(view)
    return out


def _persona_road_branches(r: DataFrame, sub: DataFrame, s: DataFrame,
                           feats: DataFrame, hw_window: tuple | None = None
                           ) -> tuple[DataFrame, ...]:
    """The per-road branches both persona composites (q46 v2, q58 v1) join
    onto their spine: (hadj, setting, tw, hills, rivers), each keyed by
    ``osm_id`` and computed over the spine subset ``sub`` (``s`` is its
    segments).  ``r`` is the global NH/SH highway source and ``hw_window``
    the optional sound window of ``_endpoint_proximity_upgrade``.  Every
    branch is per-road, so pre-filtering the road side is exact.

    The narrow (osm_id, cell) presence table is localCheckpointed ONCE
    (the only eager job here) and feeds both distance flags: one serialize
    pays for two saved explode+exact-test+distinct subtrees (the q44
    narrow-table lesson; A/B at sf0.1: q46 32.6->19.5s, q04 2.40->1.82s
    best-of-3)."""
    hadj = _endpoint_proximity_upgrade(r, sub, hw_window=hw_window) \
        .select("osm_id", "hadj_upgrade")
    setting = classify.classify_roads(sub, s, world.grids(sub.sparkSession)) \
        .select("osm_id", "road_setting")
    tw = _curvature_rollup(sub).select("osm_id", "twist_permille")
    rcells = spatial_join.road_cells(s).localCheckpoint(eager=True)

    def dist_flag(layer: str, dist: float, mark: str) -> DataFrame:
        pts = feats.filter(F.col("layer") == layer) \
                   .select("feature_id", "cx", "cy")
        return (spatial_join.roads_within_distance(s, rcells, pts, dist)
                .withColumn(mark, F.lit(1)))

    return (hadj, setting, tw,
            dist_flag("hills_nodes", W.DIST_HILL_DEG, "_hill"),
            dist_flag("rivers", W.DIST_RIVER_DEG, "_river"))


def _persona_branch_sql() -> tuple[str, str, str]:
    """The DuckDB twin of ``_persona_road_branches``: (CTEs, select
    fragment, joins) for hadj, classification/setting, twistiness and the
    hill/river hits over a spine aliased ``b``.  The joins open with
    ``USING (osm_id)`` and end with ``ON`` joins, so a caller puts its own
    ``USING`` joins before them (DuckDB rejects ``USING`` once a second
    ``osm_id`` is in scope)."""
    ctes = f"""{_hadj_sql_ctes()},
{_cl_sql_ctes()},
{_tw_sql_ctes()},
{_dist_hits_cte('hl', 'hills_nodes', W.DIST_HILL_DEG)},
{_dist_hits_cte('rv', 'rivers', W.DIST_RIVER_DEG)}"""
    cols = f"""COALESCE(h.hadj_upgrade, FALSE) AS hadj_upgrade,
         {_setting_sql()} AS road_setting,
         COALESCE(tw_p.twist_permille, 0) AS twist_permille,
         hl.osm_id IS NOT NULL AS near_hill,
         rv.osm_id IS NOT NULL AS near_river"""
    joins = """LEFT JOIN h_per h USING (osm_id)
  LEFT JOIN cl_per c USING (osm_id)
  LEFT JOIN tw_p USING (osm_id)
  LEFT JOIN hl ON hl.osm_id = b.osm_id
  LEFT JOIN rv ON rv.osm_id = b.osm_id"""
    return ctes, cols, joins


# --------------------------------------------------------------------- q29
def _q29_sql() -> str:
    return f"""{oracle.with_world('roads_base')},
{_persona_norm_ctes()}
SELECT * FROM norm"""


@register("q29_persona_normalized", _q29_sql())
def q29_persona_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: persona base scores + two-pass global min/max normalization
    (driver collects bounds, folds back as literals —
    persona_v2_run.py:264-339, 03_normalize_persona_scores.sql:25-63)."""
    from ..operators import scoring

    return scoring.persona_scores(world.roads_materialized(spark, sf_dir))


# --------------------------------------------------------------------- q46
def _q46_sql() -> str:
    fl = oracle.fl
    bik = oracle.str_list(W.BIKABLE)
    br_ctes, br_cols, br_joins = _persona_branch_sql()
    ladder, last = P.ladder_ctes(P.v2_ladder(fl), "inputs")
    outs = ",\n       ".join(P.v2_outputs(fl, lambda k: f"pb.{k}"))
    return f"""{oracle.with_world('segs', 'grid', 'verts', 'feat_edges')},
{br_ctes},
{_dg_sql_ctes()},
{_pressure_sql_ctes()},
{_reps_cte()},
pr AS (
  SELECT r.osm_id, p.pressure_micro
  FROM reps r JOIN pressures p ON p.grid_id = r.rep_cell
),
{_pip_hits_cte('lk', 'lakes')},
{_wc_sql_ctes()},
inraw AS (
  SELECT b.osm_id, b.highway, b.ref, b.lanes, b.oneway,
         {br_cols},
         dg.final_red_ppm,
         COALESCE(pr.pressure_micro, 0) AS pressure_micro,
         lk.osm_id IS NOT NULL AS in_lake,
         CAST(COALESCE(wc.forest_px, 0) AS BIGINT) AS forest_px,
         CAST(COALESCE(wc.field_px, 0) AS BIGINT) AS field_px,
         CAST(COALESCE(wc.forest_px, 0) + COALESCE(wc.field_px, 0) AS BIGINT)
           AS total_px
  FROM (SELECT * FROM roads_base WHERE highway IN ({bik})) b
  LEFT JOIN dg USING (osm_id)
  LEFT JOIN pr USING (osm_id)
  {br_joins}
  LEFT JOIN lk ON lk.osm_id = b.osm_id
  LEFT JOIN wc ON wc.osm_id = b.osm_id
),
inputs AS (
  SELECT osm_id,
         {P.road_type_v2_expr()} AS road_type_v2,
         {_FOURLANE_SQL} AS fourlane,
         road_setting, twist_permille, final_red_ppm, pressure_micro,
         near_hill, near_river, in_lake, forest_px, field_px, total_px
  FROM inraw
),
{ladder},
pb AS (SELECT {", ".join(P.bound_aggs())} FROM {last})
SELECT {outs}
FROM {last}, pb"""


@register("q46_persona_v2", _q46_sql())
def q46_persona_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE composite: the reference's headline persona-v2 pipeline, chaining
    classification (q01), HAdj road type (q09), fourlane (q42), twistiness
    (q08), intersection degradation (q28), urban pressure at the rep tile
    (q02+q12), scenery flags (q03/q04 + river) and WorldCover buffer
    fractions (q45) into the ten parameter scores, four persona scores and
    global min/max normalization (persona_v2_run.py:344-495,
    01_compute_parameter_scores.sql, 02_compute_persona_scores.sql,
    03_normalize_persona_scores.sql)."""
    from ..operators import scoring, zonal
    from ..sources.raster import raster_tiles

    sfl = P.spark_fl
    r = world.roads_materialized(spark, sf_dir)
    # BIKABLE pushdown (the q58 lesson applied back to v2): the spine keeps
    # only BIKABLE highways (75% selectivity at sf0.1), every branch is
    # per-osm_id, and the two semantically-global sides are preserved
    # explicitly — the NH/SH highway source of hadj (an out-of-scope
    # highway can upgrade a bikable road) and degradation's node-level
    # intersection stats (a node qualifies based on ALL ways sharing it) —
    # so pre-filtering each branch's ROAD side is exactness-preserving.
    # The filtered set is NOT checkpointed (wide; the q58 negative result).
    bik_pred = F.col("highway").isin(W.BIKABLE)
    r_bik = r.filter(bik_pred)
    # segments/way_nodes feed six branches; re-deriving the explode per
    # branch is CHEAPER than materializing it once (measured: localCheckpoint
    # of the exploded tables cost ~1.7x — the narrow fan-out from compact
    # parquet recomputes faster than a serialize+reread, and checkpoint
    # barriers break whole-stage fusion in every consumer)
    s = world.segments(spark, sf_dir, r_bik)
    wn_global = world.way_nodes(spark, sf_dir, r)   # degradation node stats
    wn = world.way_nodes(spark, sf_dir, r_bik)
    feats = world.features(spark, sf_dir)

    bik = r_bik.select("osm_id", "highway", "ref", "lanes", "oneway")
    hadj, setting, tw, hills, rivers = _persona_road_branches(
        r, r_bik, s, feats)
    dg = scoring.intersection_degradation(wn_global, s, way_pred=bik_pred) \
        .select("osm_id", "final_red_ppm")
    rv = cells.rep_vertex()
    rep = r_bik.select(
        "osm_id", cells.cell_of_point(rv["lon"], rv["lat"]).alias("grid_id"))
    pressure = zonal.urban_pressure(
        zonal.zonal_cell_sums(raster_tiles(spark))) \
        .select("grid_id", "pressure_micro")
    press = rep.join(pressure, "grid_id", "left") \
               .select("osm_id", "pressure_micro")
    wpts = wn.select(F.col("way_id").alias("osm_id"), "lon", "lat")
    lakes = (spatial_join.point_in_polygon_join(
                wpts, feats.filter(F.col("layer") == "lakes"))
             .select("osm_id").distinct().withColumn("_lake", F.lit(1)))
    wc = zonal.buffer_class_histogram(s) \
        .select("osm_id", "forest_px", "field_px")

    joined = (bik
              .join(hadj, "osm_id", "left")
              .join(setting, "osm_id", "left")
              .join(tw, "osm_id", "left")
              .join(dg, "osm_id", "left")
              .join(press, "osm_id", "left")
              .join(lakes, "osm_id", "left")
              .join(hills, "osm_id", "left")
              .join(rivers, "osm_id", "left")
              .join(wc, "osm_id", "left"))
    inputs = joined.select(
        "osm_id", "lanes", "oneway",
        F.expr(P.road_type_v2_expr()).alias("road_type_v2"),
        F.coalesce("road_setting", F.lit("Rural")).alias("road_setting"),
        F.coalesce("twist_permille", F.lit(0)).alias("twist_permille"),
        "final_red_ppm",
        F.coalesce("pressure_micro", F.lit(0)).alias("pressure_micro"),
        F.col("_hill").isNotNull().alias("near_hill"),
        F.col("_river").isNotNull().alias("near_river"),
        F.col("_lake").isNotNull().alias("in_lake"),
        F.coalesce("forest_px", F.lit(0)).cast("long").alias("forest_px"),
        F.coalesce("field_px", F.lit(0)).cast("long").alias("field_px"),
        (F.coalesce("forest_px", F.lit(0)) + F.coalesce("field_px", F.lit(0)))
        .cast("long").alias("total_px"),
        # fourlane lives in the same projection — a separate withColumn
        # would re-run the analyzer over the full 10-join tree once more
        F.expr(scoring.FOURLANE).alias("fourlane"))
    # the whole 4-stage ladder as ONE analyzed statement (see _apply_ladder:
    # a per-stage selectExpr loop re-analyzes the deep join tree per stage)
    d = _apply_ladder(spark, inputs, P.v2_ladder(sfl), "_q46_inputs")
    # two-pass normalization: materialize once (lineage truncation), collect
    # global bounds on the driver, fold back as literals
    # (persona_v2_run.py:264-339)
    d = d.localCheckpoint(eager=True)
    b = d.agg(*map(F.expr, P.bound_aggs())).first()
    return d.selectExpr(*P.v2_outputs(sfl, lambda k: sfl(b[k])))


# --------------------------------------------------------------------- q58
def _q58_sql() -> str:
    fl = oracle.fl
    x0, y0, x1, y1 = W.V1_BBOX
    bik = oracle.str_list(W.BIKABLE)
    br_ctes, br_cols, br_joins = _persona_branch_sql()
    ladder, last = P.ladder_ctes(P.v1_ladder(fl), "in58")
    outs = ",\n       ".join(P.v1_outputs(fl))
    return f"""{oracle.with_world('verts', 'segs', 'grid', 'feat_edges')},
{br_ctes},
{_coast_sql_ctes()},
{_coast_hits_cte('bc')},
{_pip_hits_cte('fo', 'forest')},
{_pip_hits_cte('lk', 'lakes')},
{_pip_hits_cte('fd', 'fields')},
gl AS (
  SELECT osm_id, SUM({og.quantize_um(og.seg_len_geo_m())}) AS geo_len_um
  FROM segs GROUP BY osm_id
),
{_reps_cte()},
bb AS (
  SELECT osm_id FROM verts GROUP BY osm_id
  HAVING MAX(lon) >= {fl(x0)} AND MIN(lon) <= {fl(x1)}
     AND MAX(lat) >= {fl(y0)} AND MIN(lat) <= {fl(y1)}
),
inraw AS (
  SELECT b.osm_id, b.highway, b.ref, b.lanes, b.surface,
         {br_cols},
         COALESCE(gl.geo_len_um, 0) AS geo_len_um,
         (CASE WHEN fo.osm_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN hl.osm_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN lk.osm_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN rv.osm_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN fd.osm_id IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN NOT {_semi_sql()} AND bc.osm_id IS NOT NULL THEN 1 ELSE 0 END)
           AS n_scenery
  FROM (SELECT * FROM roads_base WHERE highway IN ({bik})) b
  JOIN bb USING (osm_id)
  JOIN reps p USING (osm_id)
  LEFT JOIN gl USING (osm_id)
  {br_joins}
  LEFT JOIN fo ON fo.osm_id = b.osm_id
  LEFT JOIN lk ON lk.osm_id = b.osm_id
  LEFT JOIN fd ON fd.osm_id = b.osm_id
  LEFT JOIN bc ON bc.osm_id = b.osm_id
),
in58 AS (
  SELECT osm_id,
         {P.road_type_v2_expr()} AS road_type_i1,
         CAST(NULLIF(regexp_replace(COALESCE(lanes, ''), '[^0-9]', '', 'g'),
                     '') AS INT) AS lanes_n,
         surface, road_setting, twist_permille, geo_len_um, n_scenery
  FROM inraw
),
{ladder}
SELECT {outs}
FROM {last}"""


@register("q58_persona_v1_simplified", _q58_sql())
def q58_persona_v1_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Phase-1 'simplified' persona framework — the maintained v2
    chain's predecessor, with its OWN scoring surface
    (road_persona/01_compute_persona_base_scores_simplified.sql): the
    parse_lanes plpgsql UDF (:20-28, digit-concat semantics), eight plain
    0-1 factors (:36-146), weighted-average personas with the Urban hard
    gate (:162-213, weights per the CODE not the comments), and direct
    0-100 scaling with the 25% SemiUrban penalty (:217-250) — no global
    normalization pass, unlike v2.  Restricted to the test bbox the script
    itself runs on (:31, ST_MakeEnvelope analog W.V1_BBOX).

    Scale shape: same proven subtrees as q46 (each one graded on its own;
    hadj/setting/twist and the hill/river flags come from the one
    ``_persona_road_branches`` builder both composites call); the only new
    work is the formula ladder, pure Catalyst CASE expressions.  Scenery
    flags are existence semi-joins, no pair distinct."""
    sfl = P.spark_fl
    r = world.roads_materialized(spark, sf_dir)
    feats = world.features(spark, sf_dir)

    x0, y0, x1, y1 = W.V1_BBOX
    # The reference scopes EVERY v1 statement to the bbox
    # (01_compute_persona_base_scores_simplified.sql:28-31), so the gate is
    # pushed into every branch subtree here too: each branch is per-osm_id
    # with its feature/highway side unaffected by the road-side filter, so
    # pre-filtering the road side is exactness-preserving and cuts ~59% of
    # the upstream work (41% bbox selectivity at sf0.1).  The filtered set
    # is NOT checkpointed: it is WIDE (carries vertices), and the q46
    # lesson holds — each branch re-filters from the columnar scan (cheap,
    # OS-cached, stays in codegen) faster than a 3 s blocking materialize
    # of 190k wide rows (measured both ways at sf0.1).
    r_bbox = r.filter(F.col("highway").isin(W.BIKABLE)
                      & G.envelope_overlaps(W.V1_BBOX))
    s = world.segments(spark, sf_dir, r_bbox)
    wn = world.way_nodes(spark, sf_dir, r_bbox)
    rep = cells.rep_vertex()
    bik = r_bbox.select("osm_id", "highway", "ref", "lanes", "surface",
                        (~cells.in_semi_window(rep["lon"], rep["lat"]))
                        .alias("rural"))

    # The highway side is semantically global (an out-of-bbox NH/SH can
    # upgrade an in-bbox road), but a SOUND window still bounds it: every
    # candidate endpoint lies within the bbox expanded by the max way
    # extent ((NV_MAX - 1) * STEP_HALF / STEP_DEN — candidates only need
    # to OVERLAP the bbox), and a matching highway vertex within d of
    # that.  Beyond bbox + extent + d, no highway vertex can match.
    ext = ((W.NV_MAX - 1) * W.STEP_HALF) / W.STEP_DEN + W.ENDPOINT_DIST_DEG
    hadj, setting, tw, hills, rivers = _persona_road_branches(
        r, r_bbox, s, feats,
        hw_window=(x0 - ext, y0 - ext, x1 + ext, y1 + ext))
    geo = s.groupBy("osm_id").agg(
        F.sum(G.quantize_len_um(G.seg_len_geo_m(
            F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))))
        .cast("long").alias("geo_len_um"))
    wpts = wn.select(F.col("way_id").alias("osm_id"), "lon", "lat")

    # ONE PIP join over all three polygon layers, pivoted to flags in the
    # per-road aggregate (the q03 shape) — three separate layer joins would
    # re-explode the 4x-larger way_nodes side three times
    pip = spatial_join.point_in_polygon_join(
        wpts, feats.filter(F.col("layer").isin("forest", "lakes", "fields")))
    pflags = pip.groupBy("osm_id").agg(
        F.max(F.when(F.col("layer") == "forest", 1).otherwise(0)).alias("_forest"),
        F.max(F.when(F.col("layer") == "lakes", 1).otherwise(0)).alias("_lake"),
        F.max(F.when(F.col("layer") == "fields", 1).otherwise(0)).alias("_field"))
    coast = world.coastline_segments(spark)
    beach = spatial_join.roads_within_line_distance(
        s, coast, W.BEACH_DIST_DEG).withColumn("_coast", F.lit(1))

    joined = (bik
              .join(hadj, "osm_id", "left")
              .join(setting, "osm_id", "left")
              .join(tw, "osm_id", "left")
              .join(geo, "osm_id", "left")
              .join(pflags, "osm_id", "left")
              .join(hills, "osm_id", "left")
              .join(rivers, "osm_id", "left")
              .join(beach, "osm_id", "left"))
    flag = F.coalesce
    n_scenery = (flag("_forest", F.lit(0)) + flag("_hill", F.lit(0))
                 + flag("_lake", F.lit(0)) + flag("_river", F.lit(0))
                 + flag("_field", F.lit(0))
                 + F.when(F.col("rural") & F.col("_coast").isNotNull(), 1)
                 .otherwise(0))
    inputs = joined.select(
        "osm_id", "surface",
        F.expr(P.road_type_v2_expr()).alias("road_type_i1"),
        F.expr("CAST(NULLIF(regexp_replace(COALESCE(lanes, ''), "
               "'[^0-9]', ''), '') AS INT)").alias("lanes_n"),
        F.coalesce("road_setting", F.lit("Rural")).alias("road_setting"),
        F.coalesce("twist_permille", F.lit(0)).alias("twist_permille"),
        F.coalesce("geo_len_um", F.lit(0)).alias("geo_len_um"),
        n_scenery.alias("n_scenery"))
    # the 3-stage ladder AND the output projection as ONE analyzed
    # statement (the q46 note applies; a trailing .select() would
    # re-analyze the full 8-join tree once more)
    return _apply_ladder(spark, inputs, P.v1_ladder(sfl), "_q58_inputs",
                         final=P.v1_outputs(sfl))
