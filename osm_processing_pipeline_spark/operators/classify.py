"""Road classification rollup — the reference's Part 1 analytical core.

Mirrors the semantics of
  * per-road grid aggregates (06_handle_roads_intersecting_multiple_grids.sql:35-52):
    conditional length sums by cell class, COUNT(DISTINCT grid) -> multi_grid
  * final assignment CASE ladder (07_assign_final_road_classification.sql:13-59):
    NH/SH/MDR from ref ILIKE, setting from length-share, classification concat
  * bikable eligibility flag (04_prepare_osm_all_roads_table.sql:16-18)

All decision logic is integer/string-only (length shares compared via
cross-multiplication of exact int64 micrometre sums), so results are
bit-stable and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import geometry as G
from .spatial_join import segment_cell_pieces


def road_type(ref: Column, highway: Column) -> Column:
    up = F.upper(ref)
    return (
        F.when(ref.isNotNull() & up.contains("NH"), F.lit("NH"))
        .when(ref.isNotNull() & up.contains("SH"), F.lit("SH"))
        .when(ref.isNotNull() & up.contains("MDR"), F.lit("MDR"))
        .when(highway.isin("motorway", "trunk"), F.lit("HW"))
        .otherwise(F.lit("Other"))
    )


def classify_roads(roads: DataFrame, segs: DataFrame, grid: DataFrame) -> DataFrame:
    """The flagship query: road x grid spatial join -> per-road class rollup.

    Shuffle budget (scale-critical): exactly one wide agg (pieces ->
    per-road) plus the final left join.  Road total length is folded
    narrowly over the nested vertex array — integer micrometre sums are
    order-independent, so this equals the old segs.groupBy(osm_id) rollup
    while removing an entire 10^12-row shuffle + join at scale.
    """
    pieces = segment_cell_pieces(segs, grid)
    per_road = pieces.groupBy("osm_id").agg(
        F.countDistinct("grid_id").alias("n_cells"),
        F.sum(F.when(F.col("grid_class") == "Urban", F.col("piece_um"))
              .otherwise(F.lit(0))).alias("urban_len_um"),
        F.sum(F.when(F.col("grid_class") == "Semi_Urban", F.col("piece_um"))
              .otherwise(F.lit(0))).alias("semiurban_len_um"),
        F.sum(F.when(F.col("grid_class") == "Rural", F.col("piece_um"))
              .otherwise(F.lit(0))).alias("rural_len_um"),
    )
    total = F.aggregate(
        G.vertex_pairs(), F.lit(0).cast("long"),
        lambda acc, p: acc + G.quantize_len_um(
            G.seg_len_m(p["a"]["lon"], p["a"]["lat"],
                        p["b"]["lon"], p["b"]["lat"])))

    out = (
        roads.select("osm_id", "highway", "ref",
                     total.alias("total_len_um"))
        .join(per_road, "osm_id", "left")
    )
    n_cells = F.coalesce(F.col("n_cells"), F.lit(0))
    urban = F.coalesce(F.col("urban_len_um"), F.lit(0))
    semi = F.coalesce(F.col("semiurban_len_um"), F.lit(0))
    rural = F.coalesce(F.col("rural_len_um"), F.lit(0))
    hit_total = urban + semi + rural
    # length-share setting via integer cross-multiplication (no division)
    setting = (
        F.when(hit_total == 0, F.lit("Rural"))
        .when(urban * 2 >= hit_total, F.lit("Urban"))
        .when((urban + semi) * 2 >= hit_total, F.lit("Semi_Urban"))
        .otherwise(F.lit("Rural"))
    )
    rt = road_type(F.col("ref"), F.col("highway"))
    return out.select(
        "osm_id", "highway",
        rt.alias("road_type"),
        F.col("highway").isin(W.BIKABLE).alias("bikable"),
        n_cells.alias("n_cells"),
        (n_cells > 1).alias("multi_grid"),
        setting.alias("road_setting"),
        F.concat(rt, F.lit("_"), setting).alias("road_classification"),
        F.coalesce(F.col("total_len_um"), F.lit(0)).alias("total_len_um"),
        urban.alias("urban_len_um"),
        semi.alias("semiurban_len_um"),
        rural.alias("rural_len_um"),
    )


def tile_assignment(roads: DataFrame, segs: DataFrame, grid: DataFrame) -> DataFrame:
    """Deterministic one-tile-per-road assignment (J5): the reference's
    lateral `ST_Covers(grid, ST_PointOnSurface(road)) ORDER BY grid_id LIMIT 1`
    (scripts/dev-runs/persona_v2_run.py:222-243).

    Two variants, both exact:
      * rep_cell  — cell of the representative (middle) vertex: a pure
        point->cell encode, no join at all;
      * min_cell  — minimum intersecting cell id (the ORDER BY .. LIMIT 1
        tie-break made associative: MIN is shuffle-free partial-aggregable).
    """
    from ..functions import cells

    rv = cells.rep_vertex()
    rep = roads.select(
        "osm_id", cells.cell_of_point(rv["lon"], rv["lat"]).alias("rep_cell"))
    mins = (
        segment_cell_pieces(segs, grid)
        .groupBy("osm_id")
        .agg(F.min("grid_id").alias("min_cell"))
    )
    return rep.join(mins, "osm_id", "left") \
              .select("osm_id", "rep_cell", F.col("min_cell"))
