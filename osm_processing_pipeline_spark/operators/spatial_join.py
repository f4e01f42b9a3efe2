"""Two-phase spatial joins: cell-cover equi-join -> exact refinement.

This is the engine's replacement for the reference's GIST-indexed nested-loop
spatial joins.  The coarse phase explodes a geometry's cell cover and
equi-joins on cell id (hash join, partition-prunable at scale); the fine phase
evaluates the exact predicate as a pure Catalyst expression — mirroring the
reference's `&&` bbox prefilter + ST_Intersects structure
(sql/road_classification/06_handle_roads_intersecting_multiple_grids.sql:11-33).

Scale notes (100 TB / 10^12 docs):
  * the grid dimension is broadcast when small; at planetary cell counts the
    join keys are co-partitioned by cell id (Iceberg partition-by-cell), so
    the cover join is a local join after one shuffle of the exploded side.
  * explode fans out by the cover size (<=4 here); dense-urban skew lives in
    the *per-cell* row counts, which AQE skew-split handles for the join; the
    downstream per-road aggregation keys on osm_id (uniform, no skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells, geometry as G


def segment_cell_pieces(segs: DataFrame, grid: DataFrame) -> DataFrame:
    """Join road segments to grid cells they intersect.

    Returns one row per (segment, cell) candidate that passes the exact
    seg/rect test, with ``piece_um`` = clipped in-cell length quantized to
    int64 micrometres (ST_Length(ST_Intersection(...)) of
    06_handle_roads...sql:21) — touching pieces keep piece_um = 0 but still
    count for cell membership (ST_Intersects semantics).
    """
    cand = segs.withColumn(
        "grid_id",
        F.explode(cells.segment_cover(F.col("ax"), F.col("ay"),
                                      F.col("bx"), F.col("by"))),
    )
    j = cand.join(F.broadcast(grid), "grid_id")
    args = (F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"))
    hit = G.seg_rect_intersects(*args)
    frac = G.seg_rect_clip_frac(*args)
    seg_len = G.seg_len_m(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
    return (
        j.withColumn("hit", hit)
        .filter(F.col("hit"))
        .withColumn("piece_um", G.quantize_len_um(frac * seg_len))
    )


def polygon_candidates(pts: DataFrame, polys: DataFrame) -> DataFrame:
    """Coarse phase of point x polygon joins: points(lon, lat) keyed by their
    cell, polygons exploded over their bbox cover, equi-join on cell."""
    p = pts.withColumn("_cell", cells.cell_of_point(F.col("lon"), F.col("lat")))
    q = polys.withColumn(
        "_cell",
        F.explode(cells.bbox_cover(F.col("xmin"), F.col("ymin"),
                                   F.col("xmax"), F.col("ymax"))),
    )
    return p.join(q, "_cell")


def point_in_polygon_join(pts: DataFrame, polys: DataFrame) -> DataFrame:
    """Exact point-in-polygon join (crossing number refine) — the north-rule
    PIP operator (ST_Intersects point/polygon path,
    sql/road_scenery/03_scenery_forest.sql:8-13)."""
    hit = G.point_in_poly(F.col("lon"), F.col("lat"), F.col("edges"))
    return polygon_candidates(pts, polys).filter(hit).drop("_cell")


def road_cells(segs: DataFrame) -> DataFrame:
    """Exact distinct (osm_id, _cell) road-presence pairs.  Cell bounds are
    computed arithmetically from the cell id — no grid join needed."""
    cand = segs.withColumn(
        "_cell", F.explode(cells.segment_cover(F.col("ax"), F.col("ay"),
                                               F.col("bx"), F.col("by"))))
    x0, y0, x1, y1 = cells.cell_bounds(F.col("_cell"))
    hit = G.seg_rect_intersects(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                                x0, y0, x1, y1)
    return cand.filter(hit).select("osm_id", "_cell").distinct()


def _disk_cover(feature_pts: DataFrame, radius_deg: float) -> DataFrame:
    """feature_pts(feature_id, cx, cy) exploded over each feature's disk
    cover: one row per cell the disk reaches, with ``_full`` true when the
    cell's FARTHEST corner is within the radius (the whole cell is covered)
    and false when the disk edge crosses it.  Cells whose NEAREST point is
    beyond the radius are dropped.  Both tests are exact IEEE arithmetic
    with <= bounds."""
    fx, fy = F.col("cx"), F.col("cy")
    cov = feature_pts.withColumn(
        "_cell", F.explode(cells.disk_cover_of_point(fx, fy, radius_deg)))
    x0, y0, x1, y1 = cells.cell_bounds(F.col("_cell"))
    far_x = F.greatest(F.abs(fx - x0), F.abs(fx - x1))
    far_y = F.greatest(F.abs(fy - y0), F.abs(fy - y1))
    far2 = far_x * far_x + far_y * far_y
    nx = F.greatest(x0, F.least(x1, fx))
    ny = F.greatest(y0, F.least(y1, fy))
    near2 = (fx - nx) * (fx - nx) + (fy - ny) * (fy - ny)
    r2 = F.lit(radius_deg) * F.lit(radius_deg)
    return cov.filter(near2 <= r2).withColumn("_full", far2 <= r2)


def _refine_partial(segs: DataFrame, cov: DataFrame, radius_deg: float,
                    cols: tuple[str, ...]) -> DataFrame:
    """Exact per-segment distance refine of the boundary cells of a
    ``_disk_cover`` against the road segments sharing each cell; returns
    ``cols`` of the (segment, feature) rows within the radius."""
    part = cov.filter(~F.col("_full")).select("_cell", "feature_id", "cx", "cy")
    scov = segs.withColumn(
        "_cell", F.explode(cells.segment_cover(F.col("ax"), F.col("ay"),
                                               F.col("bx"), F.col("by"))))
    d2 = G.seg_point_dist2_deg(F.col("ax"), F.col("ay"), F.col("bx"),
                               F.col("by"), F.col("cx"), F.col("cy"))
    r2 = F.lit(radius_deg) * F.lit(radius_deg)
    return scov.join(part, "_cell").filter(d2 <= r2).select(*cols)


def roads_within_distance(segs: DataFrame, rcells: DataFrame,
                          feature_pts: DataFrame, radius_deg: float) -> DataFrame:
    """Distinct osm_ids with ANY feature(feature_id, cx, cy) within
    ``radius_deg`` — the existence-only variant of
    ``distance_pairs_full_partial``.

    When only the flag is needed, materializing (road, feature) pairs is a
    skew bomb: one feature whose disk covers the dense urban core pairs with
    every core road before the distinct.  Here the full-cover side first
    collapses to the distinct CELL set (bounded by the grid size), which
    semi-joins road-cell presence — no pair row ever exists; only boundary
    cells run the exact per-segment refine."""
    cov = _disk_cover(feature_pts, radius_deg)
    full_cells = cov.filter(F.col("_full")).select("_cell").distinct()
    full_roads = rcells.join(full_cells, "_cell", "left_semi") \
                       .select("osm_id")
    refined = _refine_partial(segs, cov, radius_deg, ("osm_id",))
    return full_roads.unionByName(refined).distinct()


def roads_within_line_distance(segs: DataFrame, lines: DataFrame,
                               radius_deg: float) -> DataFrame:
    """Distinct osm_ids with ANY line feature within ``radius_deg`` — the
    beach/coastline semantics (sql/road_scenery/06_scenery_beach.sql:
    ST_DWithin(road, coastline, 0.001)).

    ``lines(cx1, cy1, cx2, cy2)`` is a fixed-size dimension (the world
    coastline — O(1) rows in the scale factor), so its radius-expanded cell
    cover is broadcast to the road-segment cover — the classic big-fact x
    small-dim spatial join.  The exact refine is segment-segment DWithin:
    the segments intersect, OR some endpoint of one lies within the radius
    of the other (the min distance between non-crossing segments is always
    attained at an endpoint) — all existing exact kernels, never a
    cartesian and never a pair-row materialization beyond candidates in
    coastal cells."""
    r2 = radius_deg * radius_deg
    cov = lines.withColumn("_cell", F.explode(cells.bbox_cover(
        F.least("cx1", "cx2") - radius_deg,
        F.least("cy1", "cy2") - radius_deg,
        F.greatest("cx1", "cx2") + radius_deg,
        F.greatest("cy1", "cy2") + radius_deg)))
    scov = segs.withColumn(
        "_cell", F.explode(cells.segment_cover(F.col("ax"), F.col("ay"),
                                               F.col("bx"), F.col("by"))))
    cand = scov.join(F.broadcast(cov), "_cell")
    within = (
        G.seg_seg_intersect(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
                            F.col("cx1"), F.col("cy1"), F.col("cx2"), F.col("cy2"))
        | (G.seg_point_dist2_deg(F.col("cx1"), F.col("cy1"), F.col("cx2"),
                                 F.col("cy2"), F.col("ax"), F.col("ay")) <= r2)
        | (G.seg_point_dist2_deg(F.col("cx1"), F.col("cy1"), F.col("cx2"),
                                 F.col("cy2"), F.col("bx"), F.col("by")) <= r2)
        | (G.seg_point_dist2_deg(F.col("ax"), F.col("ay"), F.col("bx"),
                                 F.col("by"), F.col("cx1"), F.col("cy1")) <= r2)
        | (G.seg_point_dist2_deg(F.col("ax"), F.col("ay"), F.col("bx"),
                                 F.col("by"), F.col("cx2"), F.col("cy2")) <= r2))
    return cand.filter(within).select("osm_id").distinct()


def distance_pairs_full_partial(segs: DataFrame, rcells: DataFrame,
                                feature_pts: DataFrame, radius_deg: float) -> DataFrame:
    """Distinct (osm_id, feature_id) pairs within ``radius_deg`` of the
    features(feature_id, cx, cy) — the full/partial cover split that makes
    large radii tractable.

    A feature's disk cover is classified per cell (``_disk_cover``): in a
    fully covered cell every road present matches with no geometry test —
    one (road-cell x feature) row instead of per-segment candidates.  Only
    boundary cells (disk edge crosses the cell) go through the exact
    per-segment distance refine.  For the 0.09-deg mountain-pass radius this
    removes ~95% of the candidate volume (the interior of the disk) from the
    refine path — the same interior/exterior split S2 region covers use.
    Results are identical to the naive join.
    """
    cov = _disk_cover(feature_pts, radius_deg)
    full = (rcells.join(cov.filter(F.col("_full")).select("_cell", "feature_id"),
                        "_cell")
            .select("osm_id", "feature_id"))
    refined = _refine_partial(segs, cov, radius_deg, ("osm_id", "feature_id"))
    return full.unionByName(refined).distinct()
