"""Uniform-grid tiling index — the engine's GIST-index replacement.

The reference relies on PostGIS GIST indexes for every spatial predicate
(sql/road_classification/01_create_india_grids.sql:46 and friends).  Spark has
no spatial index, so the engine's core currency is an integer **cell id** over
a uniform grid (worldspec.NX x NY cells of CELL_DEG): geometries are encoded to
cell covers, spatial joins become cell equi-joins plus an exact refinement, and
cell id doubles as the partition/sort key for data layout (Iceberg
partition-by-cell at scale).  Neighbors and k-rings are *computable* — no
geometric join is ever needed for proximity expansion.

Everything in this module is a pure Catalyst column expression (whole-stage
codegen; no Python in the hot path).

H3/S2 correspondence: this uniform grid is the sandbox stand-in for an
H3/S2 library (not installed here) — the API is shaped to map 1:1 onto it:
``cell_of_point`` = h3.latlng_to_cell, ``kring`` = h3.grid_disk,
``bbox_cover``/``segment_cover`` = h3.polygon_to_cells over the envelope,
``disk_cover_of_point`` = grid_disk of the radius-scaled ring.  Swapping in
real H3 at cluster scale changes only this module: every operator upstream
consumes opaque int64 cell ids, and H3 cell ids are int64 too.  (A uniform
grid even matches the reference more closely — its india_grids tiling IS a
uniform 0.009-degree grid, 01_create_india_grids.sql:10-43.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..worldspec import CELL_DEG, NX, NY, SEMI_HI, SEMI_LO


def _clamp(c: Column, lo: int, hi: int) -> Column:
    return F.greatest(F.lit(lo), F.least(F.lit(hi), c))


def cell_i(lon: Column) -> Column:
    """Column index of a point's cell (clamped into the world)."""
    return _clamp(F.floor(lon / F.lit(CELL_DEG)).cast("long"), 0, NX - 1)


def cell_j(lat: Column) -> Column:
    return _clamp(F.floor(lat / F.lit(CELL_DEG)).cast("long"), 0, NY - 1)


def cell_id(i: Column, j: Column) -> Column:
    return (j * F.lit(NX) + i).cast("long")


def cell_of_point(lon: Column, lat: Column) -> Column:
    """Point -> cell id. Pure arithmetic; replaces h3.latlng_to_cell."""
    return cell_id(cell_i(lon), cell_j(lat))


def rep_vertex() -> Column:
    """A road's representative vertex: the middle element (1-based
    ``size / 2 + 1``) of its ``vertices`` struct array — the oracles'
    ``k = nv // 2`` row.  Every rep-point consumer (tile assignment, raster
    sample, hill/beach/persona rural gates, admin bounds) reads this one."""
    return F.element_at("vertices", (F.floor(F.size("vertices") / 2) + 1).cast("int"))


def in_semi_window(lon: Column, lat: Column) -> Column:
    """True inside the [SEMI_LO, SEMI_HI)^2 window (urban core plus its
    ring): a road whose representative point falls here is not rural."""
    return ((lon >= SEMI_LO) & (lon < SEMI_HI)
            & (lat >= SEMI_LO) & (lat < SEMI_HI))


def cell_bounds(cid: Column) -> tuple[Column, Column, Column, Column]:
    """(x0, y0, x1, y1) of a cell's closed envelope."""
    i = (cid % F.lit(NX)).cast("double")
    j = F.floor(cid / F.lit(NX)).cast("double")
    x0 = i * F.lit(CELL_DEG)
    y0 = j * F.lit(CELL_DEG)
    return x0, y0, x0 + F.lit(CELL_DEG), y0 + F.lit(CELL_DEG)


def bbox_cover(xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """array<long> of all cell ids whose envelope intersects the bbox.

    The coarse phase of every two-phase spatial join (mirrors the `&&` bbox
    prefilter the reference puts before ST_Intersects,
    06_handle_roads_intersecting_multiple_grids.sql:11-12).
    """
    i0 = cell_i(xmin)
    i1 = cell_i(xmax)
    j0 = cell_j(ymin)
    j1 = cell_j(ymax)
    return F.flatten(
        F.transform(
            F.sequence(j0, j1),
            lambda j: F.transform(F.sequence(i0, i1), lambda i: cell_id(i, j)),
        )
    )


def segment_cover(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    """Cell cover of a line segment = bbox cover (segments here span <=2x2
    cells, so the bbox superset is tight; the exact seg/cell test refines)."""
    return bbox_cover(F.least(ax, bx), F.least(ay, by),
                      F.greatest(ax, bx), F.greatest(ay, by))


def kring(cid: Column, r: int) -> Column:
    """array<long> of the (2r+1)^2 neighborhood of a cell, clipped to the
    world border (cells outside are dropped, not clamped, so no duplicates).

    This is the kNN / distance-join expansion primitive (north-rule kNN via
    k-ring) and the neighborhood-smoothing join key
    (sql/urban_pressure/06_compute_reinforced_pressure_chunked.sql:4-16).
    """
    i = cid % F.lit(NX)
    j = F.floor(cid / F.lit(NX)).cast("long")
    ring = F.flatten(
        F.transform(
            F.sequence(F.lit(-r), F.lit(r)),
            lambda dj: F.transform(
                F.sequence(F.lit(-r), F.lit(r)),
                lambda di: F.when(
                    (i + di >= 0) & (i + di < NX) & (j + dj >= 0) & (j + dj < NY),
                    cell_id(i + di, j + dj),
                ),
            ),
        )
    )
    return F.filter(ring, lambda c: c.isNotNull())


def disk_cover_of_point(lon: Column, lat: Column, radius_deg: float) -> Column:
    """Cells whose envelope can contain points within radius_deg of (lon,lat):
    the k-ring with r = ceil(radius/cell edge).  Used by distance joins: the
    ring bound guarantees no candidate is missed (ring-sufficiency)."""
    import math

    r = int(math.ceil(radius_deg / CELL_DEG))
    return kring(cell_of_point(lon, lat), r)


# ------------------------------------------------------------- micro-grid
# Radius-sized keys for SUB-CELL-radius joins: keying a join whose radius is
# a fraction of CELL_DEG on the 128x128 tiling cells makes the dense urban
# core quadratic (thousands of rows per hot cell); a micro-grid sized to the
# radius bounds each bucket by the true collision neighborhood (the q09
# lesson).  M must be a power of two so the edge 1/M is exact.

def micro_grid_for_radius(radius_deg: float) -> int:
    """Largest power-of-two M with 1/M >= radius_deg — the finest sound
    micro-grid for a radius-deg join (one-cell point keys + radius-expanded
    bbox covers never miss a candidate)."""
    import math

    return 1 << int(math.floor(math.log2(1.0 / radius_deg)))


def micro_cell_of_point(lon: Column, lat: Column, m: int) -> Column:
    """Point -> micro-cell id on the m x m grid (clamped into the world)."""
    mi = _clamp(F.floor(lon * F.lit(float(m))).cast("long"), 0, m - 1)
    mj = _clamp(F.floor(lat * F.lit(float(m))).cast("long"), 0, m - 1)
    return (mj * F.lit(m) + mi).cast("long")


def micro_kring_of_point(lon: Column, lat: Column, m: int) -> Column:
    """3x3 micro-cell ring around a point, clipped at the world border —
    the point-side key when the OTHER join side carries only its exact
    bbox cover: any partner within one cell edge lies in the ring."""
    mi = _clamp(F.floor(lon * F.lit(float(m))).cast("long"), 0, m - 1)
    mj = _clamp(F.floor(lat * F.lit(float(m))).cast("long"), 0, m - 1)
    ring = F.flatten(
        F.transform(
            F.sequence(F.lit(-1), F.lit(1)),
            lambda dj: F.transform(
                F.sequence(F.lit(-1), F.lit(1)),
                lambda di: F.when(
                    (mi + di >= 0) & (mi + di < m)
                    & (mj + dj >= 0) & (mj + dj < m),
                    ((mj + dj) * F.lit(m) + (mi + di)).cast("long")),
            ),
        )
    )
    return F.filter(ring, lambda c: c.isNotNull())


def micro_bbox_cover(xmin: Column, ymin: Column,
                     xmax: Column, ymax: Column, m: int) -> Column:
    """array<long> of m x m micro-cells intersecting the bbox (clamped
    consistently with ``micro_cell_of_point``, so border matches survive).
    Expand the bbox by the join radius on the caller side and the single
    point-side cell is guaranteed to be in the cover."""
    mi0 = _clamp(F.floor(xmin * F.lit(float(m))).cast("long"), 0, m - 1)
    mi1 = _clamp(F.floor(xmax * F.lit(float(m))).cast("long"), 0, m - 1)
    mj0 = _clamp(F.floor(ymin * F.lit(float(m))).cast("long"), 0, m - 1)
    mj1 = _clamp(F.floor(ymax * F.lit(float(m))).cast("long"), 0, m - 1)
    return F.flatten(
        F.transform(
            F.sequence(mj0, mj1),
            lambda j: F.transform(F.sequence(mi0, mi1),
                                  lambda i: (j * F.lit(m) + i).cast("long")),
        )
    )
