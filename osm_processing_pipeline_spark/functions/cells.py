"""Uniform-grid tiling index — the engine's GIST-index replacement, and the
one module that knows the grid layout.

The reference relies on PostGIS GIST indexes for every spatial predicate
(sql/road_classification/01_create_india_grids.sql:46 and friends).  Spark has
no spatial index, so the engine's core currency is an integer **cell id** over
a uniform grid (worldspec.NX x NY cells of CELL_DEG): geometries are encoded to
cell covers, spatial joins become cell equi-joins plus an exact refinement, and
cell id doubles as the partition/sort key for data layout (Iceberg
partition-by-cell at scale).  Neighbors and k-rings are *computable* — no
geometric join is ever needed for proximity expansion.

Layout: every grid here is an m x m grid over the unit world, edge 1/m (m a
power of two, so the edge is exact), row-major ids ``id = j * m + i`` with
``i = clamp(floor(x / edge), 0, m - 1)``.  The tiling grid is the m = NX case
(asserted below); a radius-sized micro-grid is the same grid at the m whose
edge is the join radius, so a 3x3 ring holds every partner.  The sizes in
use, one per grid:

- ``NX`` = 128, the tiling grid: covers, k-rings, the grid dimension, the
  cluster operators;
- 512 = ``micro_grid_for_radius(ENDPOINT_DIST_DEG)``, HAdj endpoint
  proximity (q09, q46, q58), whose radius is exactly one micro-cell edge;
- 512 = ``micro_grid_for_radius`` of q59's 150 m Mercator cover radius;
- 64 = ``micro_grid_for_radius(HILL_SMOOTH_DEG)``, q44's hill smoothing.

No other engine module builds or decomposes a cell id or floors a
coordinate onto one of these grids (``tests/test_grid_layout.py`` enforces
it, allowing only a numpy kernel and a driver-side loop over plain ints);
the DuckDB oracles have one twin, ``datagen/oracle_geom`` (``cell_index``
on the tiling grid and q44's 64 grid, ``cell_of_point``, ``cover_ctes``),
which shares no text with this module.

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

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..worldspec import CELL_DEG, NX, NY, SEMI_HI, SEMI_LO

assert NX == NY and CELL_DEG == 1.0 / NX, "the tiling grid is the m = NX grid"


def _clamp(c: Column, lo: int, hi: int) -> Column:
    return F.greatest(F.lit(lo), F.least(F.lit(hi), c))


def _index(x: Column, m: int) -> Column:
    """Row or column index of a coordinate on the m x m grid, clamped into
    the world: floor(x / edge), the division form every grid shares."""
    return _clamp(F.floor(x / F.lit(1.0 / m)).cast("long"), 0, m - 1)


def cell_id(i: Column, j: Column, m: int = NX) -> Column:
    return (j * F.lit(m) + i).cast("long")


def cell_ij(cid: Column) -> tuple[Column, Column]:
    """(i, j) of a tiling cell id — the inverse of ``cell_id``."""
    return cid % F.lit(NX), F.floor(cid / F.lit(NX)).cast("long")


def cell_of_point(lon: Column, lat: Column, m: int = NX) -> Column:
    """Point -> cell id on the m x m grid. Pure arithmetic; replaces
    h3.latlng_to_cell."""
    return cell_id(_index(lon, m), _index(lat, m), m)


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
    """(x0, y0, x1, y1) of a tiling cell's closed envelope."""
    i, j = cell_ij(cid)
    x0 = i.cast("double") * F.lit(CELL_DEG)
    y0 = j.cast("double") * F.lit(CELL_DEG)
    return x0, y0, x0 + F.lit(CELL_DEG), y0 + F.lit(CELL_DEG)


def cell_center(cid: Column) -> tuple[Column, Column]:
    """(cx, cy) of a tiling cell: x0 + CELL_DEG/2, the same expression tree
    as the oracles' grid CTE, and exact binary fractions."""
    x0, y0, _, _ = cell_bounds(cid)
    return x0 + F.lit(CELL_DEG / 2.0), y0 + F.lit(CELL_DEG / 2.0)


def edge_neighbors(cid: Column) -> Column:
    """array<long> of a tiling cell's 4 edge-adjacent cells (west, east,
    south, north), clipped at the world border."""
    i, j = cell_ij(cid)
    nbrs = F.array(
        F.when(i > 0, cid - 1),
        F.when(i < NX - 1, cid + 1),
        F.when(j > 0, cid - NX),
        F.when(j < NY - 1, cid + NX),
    )
    return F.filter(nbrs, lambda c: c.isNotNull())


def bbox_cover(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
               m: int = NX) -> Column:
    """array<long> of all m x m grid cells whose envelope intersects the bbox.

    The coarse phase of every two-phase spatial join (mirrors the `&&` bbox
    prefilter the reference puts before ST_Intersects,
    06_handle_roads_intersecting_multiple_grids.sql:11-12).  Clamped like
    ``cell_of_point``, so border matches survive.
    """
    i0 = _index(xmin, m)
    i1 = _index(xmax, m)
    j0 = _index(ymin, m)
    j1 = _index(ymax, m)
    return F.flatten(
        F.transform(
            F.sequence(j0, j1),
            lambda j: F.transform(F.sequence(i0, i1), lambda i: cell_id(i, j, m)),
        )
    )


def segment_cover(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    """Cell cover of a line segment = bbox cover (segments here span <=2x2
    cells, so the bbox superset is tight; the exact seg/cell test refines)."""
    return bbox_cover(F.least(ax, bx), F.least(ay, by),
                      F.greatest(ax, bx), F.greatest(ay, by))


def _ring(i: Column, j: Column, r: int, m: int) -> Column:
    """The (2r+1)^2 cells around (i, j), clipped to the world border (cells
    outside are dropped, not clamped, so no duplicates)."""
    ring = F.flatten(
        F.transform(
            F.sequence(F.lit(-r), F.lit(r)),
            lambda dj: F.transform(
                F.sequence(F.lit(-r), F.lit(r)),
                lambda di: F.when(
                    (i + di >= 0) & (i + di < m) & (j + dj >= 0) & (j + dj < m),
                    cell_id(i + di, j + dj, m),
                ),
            ),
        )
    )
    return F.filter(ring, lambda c: c.isNotNull())


def kring(cid: Column, r: int) -> Column:
    """array<long> of the (2r+1)^2 neighborhood of a tiling cell, clipped to
    the world border.

    This is the kNN / distance-join expansion primitive (north-rule kNN via
    k-ring) and the neighborhood-smoothing join key
    (sql/urban_pressure/06_compute_reinforced_pressure_chunked.sql:4-16).
    """
    i, j = cell_ij(cid)
    return _ring(i, j, r, NX)


def kring_of_point(lon: Column, lat: Column, m: int) -> Column:
    """The 3x3 ring around the point's cell on the m x m grid, clipped to
    the world border — the point-side key of a radius-sized micro-grid
    join: with a radius of at most one cell edge, every partner's cell (or
    every cell of its exact bbox cover) lies in the ring."""
    return _ring(_index(lon, m), _index(lat, m), 1, m)


def disk_cover_of_point(lon: Column, lat: Column, radius_deg: float) -> Column:
    """Cells whose envelope can contain points within radius_deg of (lon,lat):
    the k-ring with r = ceil(radius/cell edge).  Used by distance joins: the
    ring bound guarantees no candidate is missed (ring-sufficiency)."""
    r = int(math.ceil(radius_deg / CELL_DEG))
    return kring(cell_of_point(lon, lat), r)


def micro_grid_for_radius(radius_deg: float) -> int:
    """Largest power-of-two m with 1/m >= radius_deg — the finest sound
    micro-grid for a radius-deg join.  Keying a join whose radius is a
    fraction of CELL_DEG on the tiling cells makes the dense urban core
    quadratic (thousands of rows per hot cell); a micro-grid sized to the
    radius bounds each bucket by the true collision neighborhood (the q09
    lesson).  Pass the result as ``m`` to ``cell_of_point``,
    ``bbox_cover`` and ``kring_of_point``."""
    return 1 << int(math.floor(math.log2(1.0 / radius_deg)))
