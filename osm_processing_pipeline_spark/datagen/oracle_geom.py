"""SQL emitters for the exact geometry predicates (DuckDB dialect).

Each function returns an SQL expression string with the *identical operation
tree* as its Catalyst twin in ``functions/geometry.py`` — same operand order,
same guards — so double results are bit-identical.  Float literals go through
``oracle.fl`` (scientific notation -> DOUBLE, see that docstring).
"""

from __future__ import annotations

from .. import worldspec as W
from .oracle import fl


def _slab(a: str, d: str, lo: str, hi: str) -> tuple[str, str]:
    inside = f"({a} >= {lo} AND {a} <= {hi})"
    tlo = (f"CASE WHEN {d} = 0 THEN (CASE WHEN {inside} THEN {fl(0.0)} ELSE {fl(2.0)} END) "
           f"ELSE LEAST(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END")
    thi = (f"CASE WHEN {d} = 0 THEN (CASE WHEN {inside} THEN {fl(1.0)} ELSE {fl(-2.0)} END) "
           f"ELSE GREATEST(({lo} - {a}) / {d}, ({hi} - {a}) / {d}) END")
    return tlo, thi


def seg_rect_tmin_tmax(ax="ax", ay="ay", bx="bx", by="by",
                       x0="x0", y0="y0", x1="x1", y1="y1") -> tuple[str, str]:
    dx = f"({bx} - {ax})"
    dy = f"({by} - {ay})"
    tx0, tx1 = _slab(ax, dx, x0, x1)
    ty0, ty1 = _slab(ay, dy, y0, y1)
    tmin = f"GREATEST({tx0}, {ty0}, {fl(0.0)})"
    tmax = f"LEAST({tx1}, {ty1}, {fl(1.0)})"
    return tmin, tmax


def seg_rect_hit(**kw) -> str:
    tmin, tmax = seg_rect_tmin_tmax(**kw)
    return f"(({tmin}) <= ({tmax}))"


def seg_rect_frac(**kw) -> str:
    tmin, tmax = seg_rect_tmin_tmax(**kw)
    return f"GREATEST(({tmax}) - ({tmin}), {fl(0.0)})"


def seg_len_m(ax="ax", ay="ay", bx="bx", by="by") -> str:
    m = fl(W.M_PER_DEG)
    return (f"sqrt((({bx} - {ax}) * {m}) * (({bx} - {ax}) * {m}) "
            f"+ (({by} - {ay}) * {m}) * (({by} - {ay}) * {m}))")


def quantize_um(len_expr: str) -> str:
    return f"CAST(floor(({len_expr}) * {fl(W.LEN_Q)}) AS BIGINT)"


def cos_lat(lat: str) -> str:
    """Identical Taylor tree to geometry.cos_lat (no library trig)."""
    x = f"(({fl(W.GEO_LAT0_DEG)} + {lat}) * {fl(W.RAD_PER_DEG)})"
    x2 = f"({x} * {x})"
    return (f"((({fl(1.0)} - {x2} / {fl(2.0)}) + ({x2} * {x2}) / {fl(24.0)}) "
            f"- ({x2} * {x2}) * {x2} / {fl(720.0)})")


def seg_len_geo_m(ax="ax", ay="ay", bx="bx", by="by") -> str:
    """Identical tree to geometry.seg_len_geo_m."""
    m = fl(W.M_PER_DEG)
    midlat = f"(({ay} + {by}) * {fl(0.5)})"
    dx = f"((({bx} - {ax}) * {m}) * {cos_lat(midlat)})"
    dy = f"(({by} - {ay}) * {m})"
    return f"sqrt({dx} * {dx} + {dy} * {dy})"


def point_in_poly_crossing(px: str, py: str,
                           x1="x1", y1="y1", x2="x2", y2="y2") -> str:
    """Per-edge crossing term; SUM(...) % 2 = 1 over a polygon's edges gives
    containment (same half-open ray rule as functions/geometry.point_in_poly)."""
    return (f"CASE WHEN (({y1} > {py}) != ({y2} > {py})) "
            f"AND ({px} < {x1} + ({py} - {y1}) * ({x2} - {x1}) / ({y2} - {y1})) "
            f"THEN 1 ELSE 0 END")


def orient(ox, oy, ax, ay, bx, by) -> str:
    v = f"(({ax} - {ox}) * ({by} - {oy}) - ({ay} - {oy}) * ({bx} - {ox}))"
    return f"(CASE WHEN {v} > 0 THEN 1 WHEN {v} < 0 THEN -1 ELSE 0 END)"


def seg_seg_intersect(ax, ay, bx, by, cx, cy, dx, dy) -> str:
    o1 = orient(ax, ay, bx, by, cx, cy)
    o2 = orient(ax, ay, bx, by, dx, dy)
    o3 = orient(cx, cy, dx, dy, ax, ay)
    o4 = orient(cx, cy, dx, dy, bx, by)

    def on_seg(px, py, qx, qy, rx, ry, o):
        return (f"({o} = 0 AND {rx} >= LEAST({px}, {qx}) AND {rx} <= GREATEST({px}, {qx}) "
                f"AND {ry} >= LEAST({py}, {qy}) AND {ry} <= GREATEST({py}, {qy}))")

    return ("((" + o1 + " != " + o2 + " AND " + o3 + " != " + o4 + ") OR "
            + on_seg(ax, ay, bx, by, cx, cy, o1) + " OR "
            + on_seg(ax, ay, bx, by, dx, dy, o2) + " OR "
            + on_seg(cx, cy, dx, dy, ax, ay, o3) + " OR "
            + on_seg(cx, cy, dx, dy, bx, by, o4) + ")")


def seg_point_dist2(ax, ay, bx, by, px, py) -> str:
    """Squared point-to-segment distance with clamped projection — identical
    tree to geometry.seg_point_dist2_deg."""
    dx = f"({bx} - {ax})"
    dy = f"({by} - {ay})"
    len2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"((({px} - {ax}) * {dx} + ({py} - {ay}) * {dy}) / {len2})"
    t = (f"(CASE WHEN {len2} = 0 THEN {fl(0.0)} "
         f"ELSE GREATEST({fl(0.0)}, LEAST({fl(1.0)}, {t_raw})) END)")
    ex = f"({ax} + {t} * {dx} - {px})"
    ey = f"({ay} + {t} * {dy} - {py})"
    return f"({ex} * {ex} + {ey} * {ey})"


def seg_point_geo_dist2_m2(ax, ay, bx, by, px, py) -> str:
    """Identical tree to geometry.seg_point_geo_dist2_m2: scale x by
    M_PER_DEG * cos_lat(feature lat), y by M_PER_DEG, then the standard
    clamped-projection kernel on the scaled operands."""
    c = cos_lat(py)
    m = fl(W.M_PER_DEG)
    return seg_point_dist2(f"(({ax} * {m}) * {c})", f"({ay} * {m})",
                           f"(({bx} * {m}) * {c})", f"({by} * {m})",
                           f"(({px} * {m}) * {c})", f"({py} * {m})")


def point_dist2(ax, ay, bx, by) -> str:
    return f"(({bx} - {ax}) * ({bx} - {ax}) + ({by} - {ay}) * ({by} - {ay}))"


def cell_index(x: str, n: int = W.NX) -> str:
    """Clamped row/column index of coordinate ``x`` on the n x n grid over
    the unit world (edge 1/n) — the oracle side of the grid layout."""
    return f"GREATEST(0, LEAST({n - 1}, CAST(floor({x} / {fl(1.0 / n)}) AS BIGINT)))"


def cell_of_point(x: str, y: str) -> str:
    """Row-major tiling cell id ``j * NX + i`` of the point (x, y)."""
    return f"{cell_index(y)} * {W.NX} + {cell_index(x)}"


def cover_ctes(name: str, src: str, x0: str, y0: str, x1: str, y1: str,
               keep: str = "*") -> str:
    """CTE pair ``{name}_i``, ``{name}``: each ``src`` row (its ``keep``
    columns) once per tiling cell of its clamped bbox cover, keyed
    ``grid_id`` (DuckDB has no lateral table functions, so two chained
    scalar unnests form the cross product)."""
    return f"""{name}_i AS (
  SELECT *, unnest(generate_series(i0, i1)) AS ci FROM (
    SELECT {keep}, {cell_index(x0)} AS i0, {cell_index(x1)} AS i1,
           {cell_index(y0)} AS j0, {cell_index(y1)} AS j1
    FROM {src}
  )
),
{name} AS (
  SELECT {keep}, unnest(generate_series(j0, j1)) * {W.NX} + ci AS grid_id
  FROM {name}_i
)"""


def cand_cells_ctes() -> str:
    """``seg_cells``: each ``segs`` row once per cell of its bbox cover."""
    return cover_ctes("seg_cells", "segs", "LEAST(ax, bx)", "LEAST(ay, by)",
                      "GREATEST(ax, bx)", "GREATEST(ay, by)")
