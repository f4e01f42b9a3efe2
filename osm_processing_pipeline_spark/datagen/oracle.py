"""DuckDB-SQL twin of ``datagen/world.py``.

Emits CTE SQL that derives the *identical* synthetic world from the same
parquet views (``lineitem``, ``part``, ``customer``) using the same constants
from ``worldspec`` — every coordinate an exact binary fraction, every
predicate IEEE-exact arithmetic — so the driver's DuckDB oracle reproduces the
Spark engine's outputs bit-for-bit.

All SQL strings here are generated from ``worldspec`` constants; nothing is
hand-duplicated.
"""

from __future__ import annotations

from .. import worldspec as W


def fl(x: float) -> str:
    """Emit a float literal that DuckDB types as DOUBLE (scientific notation).

    DuckDB parses plain decimal literals as DECIMAL, and its DECIMAL->DOUBLE
    cast is not correctly rounded (mantissa * 10^-scale in floating point, two
    roundings) — literals must carry an exponent to parse as DOUBLE directly.
    """
    r = repr(float(x))
    return r if ("e" in r or "E" in r or "inf" in r or "nan" in r) else r + "e0"


def str_list(values) -> str:
    """Quoted SQL string literals for an IN list: 'a', 'b', ..."""
    return ", ".join(f"'{v}'" for v in values)


def _case_pick(expr: str, values: list) -> str:
    whens = " ".join(
        f"WHEN {i} THEN " + ("NULL" if v is None else f"'{v}'")
        for i, v in enumerate(values)
    )
    return f"CASE {expr} {whens} END"


def roads_base_cte() -> str:
    hw = _case_pick(f"(a // 16) % {len(W.HIGHWAYS)}", W.HIGHWAYS)
    lanes = _case_pick(f"(a // 64) % {len(W.LANES)}", W.LANES)
    surface = _case_pick(f"(a // 256) % {len(W.SURFACES)}", W.SURFACES)
    oneway = _case_pick(f"(a // 128) % {len(W.ONEWAY)}", W.ONEWAY)
    return f"""
roads_base AS (
  SELECT *,
         {hw} AS highway,
         {lanes} AS lanes,
         {surface} AS surface,
         {oneway} AS oneway,
         CASE WHEN (a // 32) % 16 IN (0,1) THEN 'NH' || CAST((a // 512) % 100 AS VARCHAR)
              WHEN (a // 32) % 16 IN (2,3) THEN 'SH' || CAST((a // 512) % 100 AS VARCHAR)
              WHEN (a // 32) % 16 = 4 THEN 'MDR ' || CAST((a // 512) % 100 AS VARCHAR)
              ELSE NULL END AS ref,
         CASE WHEN urb THEN 0.5e0 + CAST((a*31) % 128 AS DOUBLE)/2048.0e0
              ELSE CAST((a*31) % 1024 AS DOUBLE)/1024.0e0 END AS lon0,
         CASE WHEN urb THEN 0.5e0 + CAST((a*53) % 128 AS DOUBLE)/2048.0e0
              ELSE CAST((a*53) % 1024 AS DOUBLE)/1024.0e0 END AS lat0
  FROM (
    SELECT l_orderkey*8 + l_linenumber AS osm_id,
           (l_orderkey*{W.ROAD_A_MUL1} + l_linenumber*{W.ROAD_A_MUL2}) % {W.A_MOD} AS a,
           ((l_orderkey*{W.ROAD_A_MUL1} + l_linenumber*{W.ROAD_A_MUL2}) % {W.A_MOD}) % 10 < 4 AS urb,
           (l_orderkey*{W.ROAD_A_MUL1} + l_linenumber*{W.ROAD_A_MUL2}) % {W.A_MOD} % 7 + 2 AS nv
    FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)
  )
)""".strip()


def verts_cte() -> str:
    sm, sh, sd = W.STEP_MOD, W.STEP_HALF, W.STEP_DEN
    return f"""
verts AS (
  SELECT osm_id, a, urb, nv, highway, ref, lanes, surface, oneway, k,
         lon0 + COALESCE(SUM(step_lon) OVER w, 0.0e0) AS lon,
         lat0 + COALESCE(SUM(step_lat) OVER w, 0.0e0) AS lat,
         (CAST(round((lon0 + COALESCE(SUM(step_lon) OVER w, 0.0e0)) * {fl(W.COORD_Q)}) AS BIGINT) + {W.NODE_OFF}) * {W.NODE_MUL}
         + CAST(round((lat0 + COALESCE(SUM(step_lat) OVER w, 0.0e0)) * {fl(W.COORD_Q)}) AS BIGINT) + {W.NODE_OFF} AS node_id
  FROM (
    SELECT *, unnest(generate_series(0, nv - 1)) AS k,
           NULL AS _x
    FROM roads_base
  ),
  LATERAL (SELECT CASE WHEN k = 0 THEN 0.0e0
                       ELSE CAST((a + k*{W.STEP_MUL_LON}) % {sm} - {sh} AS DOUBLE)/{fl(sd)} END AS step_lon,
                  CASE WHEN k = 0 THEN 0.0e0
                       ELSE CAST((a + k*{W.STEP_MUL_LAT}) % {sm} - {sh} AS DOUBLE)/{fl(sd)} END AS step_lat) s
  WINDOW w AS (PARTITION BY osm_id ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)""".strip()


def segs_cte() -> str:
    return """
segs AS (
  SELECT osm_id, highway, urb, k AS seg_idx, lon AS ax, lat AS ay,
         LEAD(lon) OVER sw AS bx, LEAD(lat) OVER sw AS by
  FROM verts
  WINDOW sw AS (PARTITION BY osm_id ORDER BY k)
  QUALIFY LEAD(lon) OVER sw IS NOT NULL
)""".strip()


def grid_cte() -> str:
    ulo, uhi, slo, shi = W.grid_class_bounds()
    return f"""
grid AS (
  SELECT grid_id,
         CAST(grid_id % {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} AS x0,
         CAST(grid_id // {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} AS y0,
         CAST(grid_id % {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} + {fl(W.CELL_DEG)} AS x1,
         CAST(grid_id // {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} + {fl(W.CELL_DEG)} AS y1,
         CASE WHEN cx >= {fl(ulo)} AND cx < {fl(uhi)} AND cy >= {fl(ulo)} AND cy < {fl(uhi)} THEN 'Urban'
              WHEN cx >= {fl(slo)} AND cx < {fl(shi)} AND cy >= {fl(slo)} AND cy < {fl(shi)} THEN 'Semi_Urban'
              ELSE 'Rural' END AS grid_class
  FROM (
    SELECT range AS grid_id,
           CAST(range % {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} + {fl(W.CELL_DEG / 2.0)} AS cx,
           CAST(range // {W.NX} AS DOUBLE) * {fl(W.CELL_DEG)} + {fl(W.CELL_DEG / 2.0)} AS cy
    FROM range({W.NX * W.NY})
  )
)""".strip()


def feats_cte() -> str:
    layer = _case_pick(f"(b % {len(W.LAYERS)})", W.LAYERS)
    poly_list = str_list(W.POLY_LAYERS)
    return f"""
feats AS (
  SELECT feature_id, b, {layer} AS layer,
         CAST((b*29) % 1024 AS DOUBLE)/1024.0e0 AS cx,
         CAST((b*43) % 1024 AS DOUBLE)/1024.0e0 AS cy,
         CAST((b // 8) % 8 + 1 AS DOUBLE)/512.0e0 AS r,
         {layer} IN ({poly_list}) AS is_poly
  FROM (
    SELECT p_partkey AS feature_id,
           (p_partkey * {W.FEATURE_B_MUL}) % {W.A_MOD} AS b
    FROM part
  )
)""".strip()


def _pent_edges(src: str, keys: str) -> str:
    """One row per pentagon edge (e, x1, y1, x2, y2) of every ``src`` row
    (alias ``p``; its cx, cy, r give the pentagon), carrying ``keys``."""
    n = len(W.PENT_X)
    unit = " UNION ALL ".join(
        f"SELECT {i} AS e, {fl(W.PENT_X[i])} AS ux1, {fl(W.PENT_Y[i])} AS uy1, "
        f"{fl(W.PENT_X[(i + 1) % n])} AS ux2, {fl(W.PENT_Y[(i + 1) % n])} AS uy2"
        for i in range(n))
    return f"""SELECT {keys}, e.e,
         p.cx + p.r * e.ux1 AS x1, p.cy + p.r * e.uy1 AS y1,
         p.cx + p.r * e.ux2 AS x2, p.cy + p.r * e.uy2 AS y2
  FROM {src} p CROSS JOIN ({unit}) e"""


def feat_edges_cte() -> str:
    """Pentagon edge list for polygon features (one row per edge)."""
    return f"""
feat_edges AS (
  {_pent_edges('feats', 'p.feature_id, p.layer')}
  WHERE p.is_poly
)""".strip()


def extra_feats_cte() -> str:
    """shrub/protected_area pentagon features from part — the same
    derivation as datagen/world.extra_features."""
    km = W.EXTRA_KEEP_MOD
    layer = _case_pick(f"(b2 % {km})",
                       W.EXTRA_LAYERS + [None] * (km - len(W.EXTRA_LAYERS)))
    return f"""
extra_feats AS (
  SELECT pk + {W.EXTRA_FEATURE_OFF} AS feature_id, {layer} AS layer,
         CAST((b2*37) % 1024 AS DOUBLE)/1024.0e0 AS cx,
         CAST((b2*59) % 1024 AS DOUBLE)/1024.0e0 AS cy,
         CAST((b2 // 8) % 8 + 1 AS DOUBLE)/512.0e0 AS r
  FROM (
    SELECT p_partkey AS pk, (p_partkey * {W.EXTRA_B_MUL}) % {W.A_MOD} AS b2
    FROM part
  )
  WHERE b2 % {km} < {len(W.EXTRA_LAYERS)}
)""".strip()


def extra_edges_cte() -> str:
    return f"""
extra_edges AS (
  {_pent_edges('extra_feats', 'p.feature_id, p.layer')}
)""".strip()


def admin_cte() -> str:
    """Administrative pentagons from nation (level 2/4/5 escalation ladder)
    — twin of datagen/world.admin_areas."""
    g = W.ADMIN_GRID
    rb = W.ADMIN_R_BASE
    return f"""
admin AS (
  SELECT admin_id, level,
         CAST((admin_id*{W.ADMIN_CX_MUL}) % {g} AS DOUBLE)/{fl(float(g))} + {fl(1.0 / (2 * g))} AS cx,
         CAST((admin_id*{W.ADMIN_CY_MUL} + {W.ADMIN_CY_ADD}) % {g} AS DOUBLE)/{fl(float(g))} + {fl(1.0 / (2 * g))} AS cy,
         CAST(CASE level WHEN 2 THEN {rb[2]} WHEN 4 THEN {rb[4]} ELSE {rb[5]} END
              + admin_id % 3 AS DOUBLE)/{fl(W.ADMIN_R_DEN)} AS r
  FROM (
    SELECT n_nationkey AS admin_id,
           CASE WHEN n_nationkey % 5 = 0 THEN 2
                WHEN n_nationkey % 5 IN (1, 2) THEN 4
                ELSE 5 END AS level
    FROM nation
  )
)""".strip()


def admin_edges_cte() -> str:
    return f"""
admin_edges AS (
  {_pent_edges('admin', 'p.admin_id, p.level')}
)""".strip()


def qpts_cte() -> str:
    return """
qpts AS (
  SELECT c_custkey AS query_id,
         CAST((c_custkey * 7687) % 1024 AS DOUBLE)/1024.0e0 AS qx,
         CAST((c_custkey * 5741) % 1024 AS DOUBLE)/1024.0e0 AS qy
  FROM customer WHERE c_custkey % 10 = 0
)""".strip()


def with_world(*ctes: str) -> str:
    """Assemble a WITH clause from named fragments (deduplicated, ordered)."""
    order = ["roads_base", "verts", "segs", "grid", "feats", "feat_edges",
             "extra_feats", "extra_edges", "admin", "admin_edges", "qpts"]
    known = {
        "roads_base": roads_base_cte,
        "verts": verts_cte,
        "segs": segs_cte,
        "grid": grid_cte,
        "feats": feats_cte,
        "feat_edges": feat_edges_cte,
        "extra_feats": extra_feats_cte,
        "extra_edges": extra_edges_cte,
        "admin": admin_cte,
        "admin_edges": admin_edges_cte,
        "qpts": qpts_cte,
    }
    deps = {
        "verts": ["roads_base"],
        "segs": ["roads_base", "verts"],
        "feat_edges": ["feats"],
        "extra_edges": ["extra_feats"],
        "admin_edges": ["admin"],
    }
    wanted: set[str] = set()

    def add(name: str) -> None:
        for d in deps.get(name, []):
            add(d)
        wanted.add(name)

    for c in ctes:
        add(c)
    parts = [known[n]() for n in order if n in wanted]
    return "WITH " + ",\n".join(parts)
