"""What two or more query families share: ``register`` and the two dicts it
fills (each query's builder and its DuckDB twin), the oracle CTE chains that
several twins compose, and the engine helpers that cross families.  No family
module is imported here, so the families import it without a cycle."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import oracle, oracle_geom as og, oracle_text as ot
from ..functions import cells, geometry as G


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle_sql: str):
    """Register the builder of query ``name`` with its DuckDB twin."""
    def deco(fn):
        QUERIES[name] = fn
        ORACLES[name] = oracle_sql
        return fn

    return deco


# ------------------------------------------------- shared oracle chains
# Rule: a CTE chain or SQL fragment that two oracles use has ONE builder
# here and every consumer calls it (compose, don't copy).  Each chain emits
# one fixed set of CTE names.  Builder -> consumers:
#   _reps_cte (rep vertex + rep cell)  q02 q11 q32 q44 q46 q53 q57 q58
#   _semi_sql (semi-urban window)      q44 q53 q58
#   _pressure_sql_ctes (cell sums)     q10 q12 q46, q27 q35 q48 via:
#   _urban_comp_sql_ctes               q27 q35 q48
#   _dg_sql_ctes (degradation)         q28 q46
#   _wc_sql_ctes (WorldCover buffer)   q45 q46
#   _cl_sql_ctes (classification)      q01, q46 q58 via _persona_branch_sql
#   _hadj_sql_ctes (HAdj upgrade)      q09, q46 q58 via _persona_branch_sql
#   _tw_sql_ctes (twistiness)          q08, q46 q58 via _persona_branch_sql
#   _setting_sql (road setting)        q01, q46 q58 via _persona_branch_sql
#   _dist_hits_cte                     q46 q58 via _persona_branch_sql
#   _pip_hits_cte                      q46 q58
#   _coast_sql_ctes, _coast_hits_cte   q53 q58
#   _isect_cte (intersection nodes)    q07 q28 q46
#   _road_len_cte (total length)       q01 q28 q46
#   _persona_norm_ctes                 q29 q51
#   _jaccard_cte                       q15 q16
#   _emb_ctes (vectors + nonzero nrm)  q21 q22 q37 q39
#   _lsh_bucket_ctes                   q22 q37
#   _cos_refine_ctes, _cos_rank_cte    q21 q22 q37 q39
#   _LANES_FIRST_SQL, _FOURLANE_SQL    q42 q46
#   _sql_road_type (road_type CASE)    q01 q32 q40 q59
#   _sql_parse_lanes                   q31, q29 q51 via _persona_norm_ctes
def _reps_cte() -> str:
    """``reps``: each road's representative vertex (the middle one,
    ``k = nv // 2``; engine ``cells.rep_vertex``) and its grid cell."""
    return f"""reps AS (
  SELECT osm_id, lon AS rep_lon, lat AS rep_lat,
         {og.cell_of_point("lon", "lat")} AS rep_cell
  FROM verts WHERE k = nv // 2
)"""


def _semi_sql() -> str:
    """Semi-urban window test on a ``reps`` row (engine
    ``cells.in_semi_window``)."""
    fl = oracle.fl
    return (f"(rep_lon >= {fl(W.SEMI_LO)} AND rep_lon < {fl(W.SEMI_HI)} "
            f"AND rep_lat >= {fl(W.SEMI_LO)} AND rep_lat < {fl(W.SEMI_HI)})")


def _pressure_sql_ctes() -> str:
    """Raster pixels, per-cell band sums (q10) and urban pressure over
    them (q12): pixels, pixvals, cellsums, pressures."""
    fl = oracle.fl
    n, ppc = W.RASTER_PX, W.PX_PER_CELL
    lo, hi = W.URBAN_PX_LO, W.URBAN_PX_HI
    pdr = f"LEAST(pop_sum / {fl(W.POP_SAT_CELL)}, {fl(1.0)})"
    bur = f"LEAST(built_sum / {fl(W.BUILT_SAT_CELL)}, {fl(1.0)})"
    return f"""pixels AS (
  SELECT px, unnest(generate_series(0, {n - 1})) AS py,
         NULL AS _y
  FROM (SELECT unnest(generate_series(0, {n - 1})) AS px)
),
pixvals AS (
  SELECT px, py,
         (px*37 + py*73) % 100
           + CASE WHEN px >= {lo} AND px < {hi} AND py >= {lo} AND py < {hi}
                  THEN {W.URBAN_POP_BOOST} ELSE 0 END AS pop,
         (px*91 + py*17) % 50 AS built
  FROM pixels
),
cellsums AS (
  SELECT (py // {ppc}) * {W.NX} + (px // {ppc}) AS grid_id,
         CAST(SUM(pop) AS BIGINT) AS pop_sum,
         CAST(SUM(built) AS BIGINT) AS built_sum
  FROM pixvals GROUP BY 1
),
pressures AS (
  SELECT *, CAST(floor(pressure * {fl(1.0e6)}) AS BIGINT) AS pressure_micro
  FROM (SELECT *, ({fl(1.0)} - ({fl(1.0)} - {pdr}) * ({fl(1.0)} - {bur}))
                    AS pressure
        FROM cellsums)
)"""


def _urban_comp_sql_ctes() -> str:
    """Connected components of the urban cells under 4-adjacency (the
    consumer's WITH must be RECURSIVE): the pressure chain plus urban,
    edges, reach, comp."""
    return f"""{_pressure_sql_ctes()},
urban AS (SELECT grid_id FROM pressures
          WHERE pressure >= {oracle.fl(W.PRESSURE_URBAN)}),
edges AS (
  SELECT a.grid_id AS a, b.grid_id AS b
  FROM urban a JOIN urban b ON
    (b.grid_id = a.grid_id - 1 AND a.grid_id % {W.NX} != 0) OR
    (b.grid_id = a.grid_id + 1 AND a.grid_id % {W.NX} != {W.NX - 1}) OR
    b.grid_id = a.grid_id - {W.NX} OR b.grid_id = a.grid_id + {W.NX}
),
reach(a, b) AS (
  SELECT grid_id, grid_id FROM urban
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
),
comp AS (SELECT a AS grid_id, MIN(b) AS component FROM reach GROUP BY a)"""


def _dg_sql_ctes() -> str:
    """q28 intersection-degradation chain over verts/segs (isect..dg);
    ``dg`` holds per-way n_int, max/sum_red_ppm, total_len_um and
    final_red_ppm."""
    fl = oracle.fl
    hier = " ".join(f"WHEN '{h}' THEN {r}" for h, r in W.HIERARCHY.items())
    top = oracle.str_list(W.DEGRADE_TOP_HW)
    base = (f"CASE WHEN n_ways >= 4 THEN {fl(W.DEGRADE_RED['major'])} "
            f"WHEN n_ways = 3 THEN {fl(W.DEGRADE_RED['three_way'])} "
            f"ELSE {fl(W.DEGRADE_RED['crossing'])} END")
    return f"""{_isect_cte()},
dg_nt AS (SELECT DISTINCT node_id, highway FROM verts),
dg_ranked AS (
  SELECT node_id, highway,
         ROW_NUMBER() OVER (PARTITION BY node_id
                            ORDER BY CASE highway {hier} ELSE 0 END DESC,
                                     highway ASC) AS rn
  FROM dg_nt
),
dg_top AS (
  SELECT node_id, MAX(CASE WHEN rn = 1 THEN highway END) AS road_type_1
  FROM dg_ranked WHERE rn <= 2 GROUP BY node_id
),
dg_nodes AS (
  SELECT q.node_id,
         CASE WHEN t.road_type_1 IN ({top}) THEN ({base}) * 2 ELSE {base} END AS red
  FROM isect q JOIN dg_top t USING (node_id)
),
dg_wn AS (SELECT DISTINCT osm_id, node_id FROM verts),
dg_perway AS (
  SELECT osm_id, COUNT(*) AS n_int,
         MAX(CAST(round(red * {fl(W.LEN_Q)}) AS BIGINT)) AS max_red_ppm,
         SUM(CAST(round(red * {fl(W.LEN_Q)}) AS BIGINT)) AS sum_red_ppm,
         list_sort(list({fl(1.0)} - red)) AS omr
  FROM dg_wn JOIN dg_nodes USING (node_id) GROUP BY osm_id
),
{_road_len_cte()},
dg AS (
  SELECT p.osm_id, p.n_int, p.max_red_ppm, p.sum_red_ppm, l.total_len_um,
         CAST(CASE WHEN l.total_len_um >= {W.DEGRADE_LEN_UM}
              THEN sum_red_ppm // n_int
              ELSE CAST(round(({fl(1.0)} - list_reduce(omr, (a, b) -> a * b))
                              * {fl(W.LEN_Q)}) AS BIGINT) END AS BIGINT)
           AS final_red_ppm
  FROM dg_perway p JOIN road_len l USING (osm_id)
)"""


def _isect_cte() -> str:
    """``isect``: the intersection nodes — >= 2 distinct ways AND (>= 3 ways
    OR >= 2 road types OR a mid-way crossing) — with n_ways, n_types and
    mid."""
    return """isect AS (
  SELECT node_id,
         COUNT(DISTINCT osm_id) AS n_ways,
         COUNT(DISTINCT highway) AS n_types,
         MAX(CASE WHEN k > 0 AND k < nv - 1 THEN 1 ELSE 0 END) AS mid
  FROM verts GROUP BY node_id
  HAVING n_ways >= 2 AND (n_ways >= 3 OR n_types >= 2 OR mid = 1)
)"""


def _road_len_cte() -> str:
    """``road_len``: each road's total_len_um, summed over its segs."""
    return f"""road_len AS (
  SELECT osm_id, SUM({og.quantize_um(og.seg_len_m())}) AS total_len_um
  FROM segs GROUP BY osm_id
)"""


def _persona_norm_ctes() -> str:
    """q29 persona base score over roads_base (scored), its global bounds
    (b) and the min/max-normalized score (norm: osm_id, highway,
    base_score, norm_bp)."""
    hw = " ".join(f"WHEN '{h}' THEN {v}" for h, v in W.PERSONA_HW_PTS.items())
    paved = oracle.str_list(W.PAVED)
    bik = oracle.str_list(W.BIKABLE)
    score = (f"CASE highway {hw} ELSE 0 END "
             f"+ CASE WHEN surface IN ({paved}) THEN {W.PERSONA_PAVED_PTS} ELSE 0 END "
             f"+ CASE WHEN oneway IS NOT NULL THEN {W.PERSONA_ONEWAY_PTS} ELSE 0 END "
             f"+ CASE WHEN highway IN ({bik}) THEN {W.PERSONA_BIKABLE_PTS} ELSE 0 END "
             f"+ ({_sql_parse_lanes()}) * {W.PERSONA_LANE_PTS}")
    return f"""scored AS (
  SELECT osm_id, highway, CAST({score} AS BIGINT) AS base_score FROM roads_base
),
b AS (SELECT MIN(base_score) AS mn, MAX(base_score) AS mx FROM scored),
norm AS (
  SELECT osm_id, highway, base_score,
         CAST(CASE WHEN mx > mn THEN ((base_score - mn) * 10000) // (mx - mn)
              ELSE 0 END AS BIGINT) AS norm_bp
  FROM scored, b
)"""


def _jaccard_cte() -> str:
    """``jac``: every ``inter`` row (doc_a, doc_b, any carried columns,
    inter_cnt) with union_cnt and the integer jaccard_permille over the
    per-doc set sizes in ``sizes``."""
    return """jac AS (
  SELECT i.*,
         CAST(sa.n + sb.n - i.inter_cnt AS BIGINT) AS union_cnt,
         CAST((i.inter_cnt * 1000) // (sa.n + sb.n - i.inter_cnt) AS BIGINT)
           AS jaccard_permille
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)"""


def _emb_ctes() -> str:
    """``e`` (vec_id, embedding), its per-dimension rows ``terms1`` (1-based
    index ``i``) and ``nrm``, the quantized squared norm of every NONZERO
    vector: the one place zero vectors leave the cosine chains, which all
    join through ``nrm``."""
    return f"""e AS (SELECT vec_id, embedding FROM embeddings),
terms1 AS (SELECT vec_id, embedding, unnest(generate_series(1, 64)) AS i FROM e),
nrm AS (SELECT vec_id, {ot.qdot_sql('embedding', 'embedding')} AS nrm
        FROM terms1 GROUP BY vec_id HAVING nrm > 0)"""


def _lsh_bucket_ctes() -> str:
    """``projs``: every vector's ANN_PLANES quantized hyperplane projections;
    ``buckets``: their sign bits packed into one bucket id."""
    plane_sums = []
    for j in range(W.ANN_PLANES):
        w = ot.plane_weight_sql(j, "(i - 1)")
        plane_sums.append(
            f"SUM(CAST(floor((CAST(embedding[i] AS DOUBLE) * {w}) * {oracle.fl(1.0e9)}) AS BIGINT)) AS p{j}")
    bucket = " + ".join(
        f"(CASE WHEN p{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(W.ANN_PLANES))
    return f"""projs AS (
  SELECT vec_id, {', '.join(plane_sums)}
  FROM terms1 GROUP BY vec_id
),
buckets AS (SELECT vec_id, {bucket} AS bucket FROM projs)"""


def _cos_refine_ctes() -> str:
    """``cterms`` -> ``dots`` -> ``cosd``: the exact cos_nano of every
    ``cand`` pair (va, vb) whose vectors both have a nonzero ``nrm``."""
    return f"""cterms AS (
  SELECT c.va, c.vb, na.nrm AS na, nb.nrm AS nb,
         ea.embedding AS ea, eb.embedding AS eb,
         unnest(generate_series(1, 64)) AS i
  FROM cand c
  JOIN e ea ON ea.vec_id = c.va
  JOIN e eb ON eb.vec_id = c.vb
  JOIN nrm na ON na.vec_id = c.va
  JOIN nrm nb ON nb.vec_id = c.vb
),
dots AS (
  SELECT va, vb, na, nb, {ot.qdot_sql('ea', 'eb')} AS dt
  FROM cterms GROUP BY va, vb, na, nb
),
cosd AS (SELECT va, vb, {ot.cos_nano_sql('dt', 'na', 'nb')} AS cos_nano FROM dots)"""


def _cos_rank_cte() -> str:
    """``cos_rank``: each va's ``cosd`` neighbours numbered by (cos_nano
    DESC, vb ASC) in ``rank``."""
    return """cos_rank AS (
  SELECT va, vb, cos_nano,
         ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos_nano DESC, vb) AS rank
  FROM cosd
)"""


# q42's fourlane flag: oneway-ish AND the FIRST integer in ``lanes`` >= 2
_LANES_FIRST_SQL = ("COALESCE(CAST(NULLIF(regexp_extract(lanes, '([0-9]+)', 1), '')"
                    " AS INT), 0)")
_FOURLANE_SQL = ("CASE WHEN UPPER(COALESCE(oneway, '')) IN ('YES', 'TRUE', '1', '-1') "
                 f"AND {_LANES_FIRST_SQL} >= 2 THEN 'yes' ELSE 'no' END")


def _wc_sql_ctes() -> str:
    """q45 WorldCover buffer chain over segs (wc_sam..wc): per-road
    forest_px / field_px of the distinct pixels within the buffer."""
    fl = oracle.fl
    n, k = W.RASTER_PX, len(W.WCLASSES)
    buf = fl(W.WC_BUF_PX / float(n))
    step = fl(float(W.WC_SAMPLE_STEP_PX))
    t = "(CAST(j AS DOUBLE) / CAST(m AS DOUBLE))"
    d2 = og.seg_point_dist2("ax", "ay", "bx", "by", "pcx", "pcy")
    return f"""wc_sam AS (
  SELECT osm_id, ax, ay, bx, by,
         GREATEST(1, CAST(ceil((sqrt((bx - ax) * (bx - ax)
                                     + (by - ay) * (by - ay)) * {fl(float(n))})
                               / {step}) AS BIGINT)) AS m
  FROM segs
),
wc_pts AS (
  SELECT osm_id, ax, ay, bx, by,
         CAST(floor((ax + (bx - ax) * {t}) * {fl(float(n))}) AS BIGINT) AS cx,
         CAST(floor((ay + (by - ay) * {t}) * {fl(float(n))}) AS BIGINT) AS cy
  FROM (SELECT *, unnest(generate_series(0, m)) AS j FROM wc_sam)
),
wc_cand AS (
  SELECT osm_id, ax, ay, bx, by, cx + di AS px, cy + dj AS py,
         (CAST(cx + di AS DOUBLE) + 0.5e0) / {fl(float(n))} AS pcx,
         (CAST(cy + dj AS DOUBLE) + 0.5e0) / {fl(float(n))} AS pcy
  FROM wc_pts,
       (SELECT unnest(generate_series(-2, 2)) AS di),
       (SELECT unnest(generate_series(-2, 2)) AS dj)
  WHERE cx + di >= 0 AND cx + di < {n} AND cy + dj >= 0 AND cy + dj < {n}
),
wc_pix AS (
  SELECT DISTINCT osm_id, px, py FROM wc_cand WHERE {d2} <= {buf} * {buf}
),
wc AS (
  SELECT osm_id,
         SUM(CASE WHEN (px * {W.WC_MUL_X} + py * {W.WC_MUL_Y}) % {k} = 0
                  THEN 1 ELSE 0 END) AS forest_px,
         SUM(CASE WHEN (px * {W.WC_MUL_X} + py * {W.WC_MUL_Y}) % {k} IN (1, 2, 3)
                  THEN 1 ELSE 0 END) AS field_px
  FROM wc_pix GROUP BY osm_id
)"""


def _setting_sql() -> str:
    """q01 majority-setting CASE over the cl_per sums."""
    u, s_, ru = ("COALESCE(c.u, 0)", "COALESCE(c.s, 0)", "COALESCE(c.ru, 0)")
    tot = f"({u} + {s_} + {ru})"
    return (f"CASE WHEN {tot} = 0 THEN 'Rural' "
            f"WHEN {u} * 2 >= {tot} THEN 'Urban' "
            f"WHEN ({u} + {s_}) * 2 >= {tot} THEN 'Semi_Urban' "
            f"ELSE 'Rural' END")


def _hadj_sql_ctes() -> str:
    """q09 HAdj endpoint-upgrade chain (h_types..h_per); ``h_per`` holds
    near0, near1 and hadj_upgrade for roads with any match."""
    fl = oracle.fl
    d = fl(W.ENDPOINT_DIST_DEG)
    hd2 = og.point_dist2("e.lon", "e.lat", "h.hlon", "h.hlat")
    return f"""h_types AS (
  SELECT osm_id AS h_osm FROM roads_base
  WHERE ref IS NOT NULL AND (upper(ref) LIKE '%NH%' OR upper(ref) LIKE '%SH%'
                             OR upper(ref) LIKE '%MDR%')
),
h_nodes AS (
  SELECT v.osm_id AS h_osm, v.lon AS hlon, v.lat AS hlat
  FROM verts v JOIN h_types t ON v.osm_id = t.h_osm
),
h_eps AS (
  SELECT osm_id, CASE WHEN k = 0 THEN 0 ELSE 1 END AS ep, lon, lat
  FROM verts WHERE k = 0 OR k = nv - 1
),
h_matches AS (
  SELECT DISTINCT e.osm_id, e.ep
  FROM h_eps e JOIN h_nodes h ON h.h_osm != e.osm_id
    AND h.hlon >= e.lon - {d} AND h.hlon <= e.lon + {d}
    AND h.hlat >= e.lat - {d} AND h.hlat <= e.lat + {d}
  WHERE {hd2} <= {d} * {d}
),
h_per AS (
  SELECT osm_id, near0, near1, near0 AND near1 AS hadj_upgrade
  FROM (SELECT osm_id,
               MAX(CASE WHEN ep = 0 THEN 1 ELSE 0 END) = 1 AS near0,
               MAX(CASE WHEN ep = 1 THEN 1 ELSE 0 END) = 1 AS near1
        FROM h_matches GROUP BY osm_id)
)"""


def _cl_sql_ctes() -> str:
    """q01 classification chain: seg cell cover + per-road cell count and
    class-length sums (emits ``seg_cells``, reusable by any cell-cover
    consumer)."""
    lenm = og.seg_len_m()
    piece = og.quantize_um(f"({og.seg_rect_frac()}) * ({lenm})")
    return f"""{og.cand_cells_ctes()},
cl_per AS (
  SELECT c.osm_id,
         COUNT(DISTINCT c.grid_id) AS n_cells,
         SUM(CASE WHEN g.grid_class = 'Urban' THEN {piece} ELSE 0 END) AS u,
         SUM(CASE WHEN g.grid_class = 'Semi_Urban' THEN {piece} ELSE 0 END) AS s,
         SUM(CASE WHEN g.grid_class = 'Rural' THEN {piece} ELSE 0 END) AS ru
  FROM seg_cells c JOIN grid g USING (grid_id)
  WHERE {og.seg_rect_hit()}
  GROUP BY c.osm_id
)"""


def _tw_sql_ctes() -> str:
    """q08 twistiness chain (tw_segd..tw_p): ``tw_roll`` holds the
    sharp/broad lengths and counts, ``tw_tot`` the total length and
    ``tw_p`` every road's twist_permille."""
    fl = oracle.fl
    M, Q = fl(W.M_PER_DEG), fl(W.LEN_Q)
    win = int(W.SUPPRESS_M * 1.0e6)
    nconf = len(W.CONFLICT_TYPES)
    return f"""tw_segd AS (
  SELECT osm_id, k, nv, lon, lat, node_id,
         (LEAD(lon) OVER w - lon) * {M} AS sdx,
         (LEAD(lat) OVER w - lat) * {M} AS sdy,
         LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat,
         LEAD(lon) OVER w AS nlon, LEAD(lat) OVER w AS nlat
  FROM verts WINDOW w AS (PARTITION BY osm_id ORDER BY k)
),
tw_segq AS (
  SELECT *,
         CASE WHEN sdx IS NULL THEN 0
              ELSE CAST(floor(sqrt(sdx*sdx + sdy*sdy) * {Q}) AS BIGINT) END AS seg_um
  FROM tw_segd
),
tw_cumv AS (
  SELECT *,
         COALESCE(SUM(seg_um) OVER (PARTITION BY osm_id ORDER BY k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM tw_segq
),
tw_conf AS (SELECT osm_id, cum AS ccum FROM tw_cumv WHERE node_id % 97 < {nconf}),
tw_interior AS (
  SELECT v.osm_id,
         (v.lon - v.plon) * {M} AS ux, (v.lat - v.plat) * {M} AS uy,
         (v.nlon - v.lon) * {M} AS wx, (v.nlat - v.lat) * {M} AS wy,
         (v.nlon - v.plon) * {M} AS cx_, (v.nlat - v.plat) * {M} AS cy_,
         EXISTS (SELECT 1 FROM tw_conf c
                 WHERE c.osm_id = v.osm_id AND abs(v.cum - c.ccum) <= {win}) AS sup
  FROM tw_cumv v WHERE v.k >= 1 AND v.k <= v.nv - 2
),
tw_vm AS (
  SELECT osm_id, sup,
         sqrt(ux*ux + uy*uy) AS a,
         sqrt(wx*wx + wy*wy) AS b,
         sqrt(cx_*cx_ + cy_*cy_) AS c,
         abs(ux*wy - uy*wx) AS area2,
         (ux*wx + uy*wy) AS dot
  FROM tw_interior
),
tw_judged AS (
  SELECT osm_id, sup,
         CAST(floor(((a + b) / 2.0e0) * {Q}) AS BIGINT) AS contrib_um,
         NOT (dot > 0 AND area2 < {fl(W.SIN5)} * (a * b)) AS significant,
         (a > 0 AND b > 0 AND area2 > 0) AS nonzero,
         CASE WHEN area2 > 0 THEN (a * b * c) / (2.0e0 * area2) ELSE NULL END AS radius
  FROM tw_vm
),
tw_flags AS (
  SELECT osm_id, sup, contrib_um,
         significant AND nonzero AND radius <= {fl(W.SHARP_RADIUS_M)} AS sharp,
         significant AND nonzero AND radius <= {fl(W.BROAD_RADIUS_M)} AS broad0
  FROM tw_judged
),
tw_roll AS (
  SELECT osm_id,
         SUM(CASE WHEN sharp AND NOT sup THEN contrib_um ELSE 0 END) AS sharp_len_um,
         SUM(CASE WHEN broad0 AND NOT sharp AND NOT sup THEN contrib_um ELSE 0 END) AS broad_len_um,
         SUM(CASE WHEN sharp AND NOT sup THEN 1 ELSE 0 END) AS n_sharp,
         SUM(CASE WHEN broad0 AND NOT sharp AND NOT sup THEN 1 ELSE 0 END) AS n_broad,
         SUM(CASE WHEN sup THEN 1 ELSE 0 END) AS n_suppressed
  FROM tw_flags GROUP BY osm_id
),
tw_tot AS (SELECT osm_id, SUM(seg_um) AS total_len_um FROM tw_segq GROUP BY osm_id),
tw_p AS (
  SELECT r.osm_id,
         CAST(CASE WHEN COALESCE(tt.total_len_um, 0) > 0
              THEN ((COALESCE(tr.sharp_len_um, 0) * 2
                     + COALESCE(tr.broad_len_um, 0)) * 1000)
                   // GREATEST(tt.total_len_um, 1)
              ELSE 0 END AS BIGINT) AS twist_permille
  FROM roads_base r
  LEFT JOIN tw_roll tr ON tr.osm_id = r.osm_id
  LEFT JOIN tw_tot tt ON tt.osm_id = r.osm_id
)"""


def _pip_hits_cte(name: str, layer: str) -> str:
    """Distinct osm_ids with ANY vertex inside a pentagon of ``layer``
    (the q03/q46-lakes crossing-parity PIP)."""
    cross = og.point_in_poly_crossing("v.lon", "v.lat", "e.x1", "e.y1",
                                      "e.x2", "e.y2")
    return f"""{name} AS (
  SELECT DISTINCT osm_id FROM (
    SELECT v.osm_id
    FROM verts v
    JOIN feats f ON f.is_poly AND f.layer = '{layer}'
      AND v.lon >= f.cx - f.r AND v.lon <= f.cx + f.r
      AND v.lat >= f.cy - f.r AND v.lat <= f.cy + f.r
    JOIN feat_edges e ON e.feature_id = f.feature_id
    GROUP BY v.osm_id, v.k, v.lon, v.lat, f.feature_id
    HAVING SUM({cross}) % 2 = 1
  )
)"""


def _dist_hits_cte(name: str, layer: str, dist: float) -> str:
    """Distinct osm_ids with any segment within ``dist`` of a point
    feature of ``layer`` (the q04-style distance join)."""
    fl = oracle.fl
    dd = fl(dist)
    sd2 = og.seg_point_dist2("s.ax", "s.ay", "s.bx", "s.by", "f.cx", "f.cy")
    return f"""{name} AS (
  SELECT DISTINCT s.osm_id
  FROM segs s JOIN feats f ON f.layer = '{layer}'
    AND f.cx >= LEAST(s.ax, s.bx) - {dd} AND f.cx <= GREATEST(s.ax, s.bx) + {dd}
    AND f.cy >= LEAST(s.ay, s.by) - {dd} AND f.cy <= GREATEST(s.ay, s.by) + {dd}
  WHERE {sd2} <= {dd} * {dd}
)"""


def _coast_sql_ctes() -> str:
    """q53 coastline dimension: the fixed polyline + its dilated cell
    cover (coast, coast_cells_i, coast_cells)."""
    fl = oracle.fl
    W_ = W
    r = fl(W_.BEACH_DIST_DEG)
    yk = (f"({fl(W_.COAST_Y_BASE)} + CAST((k * {W_.COAST_Y_MUL}) "
          f"% {W_.COAST_Y_MOD} - {W_.COAST_Y_HALF} AS DOUBLE) "
          f"/ {fl(W_.COAST_Y_DEN)})")
    yk1 = (f"({fl(W_.COAST_Y_BASE)} + CAST(((k + 1) * {W_.COAST_Y_MUL}) "
           f"% {W_.COAST_Y_MOD} - {W_.COAST_Y_HALF} AS DOUBLE) "
           f"/ {fl(W_.COAST_Y_DEN)})")
    return f"""coast AS (
  SELECT k,
         CAST(k AS DOUBLE) / {fl(float(W_.COAST_N))} AS cx1, {yk} AS cy1,
         CAST(k + 1 AS DOUBLE) / {fl(float(W_.COAST_N))} AS cx2, {yk1} AS cy2
  FROM (SELECT unnest(generate_series(0, {W_.COAST_N - 1})) AS k)
),
{og.cover_ctes("coast_cells", "coast",
               f"(LEAST(cx1, cx2) - {r})", f"(LEAST(cy1, cy2) - {r})",
               f"(GREATEST(cx1, cx2) + {r})", f"(GREATEST(cy1, cy2) + {r})")}"""


def _coast_hits_cte(name: str) -> str:
    """Distinct osm_ids with any segment line-DWithin of the coastline
    (consumes ``seg_cells`` and the _coast_sql_ctes tables)."""
    fl = oracle.fl
    r = W.BEACH_DIST_DEG
    r2 = r * r
    within = (
        og.seg_seg_intersect("ax", "ay", "bx", "by",
                             "cx1", "cy1", "cx2", "cy2")
        + f" OR {og.seg_point_dist2('cx1', 'cy1', 'cx2', 'cy2', 'ax', 'ay')} <= {fl(r2)}"
        + f" OR {og.seg_point_dist2('cx1', 'cy1', 'cx2', 'cy2', 'bx', 'by')} <= {fl(r2)}"
        + f" OR {og.seg_point_dist2('ax', 'ay', 'bx', 'by', 'cx1', 'cy1')} <= {fl(r2)}"
        + f" OR {og.seg_point_dist2('ax', 'ay', 'bx', 'by', 'cx2', 'cy2')} <= {fl(r2)}")
    return f"""{name} AS (
  SELECT DISTINCT s.osm_id
  FROM seg_cells s JOIN coast_cells c USING (grid_id)
  WHERE {within}
)"""


def _sql_road_type(r: str = "r") -> str:
    hw_list = oracle.str_list(("motorway", "trunk"))
    return (f"CASE WHEN {r}.ref IS NOT NULL AND upper({r}.ref) LIKE '%NH%' THEN 'NH' "
            f"WHEN {r}.ref IS NOT NULL AND upper({r}.ref) LIKE '%SH%' THEN 'SH' "
            f"WHEN {r}.ref IS NOT NULL AND upper({r}.ref) LIKE '%MDR%' THEN 'MDR' "
            f"WHEN {r}.highway IN ({hw_list}) THEN 'HW' "
            f"ELSE 'Other' END")


def _sql_parse_lanes() -> str:
    return (f"CASE WHEN lanes IS NOT NULL AND regexp_matches(lanes, '^[0-9]+$') "
            f"THEN LEAST(CAST(lanes AS INT), {W.LANES_CAP}) "
            f"WHEN lanes IS NOT NULL AND regexp_matches(lanes, '^[0-9]+-[0-9]+$') "
            f"THEN CAST(split_part(lanes, '-', 2) AS INT) "
            f"ELSE {W.LANES_DEFAULT} END")


# ------------------------------------------- shared engine helpers
# Builder -> consumers:
#   _curvature_rollup                  q08, q46 q58 via _persona_road_branches
#   _endpoint_proximity_upgrade        q09, q46 q58 via _persona_road_branches
#   _road_endpoints                    _endpoint_proximity_upgrade, q59
def _curvature_rollup(roads: DataFrame) -> DataFrame:
    """Per-way curvature rollup over an arbitrary road set — per-road
    independent (pure mapInPandas, no shuffle), so callers may pre-filter
    the roads without changing any surviving row (q58's bbox pushdown)."""
    from ..functions.curvature_kernel import OUT_SCHEMA, curvature_map_batches

    r = roads.select(
        "osm_id",
        F.expr("transform(vertices, v -> v.lon)").alias("lons"),
        F.expr("transform(vertices, v -> v.lat)").alias("lats"),
        F.expr("transform(vertices, v -> v.node_id)").alias("node_ids"),
    )
    return r.mapInPandas(curvature_map_batches, schema=OUT_SCHEMA)


def _road_endpoints(roads: DataFrame) -> DataFrame:
    """(osm_id, ep, lon, lat): each road's first (ep 0) and last (ep 1)
    vertex."""
    return roads.select(
        "osm_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("ep"),
                     F.element_at("vertices", 1)["lon"].alias("lon"),
                     F.element_at("vertices", 1)["lat"].alias("lat")),
            F.struct(F.lit(1).alias("ep"),
                     F.element_at("vertices", -1)["lon"].alias("lon"),
                     F.element_at("vertices", -1)["lat"].alias("lat")),
        )).alias("e"),
    ).select("osm_id", "e.ep", "e.lon", "e.lat")


def _endpoint_proximity_upgrade(r: DataFrame, cand: DataFrame,
                                hw_window: tuple | None = None) -> DataFrame:
    """J9 core over an explicit (highway-source, candidate) pair: ``r``
    supplies the NH/SH/MDR vertex positions (semantically GLOBAL — an
    out-of-scope highway can still upgrade an in-scope road), ``cand`` the
    roads whose endpoints are tested.  Per-candidate results depend only on
    the candidate's own endpoints vs the global highway set, so filtering
    ``cand`` is exactness-preserving (q58's bbox pushdown).

    ``hw_window`` (x0, y0, x1, y1), when given, is a caller-guaranteed
    cover of ALL candidate endpoints expanded by the match radius d: a
    highway vertex outside it is > d from every endpoint, so dropping it
    (and any road whose whole vertex envelope misses the window) cannot
    change a match.  Positions are dropped whole, never per-owner, so the
    min/max owner witnesses of every kept position are unchanged —
    exactness-preserving by construction."""
    up = F.upper(F.col("ref"))
    hw_src = r.filter(F.col("ref").isNotNull()
                      & (up.contains("NH") | up.contains("SH")
                         | up.contains("MDR")))
    if hw_window is not None:
        hw_src = hw_src.filter(G.envelope_overlaps(hw_window))
    hverts = (
        hw_src
        .select(F.col("osm_id").alias("h_osm"), F.explode("vertices").alias("v"))
        .select("h_osm", F.col("v.lon").alias("hlon"), F.col("v.lat").alias("hlat"))
    )
    if hw_window is not None:
        wx0, wy0, wx1, wy1 = hw_window
        hverts = hverts.filter(
            (F.col("hlon") >= F.lit(wx0)) & (F.col("hlon") <= F.lit(wx1))
            & (F.col("hlat") >= F.lit(wy0)) & (F.col("hlat") <= F.lit(wy1)))
    hn = (
        hverts
        .groupBy("hlon", "hlat")
        .agg(F.min("h_osm").alias("hmin"), F.max("h_osm").alias("hmax"))
    )
    d = W.ENDPOINT_DIST_DEG
    m = cells.micro_grid_for_radius(d)     # 512: d is exactly one cell edge
    hn_cov = hn.withColumn("_mcell", F.explode(
        cells.kring_of_point(F.col("hlon"), F.col("hlat"), m)))
    eps = _road_endpoints(cand)
    eps = eps.withColumn("_mcell",
                         cells.cell_of_point(F.col("lon"), F.col("lat"), m))
    pairs = eps.join(hn_cov, "_mcell").filter(
        (F.col("hmin") != F.col("osm_id")) | (F.col("hmax") != F.col("osm_id")))
    d2 = G.point_dist2_deg(F.col("lon"), F.col("lat"), F.col("hlon"), F.col("hlat"))
    # no distinct before the rollup: max() is idempotent over duplicate
    # (osm_id, ep) matches and the partial aggregate dedups map-side, so the
    # explicit distinct only added a second exchange
    matches = pairs.filter(d2 <= F.lit(d) * F.lit(d)).select("osm_id", "ep")
    per_road = matches.groupBy("osm_id").agg(
        (F.max(F.when(F.col("ep") == 0, 1).otherwise(0)) == 1).alias("near0"),
        (F.max(F.when(F.col("ep") == 1, 1).otherwise(0)) == 1).alias("near1"),
    )
    out = cand.select("osm_id").join(per_road, "osm_id", "left")
    n0 = F.coalesce(F.col("near0"), F.lit(False))
    n1 = F.coalesce(F.col("near1"), F.lit(False))
    return out.select("osm_id", n0.alias("near0"), n1.alias("near1"),
                      (n0 & n1).alias("hadj_upgrade"))
