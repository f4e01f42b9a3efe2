"""Deterministic synthetic spatial world — the single source of truth.

The engine's canonical input (per the target contract) is an interleaved-document
table ``documents(doc_id, spans)`` carrying OSM-like entities: ways (roads) with
ordered vertices and tags, nodes, polygon/point feature layers, grid cells and
raster tiles.  The sandbox testdata does not ship such a table, so we *derive*
one deterministically — by pure integer/binary-fraction arithmetic — from the
driver-generated TPC-H-ish parquet tables (``lineitem``, ``part``, ``customer``).

Everything here is designed for **bit-exact dual implementation**:

* the Spark side (``datagen/world.py``) builds the world with Catalyst column
  expressions,
* the DuckDB oracle side (``datagen/oracle.py``) builds the identical world with
  ANSI SQL generated from the *same constants in this module*.

To make that safe, every coordinate is an exact binary fraction (multiple of
2^-11), so floating-point addition of steps is exact and order-independent, and
every geometric predicate below reduces to IEEE-exact ops (+, -, *, /, sqrt) —
all correctly rounded and therefore identical across engines.  No trig is used
anywhere (turn angles are tested via cross/dot products against literal sin/cos
thresholds; circle radii via the circumradius formula R = abc/4A).

Reference semantics mirrored (citations into /root/reference):
  * uniform grid  — sql/road_classification/01_create_india_grids.sql:10-43
  * urban-core skew — dense Bangalore-like sub-window (urban_pressure README)
  * road tags vocabulary — scripts/Lua3_RouteProcessing_with_curvature.lua:139-149
  * feature layers — Lua3_RouteProcessing_with_curvature.lua:9-137
  * curvature thresholds — sql/road_curvature_v2/02_compute_vertex_angles.sql:63-68
"""

from __future__ import annotations

# ---------------------------------------------------------------- world frame
# World window is [0,1) x [0,1) degrees; the tiling grid is NX x NY cells of
# exactly 1/128 deg (binary-exact), mirroring the reference's 0.009-deg
# ``india_grids`` (01_create_india_grids.sql:32-38).  grid_id = j*NX + i.
NX = 128
NY = 128
CELL_DEG = 1.0 / 128.0          # exact
COORD_Q = 2048                  # coords are multiples of 1/2048 (quantum)
M_PER_DEG = 111320.0            # planar equirectangular scale (engine metric)
CELL_M = CELL_DEG * M_PER_DEG   # ~869.7 m cell edge

# Urban core: an 8x8-cell hotspot holding ~40% of roads (0.4% of the area) —
# the dense-urban-cell skew the north rule requires us to defeat explicitly.
URBAN_LO = 0.5
URBAN_HI = 0.5625               # +8 cells
SEMI_LO = 0.46875               # urban core + 4-cell ring
SEMI_HI = 0.59375

A_MOD = 1 << 20                 # road hash modulus

# ------------------------------------------------------------------ road gen
# Derivation from lineitem (sf0.01 ≈ 60k roads):
#   osm_id = l_orderkey*8 + l_linenumber
#   a      = (l_orderkey*7919 + l_linenumber*104729) % A_MOD
#   urban  = (a % 10) < 4
#   nv     = 2 + (a % 7)                       # 2..8 vertices
#   lon0   = urban ? 0.5 + ((a*31)%128)/2048 : ((a*31)%1024)/1024
#   lat0   = urban ? 0.5 + ((a*53)%128)/2048 : ((a*53)%1024)/1024
#   dlon(k) = (((a + k*257) % 21) - 10)/2048   # k = 1..nv-1, in [-10,10]/2048
#   dlat(k) = (((a + k*389) % 21) - 10)/2048
#   lon(k) = lon0 + sum_{m<=k} dlon(m)         # exact binary sums
ROAD_A_MUL1 = 7919
ROAD_A_MUL2 = 104729
STEP_MUL_LON = 257
STEP_MUL_LAT = 389
STEP_MOD = 21
STEP_HALF = 10
STEP_DEN = 2048.0

HIGHWAYS = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
    "unclassified", "service", "track", "path", "footway", "cycleway",
]
# eligibility predicate (04_prepare_osm_all_roads_table.sql:16-18)
BIKABLE = [
    "trunk", "primary", "secondary", "tertiary", "residential",
    "unclassified", "service", "track", "cycleway",
]
LANES = [None, "1", "2", "3", "4", "2-4", "two", "12"]
SURFACES = [None, "asphalt", "paved", "gravel", "dirt", "concrete"]
ONEWAY = [None, "yes", "-1", "true"]
PAVED = ["asphalt", "paved", "concrete"]

# road hierarchy for intersection categorization
# (01_find_and_categorize_intersections_v2.sql:100-108)
HIERARCHY = {h: i for i, h in enumerate(reversed(HIGHWAYS), start=1)}

# node ids: coords are exact multiples of 1/COORD_Q, so quantization is exact.
#   node_id = (lon*2048 + 512)*8192 + (lat*2048 + 512)
NODE_OFF = 512
NODE_MUL = 8192

# conflict nodes (Lua3...lua:263-277): ct = node_id % 97 -> type
CONFLICT_TYPES = ["traffic_signals", "stop", "give_way", "crossing"]

# ------------------------------------------------------------------ features
# From part (sf0.01 ≈ 2000 features):
#   b = (p_partkey * 2654435761) % A_MOD
#   layer = LAYERS[b % 8]; cx = ((b*29)%1024)/1024 ; cy = ((b*43)%1024)/1024
#   r = (1 + ((b//8) % 8)) / 512                       # 2..16/1024 deg
FEATURE_B_MUL = 2654435761
LAYERS = [
    "forest", "lakes", "desert", "fields", "reserve_forest",   # pentagons
    "hills_nodes", "mountain_pass", "rivers",                  # points
]
POLY_LAYERS = LAYERS[:5]

# pentagon unit directions (exact double literals, same text in SQL)
PENT_X = [1.0, 0.30901699437494745, -0.8090169943749473,
          -0.8090169943749475, 0.30901699437494723]
PENT_Y = [0.0, 0.9510565162951535, 0.5877852522924731,
          -0.587785252292473, -0.9510565162951536]

# ST_DWithin-style degree thresholds (sql/road_scenery/04..11_*.sql) — the
# reference deliberately uses *degree* distances in 4326; we mirror that.
DIST_HILL_DEG = 0.027       # 04_scenery_hill.sql:7-26 (3 km)
DIST_PASS_DEG = 0.09        # 11_mountain_pass.sql:8-14 (10 km)
DIST_RIVER_DEG = 0.0078125  # 16/2048 — river proximity (adapted to world scale)

# ------------------------------------------------------------------- raster
# Synthetic raster: 1024x1024 px over the world (px = 1/1024 deg = 8 px/cell),
# tiled 16x16 px (=> 64x64 tiles, one tile covers 2x2 grid cells), mirroring
# raster2pgsql -t 256x256 ingest (scripts/add_custom_tags.py:123-140).
#   pop(px,py)   = ((px*37 + py*73) % 100) + (in urban core ? 400 : 0)
#   built(px,py) = ((px*91 + py*17) % 50)
RASTER_PX = 1024            # world is 1024x1024 px, 8 px per grid cell
TILE_PX = 16                # => 64x64 tiles, one tile covers 2x2 grid cells
N_TILES = RASTER_PX // TILE_PX
PX_PER_CELL = RASTER_PX // NX
URBAN_PX_LO = int(URBAN_LO * RASTER_PX)   # 512
URBAN_PX_HI = int(URBAN_HI * RASTER_PX)   # 576
URBAN_POP_BOOST = 400
# pixel-value formulas (shared closed form; the Spark path goes through real
# binary tile payloads, the oracle recomputes the closed form):
#   pop(px,py)   = ((px*37 + py*73) % 100) + (urban-core px window ? 400 : 0)
#   built(px,py) = ((px*91 + py*17) % 50)
# per-cell saturations (pd_sat analogue, 50k ppl/km2): tuned so the boosted
# urban-core cells saturate (~0.88) while background cells stay ~0.2
POP_SAT_CELL = 32768.0
BUILT_SAT_CELL = 12800.0
# urban pressure thresholds (sql/urban_pressure/07_classify_urban_class.sql:8-15)
PRESSURE_URBAN = 0.25
PRESSURE_SEMI = 0.10

# ------------------------------------------------------------------ kinetics
# curvature thresholds (02_compute_vertex_angles.sql:63-68, 05_aggregate_to_way.sql:83-86)
SIN5 = 0.08715574274765817      # sin(5 deg) — min turn angle
SHARP_RADIUS_M = 150.0
BROAD_RADIUS_M = 500.0
SUPPRESS_M = 30.0               # conflict-zone window (04_conflict_zone_suppression.sql:74-83)
TWIST_CUT_LO = 0.03
TWIST_CUT_HI = 0.08

# ------------------------------------------------------------- text / dedup
TOKEN_HASH_BASE = 23
TOKEN_HASH_CHARS = 12
TOKEN_HASH_MOD = 1000003
MINHASH_N = 16
MINHASH_BANDS = 4          # 4 bands x 4 rows
MINHASH_P = 2147483647
SIMHASH_BITS = 32
SIMHASH_SPREAD = 2654435761
SIMHASH_MOD = 1 << 32
SIMHASH_MAX_HAMMING = 6
JACCARD_MIN_PERMILLE = 200
# n-gram Jaccard df-filter: shingles present in more than this many docs are
# dropped BEFORE the self-join (both from intersections and set sizes) — an
# ultra-hot shingle fans the join out O(df^2) while carrying no dedup signal.
SHINGLE_DF_MAX = 16
STOPWORDS = ["a", "the"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_MARKERS = {
    "en": ["the", "a", "table"],
    "de": ["data", "row", "fast"],
    "fr": ["query", "line", "sort"],
    "es": ["value", "part", "big"],
    "zh": ["hash", "merge", "batch"],
}
ANN_TOPK = 3
ANN_PLANES = 16

# Line-interpolated raster sampling (hill_v2/03_compute_relief_from_raster
# .sql:17-56): the reference samples every 2000 m along ways >= 2000 m and at
# the centroid below; scaled to this world's road lengths (median ~1 km) the
# sampling interval is 500 m.  n = max(1, ceil(len/interval)); sample t =
# (gs + 0.5)/n — for a short way this degenerates to the single mid-line
# point, which is the engine's stand-in for the reference's ST_Centroid
# branch (kept ON the line).  All cumulative positions are int64 micrometres
# so segment location is exact in both engines.
RELIEF_SAMPLE_UM = 500_000_000      # 500 m in micrometres
RELIEF_LONG_UM = 500_000_000        # short/long-way branch threshold

# Coastline + beach scenery (Lua3...lua:60-71 rs_coastline dispatch;
# sql/road_scenery/06_scenery_beach.sql: road_scenery_beach = 1 iff
# ST_DWithin(road, coastline, 0.001 deg ~ 100 m) and the road is rural).
# The synthetic coastline is a fixed deterministic polyline snaking across
# the world at lat ~ 0.25: vertex k at (k/COAST_N, 0.25 + ((k*181) % 33 -
# 16)/2048) — every coordinate an exact binary fraction, identical in both
# engines.  The DWithin radius is the reference's literal 0.001 deg rounded
# to the binary fraction 2/2048.
COAST_N = 64
COAST_Y_MUL = 181
COAST_Y_MOD = 33
COAST_Y_HALF = 16
COAST_Y_BASE = 0.25
COAST_Y_DEN = 2048.0
BEACH_DIST_DEG = 0.0009765625       # 2/2048 ~ the reference's 0.001 deg

# hill_v2 composite chain (scripts/dev-runs/hill_scenery_run.py + sql/
# road_scenery/hill_v2/): relief = pop band, slope = built band, both
# sampled at the same line-interpolated points (03_compute_slope_metrics
# .sql:20-57 samples its slope raster exactly like the relief raster);
# hill_signal_raw = slope_mean + relief_mean/20 (05_compute_hill_signal
# .sql:5-9), rural roads only (the reference gates on road_scenery_urban=0
# AND semiurban=0); smoothing = average signal over roads within the 2 km
# :smoothing_radius_deg (05_compute_hill_signal.sql:15-33 road-DWithin
# self-join — stood in by representative-vertex proximity on a radius-sized
# micro-grid, the q09 playbook); hill iff smoothed > threshold
# (06_finalize_classification.sql:4-8; HILL_RELIEF_THRESHOLD=100.0 scaled
# to this world's integer-micro signal range).  All signal arithmetic is
# int64 micro-units so both engines agree bit-exactly.
HILL_SMOOTH_DEG = 1.0 / 64.0        # ~1.7 km at M_PER_DEG — the "2 km" radius
HILL_SIGNAL_THRESHOLD_MICRO = 27_000_000

# kNN / endpoint-proximity
KNN_K = 3
ENDPOINT_DIST_DEG = 0.001953125  # 4/2048 — HAdj 50m-equiv (07_assign...sql:63-97)

# length quantum: lengths are quantized to int64 micrometers before any
# aggregation so sums are exact and order-independent in both engines.
LEN_Q = 1.0e6

# Latitude-aware length mode (geometry.seg_len_geo_m): the world window
# [0,1) deg is anchored at this base latitude (Bangalore-ish — the reference
# processes India extracts), so cos(GEO_LAT0_DEG + lat) spans ~0.978..0.975
# across the window — a real ~2.2% vs planar correction.  cos is a shared
# trig-free Taylor polynomial (see geometry.cos_lat) so both engines get the
# bit-identical value.
GEO_LAT0_DEG = 12.0
RAD_PER_DEG = 0.017453292519943295

# True-projection family (functions/projection.py): spherical Mollweide —
# the closed form behind the reference's EPSG:54009 grids/centroids/areas
# (sql/urban_pressure/01_create_india_grids_54009.sql:7-20; 54009 proper is
# the WGS84 ellipsoidal Mollweide — the spherical form is declared).  The
# world window's longitudes are anchored Bangalore-ish like its latitudes.
# KX/KY are computed ONCE here in Python so both engines consume the same
# correctly-rounded double literal.
GEO_LON0_DEG = 77.0
MOLL_R = 6371000.0
MOLL_PI = 3.141592653589793
MOLL_SQRT2 = 1.4142135623730951
MOLL_KX = MOLL_R * (2.0 * MOLL_SQRT2) / MOLL_PI   # x = KX * lam * cos(theta)
MOLL_KY = MOLL_R * MOLL_SQRT2                     # y = KY * sin(theta)
MOLL_NEWTON_ITERS = 3
# q56 mirrors the reference's test-bounds envelope filter: cells whose
# envelope intersects this bbox (binary-exact bounds; touching counts, as
# ST_Intersects does).
MOLL_BBOX = (0.25, 0.25, 0.75, 0.75)

# --------------------------------------- ellipsoidal (authalic) Mollweide
# EPSG:54009 proper is the WGS84 ellipsoidal Mollweide; PROJ implements it
# as the spherical projection at the AUTHALIC latitude on the authalic
# sphere.  Snyder eq. 3-18 series coefficients for WGS84 e^2, plus the
# authalic radius R_q = a*sqrt(q_p/2) (PROJ's value).  Truncation vs the
# exact ellipsoidal form is O(e^8) < 1 cm — pinned by test_projection.
MOLL_E2 = 0.00669437999014133                 # WGS84 first eccentricity^2
AUTH_C2 = MOLL_E2 / 3.0 + 31.0 * MOLL_E2 ** 2 / 180.0 + 59.0 * MOLL_E2 ** 3 / 560.0
AUTH_C4 = 17.0 * MOLL_E2 ** 2 / 360.0 + 61.0 * MOLL_E2 ** 3 / 1260.0
AUTH_C6 = 383.0 * MOLL_E2 ** 3 / 45360.0
MOLL_RQ = 6371007.1809184747                  # WGS84 authalic radius
MOLL_RQ_KX = MOLL_RQ * (2.0 * MOLL_SQRT2) / MOLL_PI
MOLL_RQ_KY = MOLL_RQ * MOLL_SQRT2

# ------------------------------------------------- EPSG:32643 (UTM 43N)
# The reference's grid areas run through ST_Transform(grid_geom, 32643)
# (road_classification/01_create_india_grids.sql:96).  UTM 43N: WGS84
# transverse Mercator, central meridian 75 E, k0 = 0.9996, false easting
# 500 km.  The kernel uses the Redfearn series (powers of dlam*cos(phi)
# through A^5 / A^6): at this window dlam <= 3 deg, so the first omitted
# term is < 10 um — pinned by test_projection against a Karney
# 6th-order-n reference.
UTM_A = 6378137.0
UTM_F = 1.0 / 298.257223563
UTM_E2 = UTM_F * (2.0 - UTM_F)
UTM_EP2 = UTM_E2 / (1.0 - UTM_E2)
UTM_K0 = 0.9996
UTM_FE = 500000.0
UTM_LON0_DEG = 75.0
# meridian-arc series coefficients (Snyder 3-21): M = a*(M0*phi
# - M2*sin 2phi + M4*sin 4phi - M6*sin 6phi)
UTM_M0 = 1.0 - UTM_E2 / 4.0 - 3.0 * UTM_E2 ** 2 / 64.0 - 5.0 * UTM_E2 ** 3 / 256.0
UTM_M2 = 3.0 * UTM_E2 / 8.0 + 3.0 * UTM_E2 ** 2 / 32.0 + 45.0 * UTM_E2 ** 3 / 1024.0
UTM_M4 = 15.0 * UTM_E2 ** 2 / 256.0 + 45.0 * UTM_E2 ** 3 / 1024.0
UTM_M6 = 35.0 * UTM_E2 ** 3 / 3072.0

# ------------------------------------------------ EPSG:3857 Web-Mercator
# x = MERC_R * lam, y = MERC_R * atanh(sin phi) — the Pseudo-Mercator
# definition uses the SPHERE of radius a (WGS84 semi-major), so the
# spherical kernel is the exact 3857 formula, not an approximation.
MERC_R = 6378137.0
# Endpoint-DWithin radius in 3857 metres (the reference's HAdj refine runs
# ST_DWithin(endpoint, highway_geom_3857, 50) — 50 m at planet scale;
# scaled here to ~2.7 vertex-quantization steps so the predicate has a
# real mixed decision surface, like ENDPOINT_DIST_DEG's 4 steps).
MERC_DWITHIN_M = 150.0
# Lower bound of metres-per-degree in 3857 over BOTH axes: dx/dlon_deg is
# exactly MERC_R*pi/180 everywhere, dy/dlat_deg = that / cos(phi) >= it —
# so radius/MERC_M_PER_DEG is a sound degree-space cover radius.
MERC_M_PER_DEG = MERC_R * RAD_PER_DEG

# Geography-mode ST_DWithin (q55): a metre radius instead of the degree
# thresholds above — the metre semantics the reference gets via geom_3857
# (50 m endpoint DWithin, sql/road_classification/07_assign_final_road_
# classification.sql:89-96; 25 m buffers, road_scenery_v2/02_worldcover_
# sampling.sql:9), extrapolated to the hill layer as a geography-mode
# variant (04_scenery_hill.sql itself states the radius in degrees).
# GEO_COS_FLOOR is a conservative lower bound on cos(GEO_LAT0_DEG + lat)
# over the world window (true min ~0.9744 at lat 13); it only widens the
# candidate cell cover / oracle bbox prefilter — the exact refine uses the
# shared cos_lat tree, so completeness needs floor <= true cos, never
# equality.
GEO_DWITHIN_M = 3000.0
GEO_COS_FLOOR = 0.97

# ------------------------------------------- derived scoring (Parts 5/6)
# Intersection speed degradation (sql/road_intersection_density/
# 03_calculate_base_degradation_v2.sql:16-69, 04_calculate_final_*.sql:30-60):
# per-intersection speed reduction by category, doubled when the dominant
# road type at the node is high-hierarchy.  All values are exact binary
# fractions so cross-engine float products are bit-identical.
DEGRADE_RED = {"major": 0.25, "three_way": 0.125, "crossing": 0.0625}
DEGRADE_TOP_HW = ["motorway", "trunk", "primary"]   # doubles the reduction
DEGRADE_LEN_M = 500.0       # >= this way length -> weighted-average branch
DEGRADE_LEN_UM = int(DEGRADE_LEN_M * LEN_Q)

# Persona scoring (sql/road_persona_v2/01_compute_parameter_scores.sql,
# 03_normalize_persona_scores.sql:25-63): integer base points + two-pass
# global min/max normalization to basis points.
PERSONA_HW_PTS = {h: (len(HIGHWAYS) - i) * 10 for i, h in enumerate(HIGHWAYS)}
PERSONA_PAVED_PTS = 15
PERSONA_ONEWAY_PTS = 5
PERSONA_BIKABLE_PTS = 20
PERSONA_LANE_PTS = 7
LANES_CAP = 8               # parse_lanes sanity cap
LANES_DEFAULT = 2

# rsbikeaccess denylist (sql/road_access/01_rsbikeaccess_update.sql:33-12680):
# the reference carries a ~12.6k literal way-id list; the synthetic twin
# derives the denied ids deterministically from the orders table.
DENY_MOD = 13
DENY_LINE_MOD = 7

# Average-speed CASE ladder (scripts/dev-runs/avg_speed_kph_run.py:226-330):
# integer base kph by highway x surface multiplier (percent) x lane bonus.
SPEED_BASE = {
    "motorway": 100, "trunk": 90, "primary": 80, "secondary": 65,
    "tertiary": 55, "residential": 40, "unclassified": 45, "service": 30,
    "track": 25, "path": 15, "footway": 10, "cycleway": 20,
}
SPEED_SURFACE_PCT = {
    None: 90, "asphalt": 100, "paved": 100, "concrete": 95,
    "gravel": 70, "dirt": 55,
}
SPEED_LANE_BONUS_PCT = 10   # lanes_parsed >= 4
SPEED_LANE_MIN = 4

# WorldCover-ish dominant-class (sql/road_scenery_v2/03_scenery_v2_classify.sql:
# 26-83): pixel class = (px*13 + py*29) % 5; primary gate 0.8, flags 0.35 —
# evaluated as exact integer cross-multiplications (cnt*5 >= tot*4, cnt*20 >= tot*7).
WCLASSES = ["tree", "shrub", "grass", "crop", "built"]
WC_MUL_X = 13
WC_MUL_Y = 29

# Buffer pixel histogram (sql/road_scenery_v2/02_worldcover_sampling.sql:5-46
# — ST_Buffer(road, 25m) + ST_Clip + ST_ValueCount): a pixel belongs to a
# road's buffer iff its CENTER is within BUF_PX pixels (Euclidean) of some
# segment.  Candidates come from 5x5 windows around along-line samples spaced
# SAMPLE_STEP_PX apart (any in-buffer pixel center is within BUF + step/2 =
# 2 px of a sample, so the window is a guaranteed cover); the exact
# point-to-segment refine decides membership.  Class mapping mirrors the
# reference: forest = tree; field = shrub+grass+crop; built is EXCLUDED from
# the valid total (the reference ignores classes 50/90/100).
WC_BUF_PX = 1               # buffer radius, pixels (1 px ~ 109 m world-scale)
WC_SAMPLE_STEP_PX = 2       # along-line candidate sample spacing, pixels

# DBSCAN clustering option (sql/urban_clusters/02_clusters_opt3_test.sql:
# 52-60): eps = 1500 m on cell centers, minpoints = 3 (including self).
# eps is carried as a num/den pair so both engines evaluate the identical
# IEEE division (1500/111320 deg).
DBSCAN_EPS_M = 1500.0
DBSCAN_MINPTS = 3

# Vector-tile materialization (sql/visualization/vis_persona_v2_normalised_
# z10.sql:55 — ST_SimplifyPreserveTopology(geom, 0.0005)): per zoom,
# (zoom, tiles_per_axis, global deviation tolerance in degrees).
# Simplification is TRUE Douglas-Peucker with a single GLOBAL tolerance
# against the ORIGINAL line (the ST_SimplifyPreserveTopology guarantee
# shape, upgraded in round 4 from the per-pass deviation bound): start from
# the endpoints, then repeatedly split every kept-vertex chord at its
# max-deviation interior vertex while that deviation exceeds tol
# (smallest-index tie-break).  Because nv <= NV_MAX = 8, NV_MAX - 2 = 6
# fixpoint iterations are provably enough (each iteration either keeps a
# vertex or converges), and the post-convergence iterations are idempotent,
# so both engines run exactly the same fixed iteration count.  Tolerances
# are exact binary fractions scaled to this world's vertex jitter (interior
# chord deviations run 0.001-0.004 deg; the reference's 0.0005 deg z10
# tolerance is likewise a small fraction of its typical vertex spacing), so
# the dist2 > tol2 comparison is bit-identical in both engines and the
# simplification actually discriminates: z6 drops most interior vertices,
# z10 only the straightest.
NV_MAX = 8                       # nv = 2 + (a % 7) above — max 8 vertices
# Three zooms, like the reference's materialized z6/z10/z14 vis views
# (sql/visualization/00_drop_all_vis_views.sql:17-21, vis_views.sql:26-80).
# z14's 1/2048-deg tolerance sits below the typical vertex jitter, so the
# detail zoom keeps almost every vertex — matching the reference, whose z14
# views simplify least.  (ZOOMS is a QUERY parameter, not a world
# derivation: the roads cache and checkpoint lineage are unaffected.)
ZOOMS = [(6, 16, 1.0 / 128.0), (10, 64, 1.0 / 512.0),
         (14, 256, 1.0 / 2048.0)]


def grid_class_bounds() -> tuple[float, float, float, float]:
    """(urban_lo, urban_hi, semi_lo, semi_hi) for cell-center class tests."""
    return URBAN_LO, URBAN_HI, SEMI_LO, SEMI_HI

# embedding-cosine near-dup threshold (nano-cosine); the synthetic
# embeddings have max pairwise cos ~0.48, so 0.42 yields a real mixed
# dup/non-dup decision surface
NEARDUP_COS_NANO = 420_000_000

# Persona v1 "simplified" test bbox (01_compute_persona_base_scores_
# simplified.sql:31 — ST_MakeEnvelope(76, 12, 78, 14): a central slice of
# the country that includes urban area).  Mapped to this [0,1]^2 world as
# the central half-envelope (covers the 0.5-0.5625 urban core so the Urban
# hard gate actually fires); exact binary fractions.
V1_BBOX = (0.25, 0.25, 0.75, 0.75)

# ----------------------------------------- extra dispatch layers (round 4)
# The Lua dispatcher fans ways/relations into 12+ tables; three had no
# engine counterpart (VERDICT r3 missing #3): rs_shrub (natural = scrub/
# heath/fell/..., Lua3_RouteProcessing_with_curvature.lua:368-377),
# rs_protected (boundary = protected_area, :359-367) and rs_india_bounds
# (boundary = administrative relations, :443-457).  shrub/protected_area
# are extra pentagon features derived from ``part`` with an INDEPENDENT
# hash and id space (kept out of features() so every existing layer's rows
# stay byte-identical); admin bounds are an O(1) dimension derived from
# ``nation`` (25 rows), each a pentagon carrying an admin_level in {2,4,5}
# (country / state / district — the escalation ladder of
# sql/road_classification/01_create_india_grids.sql:55-90).
EXTRA_B_MUL = 1540483477        # odd, independent of FEATURE_B_MUL
EXTRA_LAYERS = ["shrub", "protected_area"]   # b2 % EXTRA_KEEP_MOD indexes
EXTRA_KEEP_MOD = 8              # feature exists iff b2 % 8 < len(EXTRA_LAYERS)
EXTRA_FEATURE_OFF = 1 << 30     # id offset: never collides with part keys
ADMIN_CX_MUL = 13               # cx = ((nk*13) % 16)/16 + 1/32
ADMIN_CY_MUL = 7                # cy = ((nk*7 + 3) % 16)/16 + 1/32
ADMIN_CY_ADD = 3
ADMIN_GRID = 16
ADMIN_R_BASE = {2: 8, 4: 4, 5: 2}   # r = (base + nk % 3)/32 by level
ADMIN_R_DEN = 32.0

# Mountain passes are rare in reality (a handful across a subcontinent vs a
# 10 km proximity radius); mirror that ratio in the synthetic world so the
# pass distance join has the reference's selectivity rather than flagging
# most of the map: keep feature_id % PASS_RARITY == PASS_RESIDUE.
# The residue must be 6: layer = feature_id % 8 (b % 8 == partkey % 8 since
# the multiplier is ≡1 mod 8), and mountain_pass is layer index 6 — residue
# 0 would intersect the mountain_pass stratum EMPTILY (every %32==0 key is
# layer 0), silently making near_pass vacuous.
PASS_RARITY = 32
PASS_RESIDUE = 6

# Version of the synthetic-world derivation; bump when any formula above
# changes so checkpoint lineage hashes invalidate stale per-range outputs.
DATA_VERSION = "2"
