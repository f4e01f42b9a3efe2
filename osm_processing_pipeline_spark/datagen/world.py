"""Spark-side builder of the deterministic synthetic spatial world.

Derives OSM-like entities (roads with ordered vertices, nodes, feature layers,
grid cells, raster tiles, query points) from the driver-generated TPC-H-ish
parquet tables by pure arithmetic — see ``worldspec`` for the contract shared
with the DuckDB oracle (``datagen/oracle.py`` emits the identical derivation
as SQL).

Everything is Catalyst column expressions: building a 60k-road world is a
single whole-stage-codegen pass over ``lineitem`` with **no shuffle** (vertex
chains are built with higher-order array functions, not windows).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import cells, geometry as G

# One-time materialization cache: at real scale the world IS the stored input
# (an Iceberg documents table); deriving it per-query is test scaffolding, so
# we write it once per sf_dir and read parquet afterwards.  Values are fully
# deterministic, so caching cannot change results.  Only ``cached`` names it.
CACHE_DIR = os.environ.get("SPARK_GRAFT_WORLD_CACHE", "/tmp/osm_world_cache")

L = F.lit


def _pick(col: Column, values: list) -> Column:
    """values[col] as a CASE ladder (None -> NULL)."""
    expr = F.lit(None).cast("string")
    c = F.when(col == len(values) - 1,
               L(values[-1]) if values[-1] is not None else F.lit(None).cast("string"))
    for idx in range(len(values) - 2, -1, -1):
        v = values[idx]
        c = c.when(col == idx, L(v) if v is not None else F.lit(None).cast("string"))
    return c.otherwise(expr)


def _step(a: Column, k: Column, mul: int) -> Column:
    return (((a + k * L(mul)) % L(W.STEP_MOD)) - L(W.STEP_HALF)).cast("double") / L(W.STEP_DEN)


def _coord0(a: Column, mul: int, urban: Column) -> Column:
    dense = L(0.5) + ((a * L(mul)) % L(128)).cast("double") / L(2048.0)
    sparse = ((a * L(mul)) % L(1024)).cast("double") / L(1024.0)
    return F.when(urban, dense).otherwise(sparse)


def node_id_of(lon: Column, lat: Column) -> Column:
    qx = F.round(lon * L(float(W.COORD_Q))).cast("long") + L(W.NODE_OFF)
    qy = F.round(lat * L(float(W.COORD_Q))).cast("long") + L(W.NODE_OFF)
    return qx * L(W.NODE_MUL) + qy


def roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One road per lineitem row: tags + nested ordered vertex array.

    Mirrors ``osm_all_roads`` + ``rs_highway_way_nodes``
    (Lua3_RouteProcessing_with_curvature.lua:139-149, :185-190) with vertices
    kept nested (per-way math needs no shuffle).
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_linenumber").distinct()
    a = (F.col("l_orderkey") * L(W.ROAD_A_MUL1)
         + F.col("l_linenumber") * L(W.ROAD_A_MUL2)) % L(W.A_MOD)
    df = li.select(
        (F.col("l_orderkey") * L(8) + F.col("l_linenumber")).alias("osm_id"),
        a.alias("a"),
    )
    urban = (F.col("a") % 10) < 4
    nv = (F.col("a") % 7 + 2).cast("int")
    lon0 = _coord0(F.col("a"), 31, urban)
    lat0 = _coord0(F.col("a"), 53, urban)
    df = df.select(
        "osm_id", "a",
        urban.alias("urban"),
        nv.alias("nv"),
        lon0.alias("lon0"),
        lat0.alias("lat0"),
        _pick((F.floor(F.col("a") / 16) % len(W.HIGHWAYS)).cast("int"), W.HIGHWAYS).alias("highway"),
        _pick((F.floor(F.col("a") / 64) % len(W.LANES)).cast("int"), W.LANES).alias("lanes"),
        _pick((F.floor(F.col("a") / 256) % len(W.SURFACES)).cast("int"), W.SURFACES).alias("surface"),
        _pick((F.floor(F.col("a") / 128) % len(W.ONEWAY)).cast("int"), W.ONEWAY).alias("oneway"),
    )
    refk = (F.floor(F.col("a") / 32) % 16).cast("int")
    refnum = (F.floor(F.col("a") / 512) % 100).cast("int")
    ref = (
        F.when(refk.isin(0, 1), F.concat(L("NH"), refnum.cast("string")))
        .when(refk.isin(2, 3), F.concat(L("SH"), refnum.cast("string")))
        .when(refk == 4, F.concat(L("MDR "), refnum.cast("string")))
        .otherwise(F.lit(None).cast("string"))
    )
    acol = F.col("a")

    def vertex(k: Column):
        # lon(k) = lon0 + sum_{m=1..k} step(m); exact binary-fraction sums
        lon = F.col("lon0") + F.when(k == 0, L(0.0)).otherwise(
            F.aggregate(F.sequence(L(1), k), L(0.0),
                        lambda acc, m: acc + _step(acol, m, W.STEP_MUL_LON)))
        lat = F.col("lat0") + F.when(k == 0, L(0.0)).otherwise(
            F.aggregate(F.sequence(L(1), k), L(0.0),
                        lambda acc, m: acc + _step(acol, m, W.STEP_MUL_LAT)))
        return F.struct(
            k.cast("int").alias("seq"),
            lon.alias("lon"),
            lat.alias("lat"),
            node_id_of(lon, lat).alias("node_id"),
        )

    verts = F.transform(F.sequence(L(0), F.col("nv") - 1), vertex)
    return df.withColumn("ref", ref).withColumn("vertices", verts).drop("lon0", "lat0")


def cache_key(sf_dir: str) -> str:
    """The per-sf_dir directory name under the cache (and in other
    per-input scratch paths): the path with its slashes flattened."""
    return sf_dir.strip("/").replace("/", "_")


def cached(rel: str, write: Callable[[str], None]) -> str:
    """The path of the derived input ``rel`` under the cache of the current
    ``DATA_VERSION``, written by ``write(path)`` unless it is complete.

    Every derived input (world roads, raster tiles, stream replays, the
    bench's scaled table) lives here, so a version bump re-derives all of
    them and nothing reads a stale copy.  A directory counts as complete
    only once it carries ``_SUCCESS``, which is set after ``write`` returns;
    an interrupted write is cleared and redone on the next call.  A write
    also removes the trees of other versions (``v<digit>...`` beside the
    current one); no other name under the env-settable ``CACHE_DIR`` is
    touched."""
    path = f"{CACHE_DIR}/v{W.DATA_VERSION}/{rel}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        for d in os.listdir(CACHE_DIR) if os.path.isdir(CACHE_DIR) else []:
            if re.fullmatch(r"v\d.*", d) and d != f"v{W.DATA_VERSION}":
                shutil.rmtree(os.path.join(CACHE_DIR, d), ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        open(marker, "a").close()
    return path


def roads_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """roads() materialized once per sf_dir in the cache (parquet)."""
    # Write with enough files that a fresh scan parallelizes: parquet row
    # groups don't split below the file level, so file count bounds the task
    # count of every downstream narrow pipeline.
    path = cached(f"{cache_key(sf_dir)}/roads.parquet",
                  lambda p: roads(spark, sf_dir).repartition(64, "osm_id")
                  .write.mode("overwrite").parquet(p))
    return spark.read.parquet(path)


def way_nodes(spark: SparkSession, sf_dir: str, roads_df: DataFrame | None = None) -> DataFrame:
    """Exploded (way_id, seq, node_id, lon, lat, highway, nv) — mirrors
    rs_highway_way_nodes (Lua3...lua:393-413)."""
    r = roads_df if roads_df is not None else roads_materialized(spark, sf_dir)
    return r.select(
        F.col("osm_id").alias("way_id"), "highway", "nv",
        F.explode("vertices").alias("v"),
    ).select(
        "way_id", "highway", "nv",
        F.col("v.seq").alias("seq"),
        F.col("v.node_id").alias("node_id"),
        F.col("v.lon").alias("lon"),
        F.col("v.lat").alias("lat"),
    )


def segments(spark: SparkSession, sf_dir: str, roads_df: DataFrame | None = None) -> DataFrame:
    """Road segments (vertex k -> k+1) via arrays_zip of the vertex array
    with its own tail — no shuffle, and ~4x faster than a transform lambda
    with per-element vertices[k+1] indexing (zip is a single fused pass)."""
    r = roads_df if roads_df is not None else roads_materialized(spark, sf_dir)
    return (
        r.filter(F.size("vertices") >= 2)
        .select("osm_id", "highway", "urban",
                F.posexplode(G.vertex_pairs()).alias("seg_idx", "p"))
        .select("osm_id", "highway", "urban", "seg_idx",
                F.col("p.a.lon").alias("ax"), F.col("p.a.lat").alias("ay"),
                F.col("p.b.lon").alias("bx"), F.col("p.b.lat").alias("by"))
    )


def grids(spark: SparkSession) -> DataFrame:
    """The tiling grid: NX*NY cells with envelope + urban class by cell
    center (stand-in for the raster-derived class of
    sql/urban_pressure/07_classify_urban_class.sql, used by the flagship
    classification join).  Tiny dimension — always broadcast."""
    g = spark.range(W.NX * W.NY).select(F.col("id").alias("grid_id"))
    x0, y0, x1, y1 = cells.cell_bounds(F.col("grid_id"))
    cx, cy = cells.cell_center(F.col("grid_id"))
    ulo, uhi, slo, shi = W.grid_class_bounds()
    cls = (
        F.when((cx >= ulo) & (cx < uhi) & (cy >= ulo) & (cy < uhi), L("Urban"))
        .when((cx >= slo) & (cx < shi) & (cy >= slo) & (cy < shi), L("Semi_Urban"))
        .otherwise(L("Rural"))
    )
    return g.select(
        "grid_id",
        x0.alias("x0"), y0.alias("y0"), x1.alias("x1"), y1.alias("y1"),
        cls.alias("grid_class"),
    )


def features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature layers from ``part``: pentagons (forest/lakes/desert/fields/
    reserve_forest) and points (hills_nodes/mountain_pass/rivers) — mirrors
    the 12 scenery layers (Lua3...lua:9-137).

    Polygon rows carry an ``edges`` array<struct<x1,y1,x2,y2>> ready for the
    crossing-number PIP kernel; point rows carry (px, py).
    """
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    b = (F.col("p_partkey") * L(W.FEATURE_B_MUL)) % L(W.A_MOD)
    df = p.select(F.col("p_partkey").alias("feature_id"), b.alias("b"))
    layer = _pick((F.col("b") % len(W.LAYERS)).cast("int"), W.LAYERS)
    cx = ((F.col("b") * 29) % 1024).cast("double") / L(1024.0)
    cy = ((F.col("b") * 43) % 1024).cast("double") / L(1024.0)
    r = (F.floor(F.col("b") / 8) % 8 + 1).cast("double") / L(512.0)
    df = df.select("feature_id", "b", layer.alias("layer"),
                   cx.alias("cx"), cy.alias("cy"), r.alias("r"))

    is_poly = F.col("layer").isin(W.POLY_LAYERS)
    edges = _pentagon(F.col("cx"), F.col("cy"), F.col("r"))[0]
    return df.select(
        "feature_id", "layer", "cx", "cy", "r",
        F.when(is_poly, edges).alias("edges"),
        (F.col("cx") - F.when(is_poly, F.col("r")).otherwise(L(0.0))).alias("xmin"),
        (F.col("cy") - F.when(is_poly, F.col("r")).otherwise(L(0.0))).alias("ymin"),
        (F.col("cx") + F.when(is_poly, F.col("r")).otherwise(L(0.0))).alias("xmax"),
        (F.col("cy") + F.when(is_poly, F.col("r")).otherwise(L(0.0))).alias("ymax"),
    )


def _pentagon(cx, cy, r):
    """edges array + bbox columns for a pentagon centered (cx, cy) radius r —
    the shared polygon shape of features()/extra_features()/admin_areas()."""
    vx = [cx + r * L(c) for c in W.PENT_X]
    vy = [cy + r * L(c) for c in W.PENT_Y]
    n = len(W.PENT_X)
    edges = F.array(*[
        F.struct(vx[i].alias("x1"), vy[i].alias("y1"),
                 vx[(i + 1) % n].alias("x2"), vy[(i + 1) % n].alias("y2"))
        for i in range(n)
    ])
    return edges, cx - r, cy - r, cx + r, cy + r


def extra_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shrub / protected_area pentagon layers (Lua3...lua:359-377 rs_protected
    and rs_shrub dispatch) — derived from ``part`` with a hash independent of
    features() so the original eight layers' rows are byte-identical to
    earlier rounds.  ~25% of part rows carry one extra feature."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    b2 = (F.col("p_partkey") * L(W.EXTRA_B_MUL)) % L(W.A_MOD)
    df = (p.select(F.col("p_partkey").alias("pk"), b2.alias("b2"))
          .filter(F.col("b2") % W.EXTRA_KEEP_MOD < len(W.EXTRA_LAYERS)))
    layer = _pick((F.col("b2") % W.EXTRA_KEEP_MOD).cast("int"),
                  W.EXTRA_LAYERS + [None] * (W.EXTRA_KEEP_MOD - len(W.EXTRA_LAYERS)))
    cx = ((F.col("b2") * 37) % 1024).cast("double") / L(1024.0)
    cy = ((F.col("b2") * 59) % 1024).cast("double") / L(1024.0)
    r = (F.floor(F.col("b2") / 8) % 8 + 1).cast("double") / L(512.0)
    df = df.select((F.col("pk") + L(W.EXTRA_FEATURE_OFF)).alias("feature_id"),
                   layer.alias("layer"), cx.alias("cx"), cy.alias("cy"),
                   r.alias("r"))
    edges, xmin, ymin, xmax, ymax = _pentagon(F.col("cx"), F.col("cy"), F.col("r"))
    return df.select("feature_id", "layer", "cx", "cy", "r",
                     edges.alias("edges"), xmin.alias("xmin"),
                     ymin.alias("ymin"), xmax.alias("xmax"), ymax.alias("ymax"))


def admin_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Administrative boundary polygons (rs_india_bounds,
    Lua3...lua:443-457) from ``nation`` — 25 pentagons with admin_level in
    {2 country, 4 state, 5 district} (the escalation ladder of
    01_create_india_grids.sql:55-90).  O(1) dimension: always broadcast."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    nk = F.col("n_nationkey")
    lv = (F.when(nk % 5 == 0, L(2))
          .when((nk % 5).isin(1, 2), L(4)).otherwise(L(5)))
    cx = ((nk * W.ADMIN_CX_MUL) % W.ADMIN_GRID).cast("double") \
        / L(float(W.ADMIN_GRID)) + L(1.0 / (2 * W.ADMIN_GRID))
    cy = ((nk * W.ADMIN_CY_MUL + W.ADMIN_CY_ADD) % W.ADMIN_GRID).cast("double") \
        / L(float(W.ADMIN_GRID)) + L(1.0 / (2 * W.ADMIN_GRID))
    base = (F.when(lv == 2, L(W.ADMIN_R_BASE[2]))
            .when(lv == 4, L(W.ADMIN_R_BASE[4])).otherwise(L(W.ADMIN_R_BASE[5])))
    r = (base + nk % 3).cast("double") / L(W.ADMIN_R_DEN)
    df = n.select(nk.alias("admin_id"), lv.alias("level"),
                  cx.alias("cx"), cy.alias("cy"), r.alias("r"))
    edges, xmin, ymin, xmax, ymax = _pentagon(F.col("cx"), F.col("cy"), F.col("r"))
    return df.select("admin_id", "level", "cx", "cy", "r",
                     edges.alias("edges"), xmin.alias("xmin"),
                     ymin.alias("ymin"), xmax.alias("xmax"), ymax.alias("ymax"))


def coastline_segments(spark: SparkSession) -> DataFrame:
    """Fixed deterministic coastline polyline (Lua3...lua:60-71 rs_coastline):
    COAST_N segments, vertex k at (k/COAST_N, base + ((k*m) % mod - half)/
    den) — exact binary fractions, so the beach DWithin refine is IEEE-exact
    in both engines.  Size is O(1) in the scale factor: the coastline is a
    DIMENSION (64 rows) and is always broadcast."""
    k = F.col("id")

    def y(kc):
        return (L(W.COAST_Y_BASE)
                + ((kc * W.COAST_Y_MUL) % W.COAST_Y_MOD - W.COAST_Y_HALF)
                .cast("double") / L(W.COAST_Y_DEN))

    n = float(W.COAST_N)
    return spark.range(W.COAST_N).select(
        k.alias("coast_id"),
        (k.cast("double") / L(n)).alias("cx1"), y(k).alias("cy1"),
        ((k + 1).cast("double") / L(n)).alias("cx2"), y(k + 1).alias("cy2"))


def query_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN query points from ``customer`` (every 10th key — keeps the oracle's
    brute-force cross join tractable)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select("c_custkey")
    c = c.filter(F.col("c_custkey") % 10 == 0)
    qx = ((F.col("c_custkey") * 7687) % 1024).cast("double") / L(1024.0)
    qy = ((F.col("c_custkey") * 5741) % 1024).cast("double") / L(1024.0)
    return c.select(F.col("c_custkey").alias("query_id"),
                    qx.alias("qx"), qy.alias("qy"))
