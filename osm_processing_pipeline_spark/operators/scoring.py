"""Derived per-road scoring — the reference's Parts 5/6 analytical tail.

Covers (citations into /root/reference):
  * intersection speed degradation — per-way weighted-average vs
    multiplicative stacking ``1 - PROD(1 - r)`` with a length gate
    (sql/road_intersection_density/03_calculate_base_degradation_v2.sql:16-69,
    04_calculate_final_degradation_v2.sql:30-60) and the top-2-road-types
    pivot at each node (01_find_and_categorize_intersections_v2.sql:100-119)
  * lane parsing — the reference's single UDF ``parse_lanes``
    (sql/road_persona/01_compute_persona_base_scores_simplified.sql:19-26)
  * average-speed CASE ladder (scripts/dev-runs/avg_speed_kph_run.py:226-330)
  * persona base scores + two-pass global min/max normalization
    (scripts/dev-runs/persona_v2_run.py:264-339,
    sql/road_persona_v2/03_normalize_persona_scores.sql:25-63)
  * WorldCover dominant-class argmax with 0.8 primary gate / 0.35 flags
    (sql/road_scenery_v2/03_scenery_v2_classify.sql:26-83)

Exactness: every score is integer arithmetic; the one float path (the
multiplicative degradation stack) multiplies exact binary fractions in
*sorted* order, so the IEEE product — and its rounding to ppm — is
bit-identical across engines.  No UDFs anywhere: pure Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import geometry as G

L = F.lit


def hierarchy(highway: Column) -> Column:
    """Road-hierarchy rank (W.HIERARCHY; higher = more major)."""
    c = F.lit(0)
    for h, r in W.HIERARCHY.items():
        c = F.when(highway == h, L(r)).otherwise(c)
    return c


def parse_lanes(lanes: Column) -> Column:
    """parse_lanes(text) -> int: digits (capped), 'a-b' -> b, else default."""
    return (
        F.when(lanes.rlike("^[0-9]+$"),
               F.least(lanes.cast("int"), L(W.LANES_CAP)))
        .when(lanes.rlike("^[0-9]+-[0-9]+$"),
              F.split(lanes, "-")[1].cast("int"))
        .otherwise(L(W.LANES_DEFAULT))
    )


def total_len_um() -> Column:
    """Aggregate: a road's total length in exact int64 micrometres, summed
    over its segments."""
    return F.sum(G.quantize_len_um(
        G.seg_len_m(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
    )).alias("total_len_um")


def _way_lengths(segs: DataFrame) -> DataFrame:
    return segs.groupBy("osm_id").agg(total_len_um())


def node_way_edges(way_nodes: DataFrame) -> DataFrame:
    """(node_id, way_id, highway, mid): way_nodes deduped to one row per
    (node, way), with ``mid`` = 1 when the way passes through the node at an
    interior vertex."""
    return way_nodes.groupBy("node_id", "way_id").agg(
        F.min("highway").alias("highway"),
        F.max(F.when((F.col("seq") > 0) & (F.col("seq") < F.col("nv") - 1), 1)
              .otherwise(0)).alias("mid"))


def intersection_degradation(way_nodes: DataFrame, segs: DataFrame,
                             way_pred=None) -> DataFrame:
    """Per-way speed degradation from the intersections it passes through.

    Stages: qualifying-intersection detection (A6) -> top-2 road-type pivot
    per node (W3) -> per-intersection reduction (binary fraction, doubled
    under a dominant major road) -> per-way rollup with the reference's
    two-branch combiner: long ways take the integer average reduction, short
    ways the multiplicative stack ``1 - PROD(1 - r)`` (computed as a sorted
    fold so the float product is deterministic).

    ``way_pred`` (optional Column over per-edge cols, e.g. on ``highway``)
    filters the per-WAY rollup side only: node-level intersection stats
    stay GLOBAL (a node qualifies based on ALL ways sharing it), so
    per-way values for surviving ways are unchanged — exactness-preserving
    when the caller consumes only ways matching the predicate (q46's
    BIKABLE pushdown).  ``segs`` may be pre-filtered the same way.
    """
    # Two-phase aggregate: dedup to (node, way) first so the node-level pass
    # needs only ONE distinct (highway) — avoids Catalyst's Expand (x3 rows
    # shuffled) that a double countDistinct costs.  A way has one highway,
    # so count(*) after the dedup == countDistinct(way_id).  Every later
    # branch (stats, type pivot, way-node pairs) derives from this ONE
    # subtree, so its exchange is computed once and reused (ReusedExchange)
    # instead of re-exploding the vertex arrays three times.
    per_edge = node_way_edges(way_nodes)
    # W3 pivot folded into the node-stats aggregate: the distinct road types
    # at a node are a tiny set (<= |W.HIERARCHY|), so the hierarchy-ranked
    # top-2 is sort_array(collect_set(struct(-rank, highway)))[0..1] —
    # (rank desc, highway asc), exactly the old row_number window's order —
    # and n_types is the set's size.  One shuffle replaces the previous
    # three-subtree shape (stats agg + distinct + window sort + stats-top
    # join), and the countDistinct Expand disappears with it.
    ranked = F.struct((-hierarchy(F.col("highway"))).alias("nh"),
                      F.col("highway").alias("hw"))
    stats = per_edge.groupBy("node_id").agg(
        F.count("*").alias("n_ways"),
        F.max("mid").alias("mid"),
        F.sort_array(F.collect_set(ranked)).alias("_types"),
    ).withColumn("n_types", F.size("_types")).filter(
        (F.col("n_ways") >= 2)
        & ((F.col("n_ways") >= 3) | (F.col("n_types") >= 2) | (F.col("mid") == 1))
    ).withColumn("road_type_1", F.col("_types")[0]["hw"]) \
     .withColumn("road_type_2", F.element_at("_types", 2)["hw"])

    base = (
        F.when(F.col("n_ways") >= 4, L(W.DEGRADE_RED["major"]))
        .when(F.col("n_ways") == 3, L(W.DEGRADE_RED["three_way"]))
        .otherwise(L(W.DEGRADE_RED["crossing"]))
    )
    red = F.when(F.col("road_type_1").isin(W.DEGRADE_TOP_HW), base * 2).otherwise(base)
    nodes = stats.select("node_id", red.alias("red"),
                         F.round(red * L(W.LEN_Q)).cast("long").alias("red_ppm"))

    # ways x qualifying intersections — per_edge rows are already distinct
    # (node, way) pairs.  Reductions take only 4 binary-fraction values, so
    # the sorted-product fold is synthesized from per-value COUNTS (plain
    # conditional sums — no collect_list buffers): array_repeat in ascending
    # value order reproduces the sorted sequence exactly, keeping the float
    # product bit-identical to the oracle's list_sort + list_reduce.
    omr_vals = sorted({1.0 - v for v in W.DEGRADE_RED.values()}
                      | {1.0 - 2 * v for v in W.DEGRADE_RED.values()})
    rollup_side = per_edge if way_pred is None else per_edge.filter(way_pred)
    wn = rollup_side.select(F.col("way_id").alias("osm_id"), "node_id")
    cnt_cols = [F.sum(F.when(L(1.0) - F.col("red") == L(v), 1).otherwise(0))
                .alias(f"c{i}") for i, v in enumerate(omr_vals)]
    per_way = (wn.join(nodes, "node_id")
               .groupBy("osm_id")
               .agg(F.count("*").alias("n_int"),
                    F.max("red_ppm").alias("max_red_ppm"),
                    F.sum("red_ppm").alias("sum_red_ppm"),
                    *cnt_cols))
    omr = F.flatten(F.array(*[
        F.array_repeat(L(v), F.col(f"c{i}").cast("int"))
        for i, v in enumerate(omr_vals)]))
    per_way = per_way.withColumn("omr", omr)
    stacked = F.round(
        (L(1.0) - F.aggregate("omr", L(1.0), lambda acc, x: acc * x)) * L(W.LEN_Q)
    ).cast("long")
    out = per_way.join(_way_lengths(segs), "osm_id")
    final = (
        F.when(F.col("total_len_um") >= W.DEGRADE_LEN_UM,
               F.expr("sum_red_ppm div n_int"))
        .otherwise(stacked)
    )
    return out.select(
        "osm_id",
        F.col("n_int").cast("long").alias("n_int"),
        "max_red_ppm", "sum_red_ppm", "total_len_um",
        final.cast("long").alias("final_red_ppm"),
    )


def avg_speed(roads: DataFrame) -> DataFrame:
    """avg_speed_kph CASE ladder: integer base x surface pct x lane bonus."""
    base = F.lit(0)
    for h, v in W.SPEED_BASE.items():
        base = F.when(F.col("highway") == h, L(v)).otherwise(base)
    surf = L(W.SPEED_SURFACE_PCT[None])
    for s, pct in W.SPEED_SURFACE_PCT.items():
        if s is not None:
            surf = F.when(F.col("surface") == s, L(pct)).otherwise(surf)
    lanes_parsed = parse_lanes(F.col("lanes"))
    bonus = F.when(lanes_parsed >= W.SPEED_LANE_MIN,
                   L(100 + W.SPEED_LANE_BONUS_PCT)).otherwise(L(100))
    kph = F.expr(f"(base_kph * surf_pct * bonus_pct) div {100 * 100}")
    return (roads.select(
        "osm_id", "highway", "surface",
        lanes_parsed.cast("long").alias("lanes_parsed"),
        base.cast("long").alias("base_kph"),
        surf.cast("long").alias("surf_pct"),
        bonus.cast("long").alias("bonus_pct"))
        .withColumn("speed_kph", kph.cast("long"))
        .drop("surf_pct", "bonus_pct"))


# first integer substring of ``lanes`` (note: first-int extraction, unlike
# parse_lanes' '2-4' -> 4 upper-bound rule), and the four-lane flag over it
LANES_FIRST = ("COALESCE(CAST(NULLIF(regexp_extract(lanes, '([0-9]+)', 1), '') "
               "AS INT), 0)")
FOURLANE = ("CASE WHEN UPPER(COALESCE(oneway, '')) IN ('YES', 'TRUE', '1', '-1') "
            f"AND {LANES_FIRST} >= 2 THEN 'yes' ELSE 'no' END")


def fourlane(roads: DataFrame) -> DataFrame:
    """Four-lane classification (scripts/dev-runs/fourlane_run.py:219-245):
    'yes' iff the road is oneway-ish (YES/TRUE/1/-1, case-insensitive) AND
    the first integer of ``lanes`` is >= 2 — the ``FOURLANE`` expression
    q46 evaluates inside its input projection."""
    return roads.select(
        "osm_id", "highway", "oneway", "lanes",
        F.expr(f"CAST({LANES_FIRST} AS BIGINT)").alias("lanes_first"),
        F.expr(FOURLANE).alias("fourlane"))


def apply_denylist(roads: DataFrame, denylist: DataFrame) -> DataFrame:
    """P7 rsbikeaccess denylist (01_rsbikeaccess_update.sql:33-12680):
    default 'yes', forced 'no' for listed way ids.  The reference inlines a
    ~12.6k-id literal IN; here the list is a broadcast anti/semi-joinable
    dimension — the shape that survives a denylist of millions."""
    d = F.broadcast(
        denylist.select(F.col("deny_id").alias("osm_id")).distinct()
        .withColumn("_denied", F.lit(1)))
    return (roads.join(d, "osm_id", "left")
            .select("osm_id", "highway",
                    F.when(F.col("_denied").isNotNull(), L("no"))
                    .otherwise(L("yes")).alias("rsbikeaccess")))


def persona_scores(roads: DataFrame) -> DataFrame:
    """Persona base score (integer points) + two-pass global normalization.

    Pass 1 computes integer base scores; the driver collects global min/max
    (the reference's compute_global_persona_norm_bounds,
    persona_v2_run.py:264-339) and pass 2 folds them in as literals:
    ``norm_bp = (score - mn) * 10000 div (mx - mn)``.
    """
    hw_pts = F.lit(0)
    for h, v in W.PERSONA_HW_PTS.items():
        hw_pts = F.when(F.col("highway") == h, L(v)).otherwise(hw_pts)
    score = (
        hw_pts
        + F.when(F.col("surface").isin(W.PAVED), L(W.PERSONA_PAVED_PTS)).otherwise(L(0))
        + F.when(F.col("oneway").isNotNull(), L(W.PERSONA_ONEWAY_PTS)).otherwise(L(0))
        + F.when(F.col("highway").isin(W.BIKABLE), L(W.PERSONA_BIKABLE_PTS)).otherwise(L(0))
        + parse_lanes(F.col("lanes")) * L(W.PERSONA_LANE_PTS)
    )
    scored = roads.select("osm_id", "highway",
                          score.cast("long").alias("base_score"))
    # two-pass: global bounds on the driver, folded back as literals
    mn, mx = scored.agg(F.min("base_score"), F.max("base_score")).first()
    if mx is None or mn is None or mx == mn:
        norm = L(0)
    else:
        norm = F.expr(f"((base_score - {mn}) * 10000) div {mx - mn}")
    return scored.withColumn("norm_bp", norm.cast("long"))


def dominant_class(roads: DataFrame) -> DataFrame:
    """WorldCover dominant-class argmax over per-vertex pixel classes.

    Vertices stand in for the 25 m buffer samples
    (sql/road_scenery_v2/02_worldcover_sampling.sql:5-46); gates use exact
    integer cross-multiplication (0.8 -> cnt*5 >= tot*4; 0.35 -> cnt*20 >= tot*7).
    """
    n = W.RASTER_PX
    v = F.explode("vertices").alias("v")
    px = F.greatest(L(0), F.least(L(n - 1), F.floor(F.col("v.lon") * n))).cast("long")
    py = F.greatest(L(0), F.least(L(n - 1), F.floor(F.col("v.lat") * n))).cast("long")
    cls = (px * W.WC_MUL_X + py * W.WC_MUL_Y) % len(W.WCLASSES)
    verts = roads.select("osm_id", v).select("osm_id", cls.alias("wc"))
    aggs = [F.sum(F.when(F.col("wc") == i, 1).otherwise(0)).alias(f"c{i}")
            for i in range(len(W.WCLASSES))]
    per = verts.groupBy("osm_id").agg(F.count("*").alias("tot"), *aggs)

    cnts = [F.col(f"c{i}") for i in range(len(W.WCLASSES))]
    # first-wins argmax ladder (deterministic tie-break by class order)
    arg = L(W.WCLASSES[-1])
    best = cnts[-1]
    for i in range(len(W.WCLASSES) - 2, -1, -1):
        cond = cnts[i]
        for j in range(i + 1, len(W.WCLASSES)):
            cond = F.when(cnts[i] >= cnts[j], cond).otherwise(L(None))
        arg = F.when(cond.isNotNull(), L(W.WCLASSES[i])).otherwise(arg)
        best = F.greatest(best, cnts[i])
    primary = F.when(best * 5 >= F.col("tot") * 4, arg).otherwise(L("mixed"))
    sel = [F.col("osm_id"), F.col("tot").cast("long").alias("n_samples"),
           primary.alias("primary_class")]
    for i, name in enumerate(W.WCLASSES):
        sel.append((cnts[i] * 20 >= F.col("tot") * 7).alias(f"is_{name}"))
        sel.append(cnts[i].cast("long").alias(f"n_{name}"))
    return per.select(*sel)
