"""Exact kNN via escalating k-ring expansion (north-rule kNN primitive).

For each query point, candidates are gathered from the k-ring of the query's
cell at increasing radii; a result set is *provably complete* when the k-th
candidate distance is strictly below the ring guarantee bound R*CELL_DEG (any
point outside Chebyshev cell-ring R is at least that far away).  Unsatisfied
queries escalate through a GEOMETRIC radius schedule (rings 2 and 8, then
4x per level), so a query that completes at radius r pays O(r^2) explode
cells — never the O(world-cells) constant of jumping straight to the
world-covering ring.  The FINAL level radius is max(NX, NY), whose Chebyshev
disk covers the entire world grid — complete by construction while remaining
a cell equi-join over the (by then empty-or-degenerate) residue.  The whole
schedule is lazy plan structure: log(world-diameter) levels, no driver
action anywhere, and no cartesian product anywhere in the plan.

Mirrors the reference's nearest-grid sampling `ORDER BY ST_Distance LIMIT k`
(sql/urban_pressure/99_validation_queries.sql:33-67) with deterministic
(distance, id) tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cells
from ..functions import geometry as G
from ..worldspec import CELL_DEG, NX, NY


def knn_join(qpts: DataFrame, nodes: DataFrame, k: int) -> DataFrame:
    """qpts(query_id, qx, qy) x nodes(node_id, lon, lat) -> exact k nearest
    per query: (query_id, rank, node_id, d2)."""
    nodes_c = nodes.withColumn(
        "_cell", cells.cell_of_point(F.col("lon"), F.col("lat")))
    remaining = qpts
    chunks: list[DataFrame] = []

    def rank_candidates(cand: DataFrame) -> DataFrame:
        d2 = G.point_dist2_deg(F.col("qx"), F.col("qy"), F.col("lon"), F.col("lat"))
        w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("node_id").asc())
        return (cand.withColumn("d2", d2)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))

    # Geometric escalation past ring 8: 4x the radius per level until one
    # more ring would cover the world anyway.  Each level only touches rows
    # still unsatisfied at the previous level.
    r_all = max(NX, NY)
    schedule = [2, 8]
    nxt = 32
    while nxt < r_all:
        schedule.append(nxt)
        nxt *= 4

    for r in schedule:
        cand = (
            remaining
            .withColumn("_cell", F.explode(
                cells.kring(cells.cell_of_point(F.col("qx"), F.col("qy")), r)))
            .join(nodes_c, "_cell")
        )
        ranked = rank_candidates(cand)
        bound2 = (r * CELL_DEG) * (r * CELL_DEG)
        done = (
            ranked.groupBy("query_id")
            .agg(F.count("*").alias("_n"), F.max("d2").alias("_kth"))
            .filter((F.col("_n") == k) & (F.col("_kth") < F.lit(bound2)))
            .select("query_id")
        )
        chunks.append(ranked.join(done, "query_id", "left_semi")
                      .select("query_id", "rank", "node_id", "d2"))
        remaining = remaining.join(done, "query_id", "left_anti")

    # Exhaustive final ring: Chebyshev radius max(NX, NY) covers every cell
    # in the world, so for the residue the candidate set IS all nodes — but
    # gathered through the same cell equi-join (ring cells outside the world
    # are dropped), never a crossJoin whose candidate side is the full node
    # table.  Complete by construction; no sufficiency check needed.  Rows
    # only reach here if even the last geometric level (>= r_all/4) left
    # them short of k in-bound neighbors.
    cand = (
        remaining
        .withColumn("_cell", F.explode(
            cells.kring(cells.cell_of_point(F.col("qx"), F.col("qy")), r_all)))
        .join(nodes_c, "_cell")
    )
    chunks.append(rank_candidates(cand)
                  .select("query_id", "rank", "node_id", "d2"))
    out = chunks[0]
    for c in chunks[1:]:
        out = out.unionByName(c)
    return out
