"""Connected components over cell adjacency — urban cluster dissolve.

Mirrors the reference's ST_ClusterIntersecting / ST_ClusterDBSCAN windows
(sql/urban_clusters/01_clusters_opt1_test.sql:50-58) re-expressed on the
tiling index: cluster membership is 4-connectivity between qualifying cells,
and the cluster id is the component's minimum cell id (deterministic, no
window-over-everything).

Implementation: union-find on the driver over the collected cell ids and
edges (SURVEY.md W6: "small data: collect cell ids to driver, union-find"),
mirroring the reference's driver-side global reductions
(persona_v2_run.py:264-339).  The inputs are bounded by the fixed tiling
grid: at most NX * NY = 16,384 cells, and at eps = 1500 m a DBSCAN core
graph has at most 8 eps-neighbors per cell.

``dbscan`` adds the ST_ClusterDBSCAN option
(sql/urban_clusters/02_clusters_opt3_test.sql:52-60, eps=1500 m,
minpoints=3): eps-neighborhood join (k-ring candidates + exact Euclidean
center distance), core-point filter, CC over the core-core graph, border
cells attached to the min core-neighbor component, noise dropped.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions import cells as C


def cell_neighbors(cells: DataFrame) -> DataFrame:
    """(grid_id, nbr) 4-neighbor edges among the given cells (both ends must
    qualify) — neighbors are computed, never joined geometrically."""
    edges = cells.select(
        "grid_id", F.explode(C.edge_neighbors(F.col("grid_id"))).alias("nbr"))
    # keep only edges whose far end is also a qualifying cell
    return edges.join(cells.select(F.col("grid_id").alias("nbr")), "nbr", "left_semi")


def connected_components(cells: DataFrame) -> DataFrame:
    """cells(grid_id) -> (grid_id, component) over 4-adjacency; component =
    min reachable cell id (exact).

    The 4-neighbors are derived in pure Python from the collected ids, so
    the edge list costs no Spark job — the one place outside
    ``functions/cells`` that steps a cell id by hand, because these ids are
    driver-side ints, not Columns.  ``cells`` is persisted; the collect
    fills the cache, so a caller that reuses the same cell set (q48's
    ``cell_neighbors``) reads it back instead of recomputing it."""
    cells = cells.persist()
    ids = sorted(r[0] for r in cells.select("grid_id").collect())
    idset = set(ids)
    edges = [(g, nb) for g in ids
             for nb in (g - 1 if g % W.NX > 0 else None,
                        g + 1 if g % W.NX < W.NX - 1 else None,
                        g - W.NX if g // W.NX > 0 else None,
                        g + W.NX if g // W.NX < W.NY - 1 else None)
             if nb is not None and nb in idset]
    return _union_find(cells, ids, edges)


def connected_components_edges(cells: DataFrame, edges: DataFrame) -> DataFrame:
    """Generic CC: cells(grid_id) + symmetric edges(grid_id, nbr) ->
    (grid_id, component = min reachable id); exact.

    ``cells`` is persisted and filled by the id collect, so the edge
    collect and any caller join over the same cells (``dbscan``'s core
    set) read the cached rows instead of recomputing them."""
    cells = cells.persist()
    ids = sorted(r[0] for r in cells.select("grid_id").collect())
    pairs = [(r[0], r[1]) for r in edges.select("grid_id", "nbr").collect()]
    return _union_find(cells, ids, pairs)


def _union_find(cells: DataFrame, ids: list[int],
                edges: list[tuple[int, int]]) -> DataFrame:
    parent = {g: g for g in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for g, nb in edges:
        ra, rb = find(g), find(nb)
        if ra != rb:
            # union by min id so the component label is the min cell
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    rows = [(g, find(g)) for g in ids]
    return cells.sparkSession.createDataFrame(rows, "grid_id long, component long")


def eps_neighbors(cells: DataFrame, eps_deg_num: float,
                  eps_deg_den: float) -> DataFrame:
    """Directed (grid_id, nbr) pairs of qualifying cells whose centers are
    within eps = num/den degrees (Euclidean) — k-ring candidate join + exact
    d^2 refine, never a self cross-join.  eps is passed as a num/den pair so
    both engines evaluate the identical division."""
    eps = F.lit(eps_deg_num) / F.lit(eps_deg_den)
    r = int(math.ceil((eps_deg_num / eps_deg_den) / W.CELL_DEG))
    cand = (cells.select("grid_id")
            .withColumn("nbr", F.explode(C.kring(F.col("grid_id"), r)))
            .filter(F.col("nbr") != F.col("grid_id"))
            .join(cells.select(F.col("grid_id").alias("nbr")), "nbr",
                  "left_semi"))
    ax, ay = C.cell_center(F.col("grid_id"))
    bx, by = C.cell_center(F.col("nbr"))
    dx = ax - bx
    dy = ay - by
    return cand.filter(dx * dx + dy * dy <= eps * eps)


def dbscan(cells: DataFrame, eps_deg_num: float, eps_deg_den: float,
           minpts: int) -> DataFrame:
    """(grid_id, is_core, cluster) — ST_ClusterDBSCAN semantics with
    deterministic labels: cluster = min core-cell id of the component;
    border cells take the MIN component among their core neighbors; noise
    cells are dropped (the reference filters cluster_id IS NOT NULL)."""
    nbrs = eps_neighbors(cells, eps_deg_num, eps_deg_den)
    nn = nbrs.groupBy("grid_id").agg(F.count("*").alias("nn"))
    core = nn.filter(F.col("nn") + 1 >= minpts).select("grid_id")
    core_edges = (nbrs.join(core, "grid_id", "left_semi")
                  .join(core.select(F.col("grid_id").alias("nbr")), "nbr",
                        "left_semi"))
    comp = connected_components_edges(core, core_edges)
    core_out = comp.select("grid_id", F.lit(True).alias("is_core"),
                           F.col("component").alias("cluster"))
    border = (nbrs.join(core, "grid_id", "left_anti")
              .join(comp.select(F.col("grid_id").alias("nbr"), "component"),
                    "nbr")
              .groupBy("grid_id")
              .agg(F.min("component").alias("cluster"))
              .select("grid_id", F.lit(False).alias("is_core"), "cluster"))
    return core_out.unionByName(border)
