"""Vector-tile materialization (S7) — per-zoom simplified road layers.

Mirrors the reference's materialized visualization views
(sql/visualization/vis_persona_v2_normalised_z10.sql:44-66,
vis_urban_grids.sql:32-48): per zoom level, every road is assigned to a tile
and its geometry simplified before being written out partitioned by tile.

Simplification is TRUE Douglas-Peucker with a single GLOBAL tolerance
measured against the ORIGINAL polyline — the guarantee
``ST_SimplifyPreserveTopology(geom, tol_by_zoom)`` makes: endpoints seed the
kept set, then every chord between consecutive kept vertices is split at its
maximum-deviation interior vertex while that deviation exceeds tol
(smallest-index tie-break), iterated to fixpoint.  Since ways carry at most
``worldspec.NV_MAX`` (= 8) vertices, ``NV_MAX - 2`` iterations provably
converge (each iteration either adds a kept vertex to some chord or the
whole fixpoint is reached) and extra iterations are idempotent, so both
engines run the identical fixed count.  Endpoints are always preserved so
topology (connectivity at way ends) survives, as the PostGIS function
guarantees.  The DP runs as ONE vectorized Arrow kernel over padded
(N, NV_MAX) coordinate arrays — the same algorithm phrased as Catalyst
array higher-order functions is CodegenFallback (interpreted lambdas,
measured 60 s at sf0.1 vs ~1 s for the kernel) — and there is still no
explode and no shuffle at all (tile assignment is arithmetic on the echoed
representative point).

At scale the output is written ``.write.partitionBy("zoom", "tile_id")`` to
Iceberg, giving tile-server point lookups partition pruning; here we return
the DataFrame and let the caller sink it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import worldspec as W
from ..functions.cells import rep_vertex
from .classify import road_type

L = F.lit


def _seg_point_dist2_np(ax, ay, bx, by, px, py):
    """Numpy twin of geometry.seg_point_dist2_deg / oracle_geom.
    seg_point_dist2 — IDENTICAL operand order, so every float64 op is the
    same correctly-rounded IEEE op as the JVM/DuckDB trees."""
    dx = bx - ax
    dy = by - ay
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t_raw = ((px - ax) * dx + (py - ay) * dy) / len2
        t = np.where(len2 == 0.0, 0.0,
                     np.maximum(0.0, np.minimum(1.0, t_raw)))
    ex = ax + t * dx - px
    ey = ay + t * dy - py
    return ex * ex + ey * ey


def dp_keep_mask(X, Y, nv, tol2: float):
    """Vectorized Douglas-Peucker over padded (N, NV_MAX) coordinate
    arrays: endpoints seed the kept mask, then NV_MAX - 2 fixpoint split
    iterations add each chord's max-deviation interior vertex (strict >,
    numpy argmax = smallest-index tie-break) while it exceeds the GLOBAL
    tolerance.  Returns the kept bool mask.

    This is the production path: the same algorithm phrased as Catalyst
    array higher-order functions is CodegenFallback (every transform/
    aggregate lambda evaluates interpreted) and measured 60 s at sf0.1 for
    the two-zoom suite; this Arrow kernel runs it in ~1 s.

    NV (the padded width) adapts to the batch's longest way, so inputs
    beyond this world's NV_MAX still simplify correctly — the iteration
    count NV - 2 remains the worst-case DP depth for NV vertices."""
    N, NV = X.shape
    idx = np.arange(NV)
    kept = np.zeros((N, NV), bool)
    # degenerate ways: nv == 0 keeps nothing (kept[:, nv-1] would wrap to
    # the last padded column, a phantom vertex); nv == 1 keeps the single
    # vertex via the endpoint double-set below
    live = np.nonzero(nv >= 1)[0]
    kept[live, 0] = True
    kept[live, nv[live] - 1] = True
    for _ in range(NV - 2):
        K = np.where(kept, idx[None, :], -1)
        p = np.maximum.accumulate(K, axis=1)          # last kept <= j
        Kq = np.where(kept, idx[None, :], NV + 1)
        q = np.minimum.accumulate(Kq[:, ::-1], axis=1)[:, ::-1]  # next kept >= j
        act = (~kept) & (idx[None, :] < nv[:, None])
        pj = np.clip(p, 0, NV - 1)
        qj = np.clip(q, 0, NV - 1)
        ax = np.take_along_axis(X, pj, 1)
        ay = np.take_along_axis(Y, pj, 1)
        bx = np.take_along_axis(X, qj, 1)
        by = np.take_along_axis(Y, qj, 1)
        dev2 = np.where(act, _seg_point_dist2_np(ax, ay, bx, by, X, Y), -1.0)
        for g in range(NV - 1):                       # per-gap argmax
            m = act & (p == g)
            if not m.any():
                continue
            d = np.where(m, dev2, -1.0)
            mx = d.max(axis=1)
            am = d.argmax(axis=1)
            hit = mx > tol2
            kept[np.nonzero(hit)[0], am[hit]] = True
    return kept


def _dp_tiles_schema() -> str:
    per_zoom = ", ".join(f"n_z{zi} long, len_z{zi} long"
                         for zi in range(len(W.ZOOMS)))
    return ("osm_id long, highway string, ref string, nv long, "
            f"rep_lon double, rep_lat double, {per_zoom}")


def _dp_tiles_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per road, for every zoom run global-tolerance DP
    and emit the kept-vertex count plus the simplified length (consecutive
    kept vertices, exact-quantized int64 micrometre sum — the identical
    seg_len_m operand tree as the oracle's LAG-based sum)."""
    M = W.M_PER_DEG
    for pdf in it:
        if len(pdf) == 0:
            continue
        N = len(pdf)
        lon_lists = pdf["lons"].to_numpy(object)
        lat_lists = pdf["lats"].to_numpy(object)
        nv = np.fromiter((len(x) for x in lon_lists), np.int64, N)
        # pad to the batch max so ways longer than this world's NV_MAX
        # still simplify correctly at other scales
        NV = max(W.NV_MAX, int(nv.max()))
        flat_lon = np.concatenate(lon_lists).astype(np.float64)
        flat_lat = np.concatenate(lat_lists).astype(np.float64)
        rows = np.repeat(np.arange(N), nv)
        starts = np.zeros(N, np.int64)
        np.cumsum(nv[:-1], out=starts[1:])
        cols = np.arange(nv.sum()) - np.repeat(starts, nv)
        X = np.zeros((N, NV))
        Y = np.zeros((N, NV))
        X[rows, cols] = flat_lon
        Y[rows, cols] = flat_lat
        idx = np.arange(NV)

        out = {
            "osm_id": pdf["osm_id"].to_numpy(np.int64),
            "highway": pdf["highway"],
            "ref": pdf["ref"],
            "nv": nv,
            "rep_lon": pdf["rep_lon"].to_numpy(np.float64),
            "rep_lat": pdf["rep_lat"].to_numpy(np.float64),
        }
        for zi, (_zoom, _t, tol) in enumerate(W.ZOOMS):
            kept = dp_keep_mask(X, Y, nv, tol * tol)
            out[f"n_z{zi}"] = kept.sum(axis=1).astype(np.int64)
            # simplified length over consecutive kept pairs
            K = np.where(kept, idx[None, :], -1)
            p = np.maximum.accumulate(K, axis=1)
            prevk = np.full((N, NV), -1, np.int64)
            prevk[:, 1:] = p[:, :-1]
            segm = kept & (prevk >= 0) & (idx[None, :] < nv[:, None])
            pa = np.clip(prevk, 0, NV - 1)
            ax = np.take_along_axis(X, pa, 1)
            ay = np.take_along_axis(Y, pa, 1)
            t1 = (X - ax) * M
            t2 = (Y - ay) * M
            slen = np.sqrt(t1 * t1 + t2 * t2)
            um = np.where(segm, np.floor(slen * W.LEN_Q), 0.0).astype(np.int64)
            out[f"len_z{zi}"] = um.sum(axis=1)
        yield pd.DataFrame(out)


def vector_tiles(roads: DataFrame) -> DataFrame:
    """One row per (zoom, road): tile id, simplified vertex count + length.
    Both zooms' DP runs happen in ONE Arrow kernel pass over the roads (no
    shuffle anywhere — tile assignment is arithmetic on the echoed rep
    point); the per-zoom rows are a cheap union of projections over the
    kernel output.  The kernel output is localCheckpointed because BOTH
    union branches consume it — without the barrier each branch re-runs
    the Arrow pass (the q44/q46 narrow-table lesson; A/B at sf0.1:
    2.0-2.6 s -> 1.2-1.5 s)."""
    rep = rep_vertex()
    base = roads.select(
        "osm_id", "highway", "ref",
        F.expr("transform(vertices, v -> v.lon)").alias("lons"),
        F.expr("transform(vertices, v -> v.lat)").alias("lats"),
        rep["lon"].alias("rep_lon"), rep["lat"].alias("rep_lat"))
    ker = base.mapInPandas(_dp_tiles_batches, schema=_dp_tiles_schema()) \
              .localCheckpoint(eager=True)
    outs = []
    for zi, (zoom, t, _tol) in enumerate(W.ZOOMS):
        tx = F.greatest(L(0), F.least(L(t - 1),
                                      F.floor(F.col("rep_lon") * t))).cast("long")
        ty = F.greatest(L(0), F.least(L(t - 1),
                                      F.floor(F.col("rep_lat") * t))).cast("long")
        outs.append(ker.select(
            L(zoom).cast("long").alias("zoom"),
            (ty * t + tx).alias("tile_id"),
            "osm_id", "highway",
            road_type(F.col("ref"), F.col("highway")).alias("road_type"),
            F.col("nv").alias("n_pts_full"),
            F.col(f"n_z{zi}").alias("n_pts"),
            F.col(f"len_z{zi}").alias("simplified_len_um"),
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
