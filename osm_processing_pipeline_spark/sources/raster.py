"""Synthetic tiled raster source with real binary payloads.

Mirrors the reference's `raster2pgsql -t 256x256` tiled ingest
(scripts/add_custom_tags.py:123-140): one row per tile, bands as packed
little-endian int32 arrays in ``binary`` columns.  The pixel values follow the
closed form in ``worldspec`` so the DuckDB oracle can validate the *decoded*
results without ever seeing the binary — proving the media/binary plumbing
end-to-end.

At 100 TB scale the tile table is an Iceberg table partitioned by tile id;
here it is generated deterministically (Arrow-batched numpy, no per-row math
in Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import worldspec as W
from ..datagen import world


def _pixel_blocks(tx: np.ndarray, ty: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, TP, TP) px/py index grids for n tiles (vectorized)."""
    tp = W.TILE_PX
    off = np.arange(tp)
    px = tx[:, None, None] * tp + off[None, None, :]
    py = ty[:, None, None] * tp + off[None, :, None]
    return px, py


def pop_values(px: np.ndarray, py: np.ndarray) -> np.ndarray:
    urban = ((px >= W.URBAN_PX_LO) & (px < W.URBAN_PX_HI)
             & (py >= W.URBAN_PX_LO) & (py < W.URBAN_PX_HI))
    return ((px * 37 + py * 73) % 100 + np.where(urban, W.URBAN_POP_BOOST, 0)) \
        .astype(np.int32)


def built_values(px: np.ndarray, py: np.ndarray) -> np.ndarray:
    return ((px * 91 + py * 17) % 50).astype(np.int32)


def raster_tiles(spark: SparkSession) -> DataFrame:
    """(tile_id, tx, ty, pop_data binary, built_data binary) — materialized
    once (the tile table is input data, an Iceberg table at scale)."""
    path = world.cached("raster_tiles.parquet",
                        lambda p: _raster_tiles_gen(spark).write
                        .mode("overwrite").parquet(p))
    return spark.read.parquet(path)


def _raster_tiles_gen(spark: SparkSession) -> DataFrame:
    """Arrow-batched deterministic tile synthesis."""

    def gen(batches):
        for pdf in batches:
            tx = pdf["tx"].to_numpy(np.int64)
            ty = pdf["ty"].to_numpy(np.int64)
            px, py = _pixel_blocks(tx, ty)
            pop = pop_values(px, py)
            built = built_values(px, py)
            yield pd.DataFrame({
                "tile_id": pdf["tile_id"].to_numpy(np.int64),
                "tx": tx,
                "ty": ty,
                "pop_data": [row.tobytes() for row in pop.reshape(len(tx), -1)],
                "built_data": [row.tobytes() for row in built.reshape(len(tx), -1)],
            })

    base = spark.range(W.N_TILES * W.N_TILES).select(
        F.col("id").alias("tile_id"),
        (F.col("id") % W.N_TILES).alias("tx"),
        (F.col("id") / W.N_TILES).cast("long").alias("ty"),
    )
    return base.mapInPandas(
        gen, schema="tile_id long, tx long, ty long, pop_data binary, built_data binary")


def decode_band(series: pd.Series) -> np.ndarray:
    """(n, TP, TP) int32 from a binary band column."""
    tp = W.TILE_PX
    return np.stack([
        np.frombuffer(b, dtype="<i4").reshape(tp, tp) for b in series
    ])
