"""Seeded input generator for the engine benchmark.

Writes one complete sf-shaped input directory per seed, the tables the engine
reads as its stored input:

- ``lineitem``  (l_orderkey, l_linenumber) key pairs, ~4 lines per order;
  the engine derives one road document per pair;
- ``part``, ``customer`` key sets, ``nation`` (the fixed 25-key dimension);
- ``events`` a time-ordered event feed over a fixed 30-day span.

No workload runs a query over the text documents or embeddings tables, so
they are not generated.

Every value is a salted splitmix64 hash of its row key and the seed (the
scripts/gen_sf1*.py discipline: no RNG state, no timestamps), so the same
seed and order count give byte-identical parquet files.  The program under
test only ever sees these files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

EVENT_EPOCH0_US = 1704067200 * 1_000_000     # 2024-01-01
EVENT_SPAN_US = 30 * 86400 * 1_000_000       # q54 replays four 8-day buckets
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])

PARTS = 200
CUSTOMERS = 150
EVENTS = 20_000
USERS = 200


def mix(a, b) -> np.ndarray:
    """splitmix64 of a*PHI xor b, vectorised over uint64 (wraps by design)."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    with np.errstate(over="ignore"):
        z = (a * np.uint64(0x9E3779B97F4A7C15) ^ b) & MASK
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK
    return z ^ (z >> np.uint64(31))


def _salt(seed: int, table: str) -> np.uint64:
    tag = int.from_bytes(hashlib.sha256(table.encode()).digest()[:8], "little")
    return mix(np.uint64(seed & 0xFFFFFFFFFFFFFFFF), np.uint64(tag))


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def _lineitem(seed: int, n_orders: int) -> pa.Table:
    s = _salt(seed, "lineitem")
    o = np.repeat(np.arange(1, n_orders + 1, dtype=np.uint64), 7)
    ln = np.tile(np.arange(1, 8, dtype=np.uint64), n_orders)
    keep = mix(o * np.uint64(8) + ln, s) % np.uint64(7) < np.uint64(4)
    return pa.table({"l_orderkey": pa.array(o[keep].astype(np.int64)),
                     "l_linenumber": pa.array(ln[keep].astype(np.int32))})


def _keyset(seed: int, table: str, col: str, n: int) -> pa.Table:
    """~n keys drawn from 0..4n-1 (the key values drive the derived world)."""
    k = np.arange(4 * n, dtype=np.uint64)
    keep = mix(k, _salt(seed, table)) % np.uint64(4) == np.uint64(0)
    return pa.table({col: pa.array(k[keep].astype(np.int64))})


def _events(seed: int, n: int, n_users: int) -> pa.Table:
    s = _salt(seed, "events")
    i = np.arange(n, dtype=np.uint64)
    slot = EVENT_SPAN_US // n
    ts = (EVENT_EPOCH0_US + i.astype(np.int64) * slot
          + (mix(i, s ^ np.uint64(11)) % np.uint64(slot)).astype(np.int64))
    props = [f'{{"k": {int(x)}}}' for x in mix(i, s ^ np.uint64(23)) % np.uint64(100)]
    return pa.table({
        "event_id": pa.array(i.astype(np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array((mix(i, s ^ np.uint64(13))
                             % np.uint64(n_users)).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[(mix(i, s ^ np.uint64(17))
                                            % np.uint64(5)).astype(np.int64)]),
        "value": pa.array((mix(i, s ^ np.uint64(19))
                           % np.uint64(56022)).astype(np.int64) / 100.0),
        "props": pa.array(props),
    })


def generate(out_dir: str, seed: int, orders: int) -> dict:
    """Write every input table for ``seed`` (lineitem sized by ``orders``)
    under ``out_dir``; return row counts.  Idempotent: an existing complete
    directory is left alone."""
    marker = os.path.join(out_dir, "_GENERATED")
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "lineitem": (lambda: _lineitem(seed, orders), 16384),
        "part": (lambda: _keyset(seed, "part", "p_partkey", PARTS), 16384),
        "customer": (lambda: _keyset(seed, "customer", "c_custkey", CUSTOMERS), 16384),
        "nation": (lambda: pa.table({"n_nationkey": pa.array(
            np.arange(25, dtype=np.int32))}), 16384),
        "events": (lambda: _events(seed, EVENTS, USERS), 65536),
    }
    rows = {}
    for name, (make, rg) in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(marker):
            rows[name] = pq.ParquetFile(path).metadata.num_rows
            continue
        t = make()
        _write(t, path, rg)
        rows[name] = t.num_rows
    with open(marker, "w") as f:
        f.write(f"seed={seed} orders={orders}\n")
    return rows


def fingerprint(in_dir: str, names: list[str] | None = None) -> str:
    """sha256 over the named parquet files' bytes (all tables by default)."""
    h = hashlib.sha256()
    for name in sorted(names or [f[:-8] for f in os.listdir(in_dir)
                                 if f.endswith(".parquet")]):
        h.update(name.encode())
        with open(os.path.join(in_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:24]
