#!/usr/bin/env python
"""Synthesize a scaled events table for the streaming-family rehearsal.

The driver's testdata stops at 100k events (sf0.1), so the streaming
operators (q25 tumbling, q50 stateful first-seen, q54 watermarked late
windows) had no measured scale point.  This emits the same shape at
rehearsal scale, deterministically (splitmix hashing — no RNG, no
timestamps; same discipline as gen_sf1_docs.py):

- default 10,000,000 events (100x the benched sf0.1) **densified into the
  seed's 30-day span** — q54's replay is built around four 8-day
  ingestion buckets (streaming/jobs.py LATE_BATCH_S), so extending the
  span would clamp everything into the last batch and degenerate the
  watermark progression; densifying keeps the four batches balanced at
  ~2.5M rows each while the windowed state stays at the seed's ~745
  sliding windows x 5 types (state is span-bound, throughput is
  row-bound — exactly the split a production watermark job shows).
- user_id grows 100x with the rows (1.5k -> 150k): q50's streaming
  first-seen aggregation keeps its state per user, so its state store
  DOES grow 100x — the complementary stress.
- ts strictly ascending in event_id (seed property; uniform gaps with a
  hash jitter), value 0.00-560.21, five uniform event types, the seed's
  {"k": NN} props.

Usage: python scripts/gen_sf1_events.py [/tmp/sf1] [n_events]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from splitmix import mix

out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
os.makedirs(out, exist_ok=True)

EPOCH0_US = 1704067200 * 1_000_000      # 2024-01-01 (seed table start)
SPAN_US = 30 * 86400 * 1_000_000        # seed's 30-day span, kept fixed
TYPES = np.array(["view", "click", "signup", "purchase", "error"])
N_USERS = max(1500, (n // 100_000) * 1500)   # users scale with rows

i = np.arange(n, dtype=np.uint64)
# ascending ts: uniform slot per event + sub-slot hash jitter (stays inside
# the slot, so order by event_id == order by ts like the seed)
slot = SPAN_US // n
ts_us = (EPOCH0_US + i.astype(np.int64) * slot
         + (mix(i, np.uint64(11)) % np.uint64(max(1, slot))).astype(np.int64))
user = (mix(i, np.uint64(13)) % np.uint64(N_USERS)).astype(np.int64)
etype = TYPES[(mix(i, np.uint64(17)) % np.uint64(len(TYPES))).astype(np.int64)]
value = (mix(i, np.uint64(19)) % np.uint64(56022)).astype(np.int64) / 100.0
props = np.char.add(
    np.char.add("{\"k\": ",
                (mix(i, np.uint64(23)) % np.uint64(100)).astype(np.int64)
                .astype(str)),
    "}")

pq.write_table(pa.table({
    "event_id": pa.array(i.astype(np.int64)),
    "ts": pa.array(ts_us, type=pa.timestamp("us")),
    "user_id": pa.array(user),
    "event_type": pa.array(etype),
    "value": pa.array(value),
    "props": pa.array(props),
}), f"{out}/events.parquet", row_group_size=262144)
# multi-row-group: row groups are the parquet split unit (the q14 lesson)

print(f"wrote {out}/events.parquet ({n} events, {N_USERS} users, "
      f"span 30d, ~{n // 4} rows per q54 batch)")
