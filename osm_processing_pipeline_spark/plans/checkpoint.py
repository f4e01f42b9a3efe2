"""Per-partition-range checkpointing with lineage + row-count metrics.

The reference pipeline restarts by re-running chunk loops whose completed
chunks were committed (scripts/add_custom_tags.py:443-477, resume markers like
`multi_grid IS NULL`, 06_handle_roads_intersecting_multiple_grids.sql:14).
Here that contract is explicit and queryable: a stage's output is written one
**cell-id range** at a time; each completed range appends a manifest record

    {stage, range_id, lo, hi, output_rows, wall_s, lineage, finished_at_ns}

appended as one JSON line and fsynced before the next range starts (a
record torn by a crash is ignored, so its range recomputes).  On restart,
ranges whose LIVE manifest record (``live_records``) has a matching lineage
hash and the same [lo, hi) span are skipped — the exact analogue of the
reference's committed chunks, but with lineage so a changed input or changed
stage version invalidates stale checkpoints instead of silently reusing
them.  A record stops being live once a later record of its stage overlaps
its span, or a later record of any stage rewrites its ``range=N``
directory, so a re-run with a different range count never skips or reads
back the old layout's spans, and two stages sharing one ``out_dir`` never
read each other's rows.

The stage plan runs once per ``run_stage`` call, not once per range: with
two or more ranges pending, the stage frame is persisted before the first
write and every range filters the cached rows (released when the call
returns or raises).  ``output_rows`` is counted by an Observation on the
range's own write, so no job re-reads the written files.

At cluster scale the ranges ARE the Iceberg partitions (partition-by-cell
overwrite); locally they are parquet subdirectories.  Determinism of every
stage (no wall-clock, no rand) makes resumed runs bit-identical, which the
test asserts.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.jsonl")


def read_manifest(out_dir: str) -> list[dict]:
    """Every record of the manifest.  An unparseable LAST line is a torn
    append (the writer died mid-record, so its range never committed) and is
    skipped; an unparseable line anywhere else is corruption and raises."""
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return []
    with open(p) as f:
        lines = f.read().split("\n")
    recs = []
    for i, line in enumerate(lines):
        if not line.strip():
            continue
        try:
            recs.append(json.loads(line))
        except ValueError:
            if i < len(lines) - 1:
                raise
    return recs


def live_records(out_dir: str, stage: str | None = None,
                 lineage: str | None = None) -> list[dict]:
    """The records of ``stage``/``lineage`` (None: any) whose output is still
    current, in manifest order.  A record is superseded by any LATER record
    whose range_id is its own, of any stage or lineage (the ``range=N``
    directory, which carries no stage, was overwritten), or by a later
    record of its own stage, under any lineage, whose [lo, hi) overlaps its
    span (the rows were recomputed)."""
    recs = read_manifest(out_dir)
    live = []
    for k, r in enumerate(recs):
        if stage is not None and r["stage"] != stage:
            continue
        if lineage is not None and r["lineage"] != lineage:
            continue
        if not any(n["range_id"] == r["range_id"]
                   or (n["stage"] == r["stage"]
                       and n["lo"] < r["hi"] and r["lo"] < n["hi"])
                   for n in recs[k + 1:]):
            live.append(r)
    return live


def _cut_torn_tail(out_dir: str) -> None:
    """Drop an unterminated last line (a torn append) so the next record
    starts on a line of its own; its range has no record and recomputes."""
    p = _manifest_path(out_dir)
    if not os.path.exists(p):
        return
    with open(p, "rb+") as f:
        data = f.read()
        if data and not data.endswith(b"\n"):
            f.truncate(data.rfind(b"\n") + 1)


def _append_manifest(out_dir: str, rec: dict) -> None:
    """Append one record and make it durable before the next range starts:
    O(1) bytes per range, never a rewrite of the records before it."""
    with open(_manifest_path(out_dir), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")
        f.flush()
        os.fsync(f.fileno())


def lineage_hash(stage: str, inputs: list[str], version: str = "1") -> str:
    h = hashlib.sha256()
    h.update(stage.encode())
    h.update(version.encode())
    for x in sorted(inputs):
        h.update(x.encode())
    return h.hexdigest()[:16]


def make_ranges(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    """n contiguous [lo, hi) ranges covering the key space."""
    step = (hi - lo + n - 1) // n
    return [(lo + i * step, min(lo + (i + 1) * step, hi)) for i in range(n)
            if lo + i * step < hi]


def run_stage(spark: SparkSession,
              stage: str,
              df_fn: Callable[[], DataFrame],
              partition_col: str,
              ranges: list[tuple[int, int]],
              out_dir: str,
              lineage: str) -> dict:
    """Execute a stage range-by-range with skip-on-resume.

    A range is done when the manifest holds a live record for it with this
    stage, lineage, range_id AND [lo, hi) span, and its directory has
    ``_SUCCESS``; a re-run with a different range count recomputes every
    moved span.

    ``df_fn()`` is called once.  With two or more pending ranges its frame
    is persisted before the first write, so the plan runs once and each
    range filters cached rows (a narrow materialization pays once it has two
    or more consumers); with one pending range nothing is persisted.  The
    cache is released in a ``finally``.  Each range's ``output_rows`` comes
    from an Observation on its own write, and its manifest line is appended
    after the write commits.

    Returns {"computed": [...], "skipped": [...], "rows": total}.
    """
    os.makedirs(out_dir, exist_ok=True)
    _cut_torn_tail(out_dir)
    done = {(r["range_id"], r["lo"], r["hi"]): r
            for r in live_records(out_dir, stage, lineage)}
    skipped, pending = [], []
    total = 0
    for rid, (lo, hi) in enumerate(ranges):
        rec = done.get((rid, lo, hi))
        if rec and os.path.exists(os.path.join(out_dir, f"range={rid}", "_SUCCESS")):
            skipped.append(rid)
            total += rec["output_rows"]
        else:
            pending.append((rid, lo, hi))
    df = df_fn()
    if len(pending) > 1:
        df = df.persist()
    try:
        for rid, lo, hi in pending:
            t0 = time.time()
            obs = Observation()
            part = df.filter((F.col(partition_col) >= lo) & (F.col(partition_col) < hi))
            part.observe(obs, F.count(F.lit(1)).alias("rows")) \
                .write.mode("overwrite").parquet(os.path.join(out_dir, f"range={rid}"))
            rows = obs.get["rows"]
            _append_manifest(out_dir, {
                "stage": stage,
                "range_id": rid,
                "lo": lo,
                "hi": hi,
                "output_rows": rows,
                "wall_s": round(time.time() - t0, 3),
                "lineage": lineage,
                "finished_at_ns": time.time_ns(),
            })
            total += rows
    finally:
        if len(pending) > 1:
            df.unpersist()
    return {"computed": [rid for rid, _, _ in pending], "skipped": skipped,
            "rows": total}


def load_stage(spark: SparkSession, out_dir: str,
               stage: str | None = None, lineage: str | None = None) -> DataFrame:
    """Read a stage's output back from the checkpoint store.

    Reads ONLY the range directories of the live records for the given
    stage/lineage — a shrunk range layout leaves stale range=N directories
    on disk, and a bare glob (or a superseded record) would silently read
    them back alongside fresh output.  Raises when no live record
    matches."""
    recs = live_records(out_dir, stage, lineage)
    if not recs:
        raise FileNotFoundError(
            f"no manifest record for stage={stage!r} lineage={lineage!r} "
            f"in {out_dir}")
    rids = sorted({r["range_id"] for r in recs})
    return spark.read.parquet(
        *[os.path.join(out_dir, f"range={rid}") for rid in rids])
