"""Workloads: the operations one benchmark pass runs, in order.

An operation runs through the engine's public entry points only:
``registry.QUERIES[q]`` followed by a sink, or the flagship pieces stage
through ``plans.checkpoint.run_stage``.  Each operation can run ``timed``
(one pass of the measured loop, returning its output rows), ``check`` (those
rows compared with the DuckDB oracle, outside any timing) or ``traced``
(spans plus Spark's accounting).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """What an operation needs from the run: the session, the generated
    input directory, a scratch directory and (for checks) the oracle."""
    spark: object
    sf_dir: str
    work_dir: str
    oracle: object = None
    tracer: object = None
    n: int = 0                      # pass counter, keeps output dirs apart
    layers: dict = field(default_factory=dict)


def _engine():
    from osm_processing_pipeline_spark import registry
    from osm_processing_pipeline_spark.datagen import world
    from osm_processing_pipeline_spark.operators import spatial_join
    from osm_processing_pipeline_spark.plans import checkpoint
    return registry, world, spatial_join, checkpoint


# ------------------------------------------------------------------ queries
@dataclass(frozen=True)
class Query:
    name: str                       # registry key, e.g. q01_road_grid_classification

    @property
    def label(self) -> str:
        return self.name.split("_", 1)[0]

    def timed(self, ctx: Ctx) -> dict:
        registry = _engine()[0]
        t0 = time.perf_counter()
        df = registry.QUERIES[self.name](ctx.spark, ctx.sf_dir)
        t1 = time.perf_counter()
        # The sink collects the rows (Arrow): like the noop sink it computes
        # every column (``count()`` would prune them), and it yields the rows
        # the oracle check needs without a second execution, which for q58
        # cost 10-18 s a run.  Outputs are at most a few thousand rows.
        got = df.toPandas()
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "build": t1 - t0, "exec": t2 - t1, "output": got}

    def check(self, ctx: Ctx, got) -> list[str]:
        from check import mismatch, span_mismatches
        registry = _engine()[0]
        want = ctx.oracle.result(self.name, registry.ORACLES[self.name])
        if self.label == "q13":
            ctx.layers["documents.span_mismatches"] = span_mismatches(got, want)
        err = mismatch(got, want, self.name)
        return [err] if err else []

    def traced(self, ctx: Ctx) -> dict:
        """One traced execution: the registry call, then the timed pass's
        sink, after which the plan that ran is walked."""
        import probes
        registry = _engine()[0]
        tr = ctx.tracer
        t0 = time.time()
        with tr.span(f"registry.QUERIES[{self.label}]", query=self.label) as b:
            df = registry.QUERIES[self.name](ctx.spark, ctx.sf_dir)
        t1 = time.time()
        with tr.span("sink", query=self.label) as s:
            rows = len(df.toPandas())
        t2 = time.time()
        qe = df._jdf.queryExecution()   # the execution toPandas ran
        jvm = ctx.spark._jvm
        return {"label": self.label, "build_s": b["end"] - b["start"],
                "exec_s": s["end"] - s["start"], "rows_out": rows,
                "build_window": (t0, t1), "exec_window": (t1, t2),
                "phases": probes.phase_ms(qe),
                "plan": probes.plan_metrics(jvm, qe)}


# ----------------------------------------------------- checkpointed stage
def _read_ranges(out_dir: str, rids=None):
    """All rows of the stage's range directories (or just ``rids``), sorted,
    as an Arrow table; part files only, the way a reader of the store sees
    them once each range carries _SUCCESS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = []
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("range="):
            continue
        if rids is not None and int(d.split("=", 1)[1]) not in rids:
            continue
        for f in sorted(os.listdir(os.path.join(out_dir, d))):
            if f.startswith("part-") and f.endswith(".parquet"):
                tables.append(pq.read_table(os.path.join(out_dir, d, f)))
    if not tables:
        return None
    t = pa.concat_tables(tables)
    return t.sort_by([(c, "ascending") for c in t.column_names])


RANGES = 4


class PiecesStage:
    """The flagship pieces stage (road segments x grid cells, exact clip)
    written range by range through ``plans.checkpoint.run_stage``.  After the
    clean run a crash at half progress is simulated: the manifest loses every
    record from range R/2 on, range R/2 keeps its finished files (killed
    between write and manifest append), range R/2+1 keeps a torn write
    without _SUCCESS and later ranges are gone.  The stage then resumes."""
    label = "pieces"

    def _args(self, ctx: Ctx):
        _, world, spatial_join, CP = _engine()
        from osm_processing_pipeline_spark.worldspec import NX, NY

        def df_fn():
            r = world.roads_materialized(ctx.spark, ctx.sf_dir)
            s = world.segments(ctx.spark, ctx.sf_dir, r)
            return spatial_join.segment_cell_pieces(s, world.grids(ctx.spark)) \
                .select("osm_id", "grid_id", "piece_um")

        lin = CP.lineage_hash("pieces", [ctx.sf_dir])
        return CP, df_fn, CP.make_ranges(0, NX * NY, RANGES), lin

    def _crash(self, CP, out_dir: str) -> set[int]:
        keep = RANGES // 2
        recs = [r for r in CP.read_manifest(out_dir) if r["range_id"] < keep]
        with open(os.path.join(out_dir, "_manifest.jsonl"), "w") as f:
            for r in recs:
                f.write(json.dumps(r, sort_keys=True) + "\n")
        for rid in range(keep, RANGES):
            d = os.path.join(out_dir, f"range={rid}")
            if rid == keep + 1 and os.path.isdir(d):
                os.remove(os.path.join(d, "_SUCCESS"))
            elif rid > keep + 1:
                shutil.rmtree(d, ignore_errors=True)
        return set(range(keep, RANGES))

    def run(self, ctx: Ctx, tracing: bool = False, around_stage=nullcontext) -> dict:
        """Clean run, crash, resume; returns timings and verification.
        ``around_stage()`` is entered around each ``run_stage`` call only."""
        CP, df_fn, ranges, lin = self._args(ctx)
        out = os.path.join(ctx.work_dir, f"ckpt-{ctx.n}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with around_stage():
            CP.run_stage(ctx.spark, "pieces", df_fn, "grid_id", ranges, out, lin)
        t1 = time.perf_counter()
        clean = _read_ranges(out)
        clean_manifest = CP.read_manifest(out)
        lost = self._crash(CP, out)
        t2 = time.perf_counter()
        with around_stage():
            res = CP.run_stage(ctx.spark, "pieces", df_fn, "grid_id", ranges, out, lin)
        t3 = time.perf_counter()
        errors = []
        resumed = _read_ranges(out)
        if resumed is None or clean is None or not resumed.equals(clean):
            errors.append("pieces: resumed output differs from the clean run")
        manifest = CP.read_manifest(out)
        on_disk = _read_ranges(out, {r["range_id"] for r in manifest})
        if sum(r["output_rows"] for r in manifest) != (on_disk.num_rows if on_disk else 0):
            errors.append("pieces: manifest output_rows differ from rows on disk")
        if set(res["computed"]) != lost:
            errors.append(f"pieces: resume recomputed {sorted(res['computed'])}, "
                          f"lost {sorted(lost)}")
        out_info = {"wall": (t1 - t0) + (t3 - t2), "resume_s": t3 - t2,
                    "errors": errors, "clean": clean,
                    "range_s": [r["wall_s"] for r in clean_manifest],
                    "rows_written": sum(r["output_rows"] for r in clean_manifest),
                    "rerun_ratio": len(res["computed"]) / len(lost)}
        if not tracing:
            shutil.rmtree(out, ignore_errors=True)
        return out_info

    def timed(self, ctx: Ctx) -> dict:
        r = self.run(ctx)
        return {"wall": r["wall"], "resume_s": r["resume_s"],
                "errors": r["errors"], "output": r["clean"]}

    def check(self, ctx: Ctx, clean) -> list[str]:
        """The clean run's rows rolled up per (road, cell) against the q38
        pieces oracle (``run`` already checked resume against clean)."""
        from check import mismatch
        registry = _engine()[0]
        if clean is None:
            return ["pieces: the clean run wrote no rows"]
        got = (clean.to_pandas().groupby(["osm_id", "grid_id"], as_index=False)
               .agg(piece_um=("piece_um", "sum"), n_segs=("piece_um", "size")))
        got["n_segs"] = got["n_segs"].astype("int64")
        want = ctx.oracle.result("q38_checkpointed_pieces",
                                 registry.ORACLES["q38_checkpointed_pieces"])
        err = mismatch(got, want, "pieces")
        return [err] if err else []


# ---------------------------------------------------------------- workloads
@dataclass(frozen=True)
class Workload:
    why: str
    ops: tuple
    orders: int                     # lineitem orders; ~4 road documents each


WORKLOADS = {
    "spatial": Workload(
        why=("headline spatial-join path: document codec, cover join and "
             "rollup, the same join written durably with crash and resume, "
             "and a stream that commits state every micro-batch"),
        ops=(Query("q13_interleaved_roundtrip"),
             Query("q01_road_grid_classification"),
             PiecesStage(),
             Query("q54_streaming_late_windows")),
        orders=6000),
    "persona_media": Workload(
        why=("persona composite built on the driver (eager checkpoints, "
             "analyzer) with one hot aggregate, then media kernels across "
             "the Python/Arrow boundary"),
        ops=(Query("q58_persona_v1_simplified"),
             Query("q49_media_features")),
        orders=1500),
}
