#!/usr/bin/env python3
"""Engine benchmark: seeded workloads through the engine's public entry points.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  One run is one fresh Spark application:

1. set-up: generate the seed's inputs into a fresh directory, ``get_spark``
   (which launches the JVM), materialise the world.  ``setup_s`` runs from
   process start to the start of the first timed pass;
2. timed passes until ``--seconds`` have elapsed (at least one), each
   materialising every output: collected to the driver, written as durable
   ranges, or a drained stream.  The first pass is the application's first
   run of the workload's queries, as in a batch job; there is no separate
   warm-up;
3. outside the timing, the last pass's outputs are compared with the DuckDB
   oracles;
4. with ``--trace 1``, one more pass with spans and Spark's accounting.

The last stdout line is a JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Lines before it describe the run for humans.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import builtins
import gc
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

from workloads import WORKLOADS, Ctx, PiecesStage, Query  # noqa: E402

END_TO_END = {  # name -> unit
    "wall_s": "s", "docs_per_s": "docs/s", "task_cpu_s": "s",
    "driver_cpu_s": "s", "peak_rss_mb": "MiB", "setup_s": "s",
}
QUERY_LABELS = sorted({op.label for w in WORKLOADS.values()
                       for op in w.ops if isinstance(op, Query)})
PER_LAYER = {
    "session.start_s": "s", "world.materialize_s": "s", "world.docs": "count",
    "registry.build_s": "s", "registry.analysis_ms": "ms",
    "registry.optimization_ms": "ms", "registry.planning_ms": "ms",
    "registry.eager_jobs": "count",
    **{f"query.{q}.{m}": u for q in QUERY_LABELS
       for m, u in (("build_s", "s"), ("exec_s", "s"),
                    ("task_cpu_s", "s"), ("rows_out", "count"))},
    "spatial_join.candidates": "count", "spatial_join.hits": "count",
    "spatial_join.keep_ratio": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.spill_bytes": "bytes",
    "shuffle.skew_ratio": "ratio",
    "python.udf_s": "s", "python.bytes_sent": "bytes",
    "op.top1_s": "s", "op.peak_mem_bytes": "bytes",
    "checkpoint.range_s_p50": "s", "checkpoint.range_s_max": "s",
    "checkpoint.rows_written": "count",
    "checkpoint.manifest_bytes_written": "bytes",
    "checkpoint.rerun_ratio": "ratio", "resume_s": "s",
    "stream.batches": "count", "stream.state_rows": "count",
    "stream.commit_ms": "ms", "stream.add_batch_ms": "ms",
    "documents.span_mismatches": "count",
    "failed_frac": "ratio", "trace.overhead_s": "s",
}


def host_settings(work: str) -> dict:
    """Environment for the engine, derived from the host, through the
    overrides the engine already reads."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    driver_mb = max(1024, min(4096, total_mb // 4))
    for d in ("local", "tmp", "eventlog", "world-cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    submit = " ".join([
        "--conf spark.eventLog.enabled=true",
        f"--conf spark.eventLog.dir=file://{work}/eventlog",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        f"--conf spark.sql.warehouse.dir=file://{work}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
        # C1 only, ParallelGC and a fixed heap: with C2 and G1, when
        # compilations and heap growth landed made a cold q58 swing 19-26 s
        # and peak RSS 13% between seeds.  C1 alone reserves a 48 MB code
        # cache, which q58 fills (the JVM then stops compiling); reserve the
        # tiered default instead.
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
        f"-XX:+UseParallelGC -Xms{driver_mb}m'",
        "pyspark-shell",
    ])
    return {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_TMPFS": "0",
        "SPARK_GRAFT_WORLD_CACHE": os.path.join(work, "world-cache"),
        "PYSPARK_SUBMIT_ARGS": submit,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": os.path.join(work, "tmp"),
    }


def release(spark) -> None:
    """Between passes: drop temp views (the streaming memory sinks), clear
    the cache and collect garbage on both sides so the ContextCleaner frees
    blocks of checkpoints no longer referenced."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


@contextmanager
def counting_writes(under: str, prefix: str, into: dict):
    """Count bytes written through ``open`` to files named ``prefix*`` under
    ``under`` (the checkpoint manifest is written from this process)."""
    real_open = builtins.open

    class Counted:
        def __init__(self, f):
            self._f = f

        def write(self, s):
            into["bytes"] = into.get("bytes", 0) + len(
                s.encode() if isinstance(s, str) else s)
            return self._f.write(s)

        def __getattr__(self, k):
            return getattr(self._f, k)

        def __enter__(self):
            self._f.__enter__()
            return self

        def __exit__(self, *exc):
            return self._f.__exit__(*exc)

        def __iter__(self):
            return iter(self._f)

    def patched(file, mode="r", *a, **kw):
        f = real_open(file, mode, *a, **kw)
        p = os.path.abspath(str(file))
        if any(c in mode for c in "wa") and p.startswith(under) \
                and os.path.basename(p).startswith(prefix):
            return Counted(f)
        return f

    builtins.open = patched
    try:
        yield into
    finally:
        builtins.open = real_open


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import probes
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.w = WORKLOADS[workload]
        self.work = os.path.join(STATE, "work", f"{workload}-s{seed}-{os.getpid()}")
        self.tracer = probes.Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict = {}
        self.setup_s = 0.0
        self.passes: list[dict] = []
        self.traced: list[dict] = []

    # ------------------------------------------------------------ set-up
    def setup(self):
        import gen
        from osm_processing_pipeline_spark.datagen import world
        from osm_processing_pipeline_spark.session import get_spark

        in_dir = os.path.join(self.work, "in", f"seed{self.seed}")
        with self.tracer.span("gen.generate"):
            self.rows = gen.generate(in_dir, self.seed, self.w.orders)
        with self.tracer.span("get_spark") as s:
            self.spark = get_spark("perfbench")
        with self.tracer.span("world.roads_materialized") as m:
            self.docs = world.roads_materialized(self.spark, in_dir).count()
        self.sf_dir = in_dir
        self.layers.update({"session.start_s": s["end"] - s["start"],
                            "world.materialize_s": m["end"] - m["start"],
                            "world.docs": self.docs})

    # ------------------------------------------------------------ passes
    def _count(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    def check_pass(self, outputs: dict, oracle) -> None:
        """Compare each output of the last timed pass with its oracle; an
        operation that raised in that pass is already counted as failed."""
        ctx = Ctx(self.spark, self.sf_dir, self.work, oracle=oracle)
        t0 = time.perf_counter()
        for op in self.w.ops:
            if op.label not in outputs:
                continue
            try:
                errs = op.check(ctx, outputs[op.label])
            except Exception as e:  # an operation that raises is a failure
                errs = [f"{op.label}: {type(e).__name__}: {e}"]
            self._count(errs)
        self.layers.update(ctx.layers)
        self.check_s = time.perf_counter() - t0

    def timed_pass(self, n: int, sampler) -> tuple[dict, dict]:
        import probes
        release(self.spark)
        ctx = Ctx(self.spark, self.sf_dir, self.work, n=n)
        sampler.reset()
        cpu0, steal0, t0 = sampler.driver_cpu(), probes.steal_s(), time.time()
        worker0 = sampler.worker_cpu()
        wall, per_op, outputs = 0.0, {}, {}
        for op in self.w.ops:
            s = time.perf_counter()
            try:
                r = op.timed(ctx)
                per_op[op.label] = r["wall"]
                outputs[op.label] = r["output"]
                wall += r["wall"]
                self._count(r.get("errors", []))
            except Exception as e:
                wall += time.perf_counter() - s
                self._count([f"{op.label}: {type(e).__name__}: {e}"])
        return {"wall": wall, "ops": per_op, "window": (t0, time.time()),
                "steal_s": probes.steal_s() - steal0,
                "driver_cpu": sampler.driver_cpu() - cpu0,
                "worker_cpu": sampler.worker_cpu() - worker0,
                "rss": sampler.peak()}, outputs

    def traced_pass(self, n: int) -> None:
        import probes
        from osm_processing_pipeline_spark.datagen import world
        from osm_processing_pipeline_spark.plans import checkpoint
        from osm_processing_pipeline_spark.streaming import jobs, stateful

        release(self.spark)
        listener = probes.stream_listener(self.spark)
        ctx = Ctx(self.spark, self.sf_dir, self.work, tracer=self.tracer, n=n)
        targets = [(world, "roads_materialized", "world.roads_materialized"),
                   (checkpoint, "run_stage", "checkpoint.run_stage"),
                   (jobs, "run_sliding_late_available_now",
                    "streaming.run_sliding_late_available_now"),
                   (jobs, "run_events_stream_available_now",
                    "streaming.run_events_stream_available_now"),
                   (stateful, "run_first_seen_available_now",
                    "streaming.run_first_seen_available_now")]
        wall = 0.0
        with self.tracer.wrapping(targets), self.tracer.span("pass", n=n):
            for op in self.w.ops:
                try:
                    if isinstance(op, PiecesStage):
                        written: dict = {}
                        with self.tracer.span("pieces"):
                            r = op.run(ctx, tracing=True, around_stage=lambda: counting_writes(
                                self.work, "_manifest", written))
                        wall += r["wall"]
                        self._count(r["errors"])
                        self.traced.append({"label": "pieces", **r,
                                            "manifest_bytes": written.get("bytes", 0)})
                    else:
                        r = op.traced(ctx)
                        wall += r["build_s"] + r["exec_s"]
                        self._count([])
                        self.traced.append(r)
                except Exception as e:
                    self._count([f"{op.label} (traced): {type(e).__name__}: {e}"])
        time.sleep(0.5)  # let the listener bus deliver the last progress events
        self.spark.streams.removeListener(listener)
        self.traced_wall = wall
        self.stream_batches = list(listener.batches)
        if any(isinstance(op, PiecesStage) for op in self.w.ops):
            self._spatial_join_counts()

    def _spatial_join_counts(self) -> None:
        """Cover-join candidates (segment x covering cell) and exact hits,
        counted through the public cell and join functions on this input."""
        from pyspark.sql import functions as F

        from osm_processing_pipeline_spark.datagen import world
        from osm_processing_pipeline_spark.functions import cells
        from osm_processing_pipeline_spark.operators import spatial_join

        s = world.segments(self.spark, self.sf_dir,
                           world.roads_materialized(self.spark, self.sf_dir))
        cand = s.select(F.explode(cells.segment_cover(
            F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")))).count()
        hits = spatial_join.segment_cell_pieces(s, world.grids(self.spark)).count()
        self.layers.update({"spatial_join.candidates": cand,
                            "spatial_join.hits": hits,
                            "spatial_join.keep_ratio": hits / cand if cand else 0.0})

    # ------------------------------------------------------------ driver
    def execute(self) -> None:
        import check
        import gen
        import probes

        self.setup()
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        with probes.ProcSampler(jvm_pid) as sampler:
            self.setup_s = probes.process_age_s()
            t_end = time.perf_counter() + self.seconds
            # a traced run times a second, warm pass to compare the traced
            # pass with (the first pass of an application is a cold one)
            while len(self.passes) < 1 + self.trace or time.perf_counter() < t_end:
                rec, outputs = self.timed_pass(len(self.passes) + 1, sampler)
                self.passes.append(rec)
        oracle = check.Oracle(self.sf_dir, gen.fingerprint(self.sf_dir),
                              os.path.join(STATE, "oracle-cache"))
        try:
            self.check_pass(outputs, oracle)
        finally:
            oracle.close()
        if self.trace:
            self.traced_pass(len(self.passes) + 1)
        app_id = self.spark.sparkContext.applicationId
        self.stop_spark()
        self.log = probes.EventLog(probes.find_event_log(
            os.path.join(self.work, "eventlog"), app_id))

    def stop_spark(self) -> None:
        """Stop the session, the py4j gateway and the JVM, and wait for it."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        """Task CPU is the executors' JVM task CPU (event log) plus the Python
        workers' CPU (``/proc``); driver CPU is the rest of the JVM's CPU plus
        the driver Python's."""
        jvm_task = [self.log.window(*p["window"])["cpu_s"] for p in self.passes]
        wall = median([p["wall"] for p in self.passes])
        return {
            "wall_s": wall,
            "docs_per_s": self.docs / wall if wall else 0.0,
            "task_cpu_s": median([t + p["worker_cpu"]
                                  for p, t in zip(self.passes, jvm_task)]),
            "driver_cpu_s": median([p["driver_cpu"] - t
                                    for p, t in zip(self.passes, jvm_task)]),
            "peak_rss_mb": max(p["rss"] for p in self.passes) / 2 ** 20,
            "setup_s": self.setup_s,
        }

    def per_layer(self) -> dict:
        m = {k: 0.0 for k in PER_LAYER}
        m.update(self.layers)
        plans = []
        for r in self.traced:
            q = r["label"]
            if q == "pieces":
                rs = sorted(r["range_s"])
                m.update({"checkpoint.range_s_p50": median(rs),
                          "checkpoint.range_s_max": max(rs, default=0.0),
                          "checkpoint.rows_written": r["rows_written"],
                          "checkpoint.manifest_bytes_written": r["manifest_bytes"],
                          "checkpoint.rerun_ratio": r["rerun_ratio"],
                          "resume_s": r["resume_s"]})
                continue
            build = self.log.window(*r["build_window"])
            run = self.log.window(r["build_window"][0], r["exec_window"][1])
            m[f"query.{q}.build_s"] = r["build_s"]
            m[f"query.{q}.exec_s"] = r["exec_s"]
            m[f"query.{q}.task_cpu_s"] = run["cpu_s"]
            m[f"query.{q}.rows_out"] = r["rows_out"]
            m["registry.build_s"] += r["build_s"]
            m["registry.eager_jobs"] += build["jobs"]
            for p in ("analysis", "optimization", "planning"):
                m[f"registry.{p}_ms"] += r["phases"][p]
            plans.append(r["plan"])
            m["shuffle.write_bytes"] += run["shuffle_write_bytes"]
            m["shuffle.spill_bytes"] += run["spill_bytes"]
        if plans:
            m["shuffle.skew_ratio"] = max(p["skew_ratio"] for p in plans)
            m["python.udf_s"] = sum(p["python_s"] for p in plans)
            m["python.bytes_sent"] = sum(p["python_bytes_sent"] for p in plans)
            top = max(plans, key=lambda p: p["top_op_s"])
            m["op.top1_s"] = top["top_op_s"]
            m["op.peak_mem_bytes"] = max(p["peak_mem_bytes"] for p in plans)
            self.top_op = f"{top['top_op']}.{top['top_metric']}"
        b = self.stream_batches
        m["stream.batches"] = len(b)
        m["stream.state_rows"] = max((sum(s.get("numRowsTotal", 0)
                                          for s in x.get("stateOperators", []))
                                      for x in b), default=0)
        m["stream.commit_ms"] = sum(s.get("commitTimeMs", 0) for x in b
                                    for s in x.get("stateOperators", []))
        m["stream.add_batch_ms"] = sum(x.get("durationMs", {}).get("addBatch", 0)
                                       for x in b)
        m["failed_frac"] = self.failed / self.attempted
        m["trace.overhead_s"] = self.traced_wall - self.passes[-1]["wall"]
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osm_processing_pipeline_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.environ.update(host_settings(run.work))
    try:
        run.execute()
    finally:
        if args.trace:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            trace_path = os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            run.tracer.dump(trace_path)
        shutil.rmtree(run.work, ignore_errors=True)

    metrics = run.per_layer() if args.trace else run.end_to_end()
    units = PER_LAYER if args.trace else END_TO_END
    walls = sorted(p["wall"] for p in run.passes)
    print(f"workload={args.workload} seed={args.seed} nproc="
          f"{os.environ['SPARK_GRAFT_CPUS']} driver_mem={os.environ['SPARK_DRIVER_MEM']} "
          f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())} docs={run.docs} "
          f"inputs={json.dumps(run.rows, sort_keys=True)}")
    print(f"passes={len(walls)} wall_s median={median(walls):.3f} max={walls[-1]:.3f} "
          f"(median is the highest percentile {len(walls)} samples support) "
          f"setup_s={run.setup_s:.2f} "
          f"check_s={run.check_s:.2f}")
    for p in run.passes:
        print(f"pass steal_s={p['steal_s']:.2f} worker_cpu_s={p['worker_cpu']:.2f} "
              + " ".join(f"{k}={v:.2f}" for k, v in p["ops"].items()))
    rss = " ".join(f"{p['rss'] / 2 ** 20:.0f}" for p in run.passes)
    print(f"isolation=fresh application per run; sink views dropped and gc "
          f"between passes; peak_rss_mb per pass={rss}")
    print(f"failed_frac={run.failed / run.attempted:.4f} "
          f"({run.failed}/{run.attempted})")
    for e in run.errors[:20]:
        print(f"FAILED {e[:300]}")
    if args.trace:
        print(f"trace: spans={len(run.tracer.spans)} written to {trace_path}; "
              f"hottest operator={getattr(run, 'top_op', None)}")
        for name, s in sorted(run.tracer.self_times().items(), key=lambda x: -x[1]):
            print(f"  self {name}: {s:.3f}s")
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
