"""spark-submit entry point.

    spark-submit --py-files engine.zip osm_processing_pipeline_spark/job.py \
        --query q01_road_grid_classification --sf-dir /root/testdata/sf0.01 \
        [--out /path/parquet] [--checkpointed --out-dir /ckpt --ranges 32]

Runs a registered query (or q38's pieces stage with per-range
checkpointing) on the cluster the session provides.  The
package is pure-Python + Arrow, so --py-files of the zipped package is the
complete deployment unit (the reference's single-machine runner scripts,
scripts/dev-runs/*, become this one parameterized job).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default="q01_road_grid_classification")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None, help="write result parquet here")
    ap.add_argument("--checkpointed", action="store_true",
                    help="run q38's pieces stage with per-range checkpoints")
    ap.add_argument("--out-dir", default="/tmp/osm_engine_ckpt")
    ap.add_argument("--ranges", type=int, default=32)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from osm_processing_pipeline_spark import registry
    from osm_processing_pipeline_spark.session import apply_runtime_confs

    spark = SparkSession.builder.appName(f"osm-engine:{args.query}").getOrCreate()
    apply_runtime_confs(spark)

    if args.checkpointed:
        from osm_processing_pipeline_spark.queries.roads import run_pieces_stage

        res, _ = run_pieces_stage(spark, args.sf_dir, args.out_dir, args.ranges)
        print(f"checkpointed stage: computed={len(res['computed'])} "
              f"skipped={len(res['skipped'])} rows={res['rows']}", file=sys.stderr)
        return 0

    if args.query not in registry.QUERIES:
        print(f"unknown query {args.query!r}; available: "
              f"{', '.join(sorted(registry.QUERIES))}", file=sys.stderr)
        return 2
    # .count() would let Catalyst prune every column's work, so materialize
    # through a real sink and count rows on that same execution
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("rows")
    t0 = time.time()
    df = registry.QUERIES[args.query](spark, args.sf_dir) \
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
    else:
        df.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    print(f"{args.query}: rows={obs.get['rows']} wall={wall:.2f}s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
