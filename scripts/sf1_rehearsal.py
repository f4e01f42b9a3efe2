"""Run graded queries at the sf1 rehearsal scale (/tmp/sf1, 6M roads) and
report wall time plus total/peak shuffle volume — the 100x design-evidence
harness behind BENCH.md's "sf1 scale rehearsal" section.

Usage: python scripts/sf1_rehearsal.py q58_persona_v1_simplified [qNN ...]
       [--sf-dir /tmp/sf1] [--repeat 2]
"""
import argparse
import os
import sys
import time

sys.path.insert(0, ".")

from osm_processing_pipeline_spark import registry  # noqa: E402
from osm_processing_pipeline_spark.datagen import world  # noqa: E402
from osm_processing_pipeline_spark.session import get_spark  # noqa: E402


def stage_shuffle_writes(spark) -> dict[tuple[int, int], int]:
    """{(stage_id, attempt_id): shuffle_write_bytes} for every stage the
    SparkContext's status store holds — the counters the UI's stage page
    shows, read without the UI or its REST API."""
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().stageList(
            None, False, False, no_quantiles, None))
    return {(s.stageId(), s.attemptId()): s.shuffleWriteBytes()
            for s in stages}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("sf1-rehearsal", shuffle_partitions=64)
    t0 = time.time()
    n = world.roads_materialized(spark, args.sf_dir).count()
    print(f"world materialized: {n} roads in {time.time()-t0:.1f}s",
          flush=True)

    for name in args.queries:
        for i in range(args.repeat):
            before = stage_shuffle_writes(spark)
            t0 = time.time()
            df = registry.QUERIES[name](spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            # this run's own stages: those the store did not hold before
            own = [w for k, w in stage_shuffle_writes(spark).items()
                   if k not in before]
            la = os.getloadavg()
            print(f"{name} run{i}: wall={wall:.1f}s rows_schema={len(df.columns)}c "
                  f"shuffle_delta={sum(own)/2**20:.1f}MiB "
                  f"peak_stage={max(own, default=0)/2**20:.1f}MiB "
                  f"loadavg={la[0]:.1f}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
