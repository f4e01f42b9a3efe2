"""Driver-parity oracle sweep: run every registered query AND its DuckDB
twin at sf0.01 (the driver's grading scale) and apply the same
rows+schema+value comparison the sf0.001 pytest gate uses.

Usage: python scripts/oracle_sweep.py [--sf-dir /root/testdata/sf0.01] [qNN ...]
"""
import argparse
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")

from osm_processing_pipeline_spark import registry  # noqa: E402
from osm_processing_pipeline_spark.session import get_spark, mem_total_mib  # noqa: E402
from tests.conftest import TABLES  # noqa: E402
from tests.util import assert_frames_exact  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    spark = get_spark()
    # the driver heap takes half the host (session._default_driver_mem), so
    # DuckDB gets a quarter instead of its default 80%
    duck = duckdb.connect(config={"memory_limit": f"{mem_total_mib() // 4}MiB"})
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')")

    names = args.queries or sorted(registry.ORACLES.keys())
    bad = []
    for name in names:
        t0 = time.time()
        try:
            sp = registry.QUERIES[name](spark, args.sf_dir).toPandas()
            du = duck.execute(registry.ORACLES[name]).df()
            assert len(sp) > 0, f"{name}: empty result"
            assert_frames_exact(sp, du, name)
            print(f"PASS {name}  rows={len(sp)}  {time.time()-t0:.1f}s",
                  flush=True)
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"FAIL {name}  {time.time()-t0:.1f}s\n{e}", flush=True)
            traceback.print_exc()
    print(f"\n{len(names) - len(bad)}/{len(names)} pass"
          + (f"  FAILING: {bad}" if bad else ""), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
