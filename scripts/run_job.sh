#!/usr/bin/env bash
# Package the engine and run a query via spark-submit --py-files (the
# deployment shape the north rule requires).  Usage:
#   scripts/run_job.sh [--query qNN_name] [--sf-dir /root/testdata/sf0.01] ...
set -euo pipefail
cd "$(dirname "$0")/.."
ZIP=/tmp/osm_engine.zip
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w') as z:
    for root, _, files in os.walk('osm_processing_pipeline_spark'):
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
"
# session.get_spark's sizing rule: the process's CPU affinity (nproc, which
# would otherwise read OMP_NUM_THREADS) and at least 8 shuffle partitions
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
exec spark-submit \
  --master "local[$CPUS]" \
  --conf spark.sql.shuffle.partitions="$(( CPUS > 8 ? CPUS : 8 ))" \
  --conf spark.ui.enabled=false \
  --py-files "$ZIP" \
  osm_processing_pipeline_spark/job.py "$@"
