#!/usr/bin/env bash
# Package the engine for spark-submit --py-files (north_rule: "submitted
# via spark-submit --py-files on multi-executor clusters").
#
#   tools/package_pyfiles.sh [outdir]     # → outdir/s4spark.zip
#
# Cluster submit example (any master — YARN/K8s/standalone):
#
#   spark-submit \
#     --master spark://HOST:7077 \
#     --py-files dist/s4spark.zip \
#     --conf spark.sql.shuffle.partitions=2000 \
#     --conf spark.sql.adaptive.enabled=true \
#     tools/run_pipeline_demo.py -a "2023-06-01" -b "2023-06-02" --out s3://bucket/routed
#
# session.get_spark runs the Python workers under the package's
# worker_daemon module (the installed pyspark instead of $SPARK_HOME's
# source zip) only on local masters whose package directory is on the
# workers' path. A --py-files zip reaches a worker with its first task,
# after the daemon has started, so with this zip the workers run Spark's
# own daemon.
set -euo pipefail
cd "$(dirname "$0")/.."
OUT="${1:-dist}"
mkdir -p "$OUT"
rm -f "$OUT/s4spark.zip"
zip -qr "$OUT/s4spark.zip" super_speedy_syslog_searcher_spark -x '*__pycache__*'
echo "wrote $OUT/s4spark.zip"
unzip -l "$OUT/s4spark.zip" | tail -2
