#!/usr/bin/env bash
# Run the KG pipeline via spark-submit (north rule: the job must run this
# way at N and 4N executors).  job.py finds the package from its own
# checkout and build_session ships it to the Python workers.
#
# Usage: bench/submit.sh <pages_parquet> <out_dir> <snapshot_id> [cores]
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
PAGES="$1"; OUT="$2"; SNAP="$3"; CORES="${4:-32}"

exec spark-submit \
  --master "local[$CORES]" \
  --conf spark.sql.shuffle.partitions="$CORES" \
  --conf spark.sql.session.timeZone=UTC \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.execution.arrow.maxRecordsPerBatch=256 \
  --conf spark.sql.parquet.columnarReaderBatchSize=512 \
  --conf spark.driver.memory=12g \
  "$REPO/ffp_spark/job.py" \
  --pages "$PAGES" --out "$OUT" --snapshot-id "$SNAP"
