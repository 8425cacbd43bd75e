#!/usr/bin/env bash
# Package the engine and run a job via spark-submit --py-files (north rule).
#
# Usage: tools/submit.sh [job.py] [spark-submit args...]
# Default job runs the flagship checkpointed pipeline.
set -euo pipefail
REPO="$(cd "$(dirname "$0")/.." && pwd)"
BUILD="$REPO/build"
mkdir -p "$BUILD"
ZIP="$BUILD/lidartree_spark.zip"
(cd "$REPO" && rm -f "$ZIP" && zip -qr "$ZIP" lidartree_spark -x '*__pycache__*')

JOB="${1:-$REPO/tools/job_flagship.py}"
shift || true
# Only the master and the zip are set here; the job's get_spark() supplies
# every other config (lidartree_spark/session.py).
exec spark-submit \
  --master "${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-32}]}" \
  --py-files "$ZIP" \
  "$JOB" "$@"
