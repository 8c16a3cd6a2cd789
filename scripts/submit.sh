#!/usr/bin/env bash
# Cluster submission (north rule: spark-submit --py-files on a
# multi-executor cluster at N and 4N executors).
#
# Usage:
#   scripts/submit.sh <master-url> <num-executors> <job-script> [args...]
# e.g.
#   scripts/submit.sh spark://head:7077 250  jobs/run_correction.py ...
#   scripts/submit.sh spark://head:7077 1000 jobs/run_correction.py ...
#
# The package ships as a zip via --py-files; no cluster-side install.
# The session conf (AQE, Arrow, the worker daemon) comes from the job
# itself (memo_fraktur_ocr_code_spark/session.py SESSION_CONF).
set -euo pipefail

MASTER="$1"; shift
NUM_EXECUTORS="$1"; shift
JOB="$1"; shift

REPO_DIR="$(cd "$(dirname "$0")/.." && pwd)"
PKG_ZIP="$(mktemp -d)/memo_fraktur_ocr_code_spark.zip"
(cd "$REPO_DIR" && zip -qr "$PKG_ZIP" memo_fraktur_ocr_code_spark)

exec spark-submit \
  --master "$MASTER" \
  --deploy-mode client \
  --num-executors "$NUM_EXECUTORS" \
  --executor-cores 4 \
  --executor-memory 16g \
  --conf spark.sql.shuffle.partitions=$((NUM_EXECUTORS * 8)) \
  --py-files "$PKG_ZIP" \
  "$JOB" "$@"
