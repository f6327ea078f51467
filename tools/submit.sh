#!/usr/bin/env bash
# Package the engine and run it via spark-submit --py-files — the
# north-rule submission mode. Usage:
#   tools/submit.sh <master> <audio_dir> <transcripts_dir> <out_root> [extra runner args...]
# e.g.
#   tools/submit.sh local[4] <ds>/audio <ds>/transcripts /tmp/run4 --bounded
# where <ds> is a perfbench/gen.py dataset (arrival-ordered slice files),
# e.g. .data/perfbench/inputs/backlog_drain-n4000-s1 after a perfbench run.
# On a real cluster, swap the master for yarn/k8s; nothing else changes.
# Only deployment settings live here: the engine settings come from
# hydra_spark/session.py, which runner.main applies.
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="$1"; AUDIO="$2"; TRS="$3"; OUT="$4"; shift 4

# a private package per run: concurrent runs never share one zip
PKG_DIR="$(mktemp -d)"
trap 'rm -rf "$PKG_DIR"' EXIT
ZIP="$PKG_DIR/hydra_spark.zip"
zip -qr "$ZIP" hydra_spark -x '*__pycache__*'

# the fork-free file:// filesystem that session.ENGINE_CONF names: the
# driver JVM is already running when runner.main builds its session, so
# its class path comes from here (--jars ships it to cluster executors)
LOCALFS_JAR=hydra_spark/jvm/hydra-localfs.jar

# allocator tunables for the Python decode workers (see
# hydra_spark/session.py:_set_allocator_env) — exported for local mode,
# spark.executorEnv.* for cluster executors; both must exist before the
# JVM starts
export MALLOC_MMAP_THRESHOLD_=1073741824 MALLOC_TRIM_THRESHOLD_=1073741824
export MALLOC_TOP_PAD_=67108864 MALLOC_ARENA_MAX=2

spark-submit \
  --master "$MASTER" \
  --conf spark.executorEnv.MALLOC_MMAP_THRESHOLD_=1073741824 \
  --conf spark.executorEnv.MALLOC_TRIM_THRESHOLD_=1073741824 \
  --conf spark.executorEnv.MALLOC_TOP_PAD_=67108864 \
  --conf spark.executorEnv.MALLOC_ARENA_MAX=2 \
  --py-files "$ZIP" \
  --driver-class-path "$LOCALFS_JAR" \
  --jars "$LOCALFS_JAR" \
  --conf spark.driver.memory=32g \
  hydra_spark/runner.py \
  --audio "$AUDIO" --transcripts "$TRS" --out "$OUT" "$@"
