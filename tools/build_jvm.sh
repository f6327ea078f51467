#!/usr/bin/env bash
# Build hydra_spark/jvm/hydra-localfs.jar: the fork-free file:// filesystem
# that session.ENGINE_CONF installs (see hydra_spark/session.py). The jar
# is committed, so a fresh checkout needs no JDK; rerun this after editing
# hydra_spark/jvm/src. Usage:
#   tools/build_jvm.sh [out.jar]        (default: hydra_spark/jvm/hydra-localfs.jar)
# Compiles with `javac --release 17` against the Hadoop client API jar of
# the installed Spark ($SPARK_HOME/jars, else the pyspark package's jars).
set -euo pipefail
cd "$(dirname "$0")/.."

OUT="$(realpath -m "${1:-hydra_spark/jvm/hydra-localfs.jar}")"
JARS="${SPARK_HOME:+$SPARK_HOME/jars}"
if [ -z "$JARS" ] || [ ! -d "$JARS" ]; then
  JARS="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
fi
HADOOP_API="$(ls "$JARS"/hadoop-client-api-*.jar | head -n 1)"

CLASSES="$(mktemp -d)"
trap 'rm -rf "$CLASSES"' EXIT
javac --release 17 -nowarn -cp "$HADOOP_API" -d "$CLASSES" \
  $(find hydra_spark/jvm/src -name '*.java' | sort)
# fixed entry order and timestamps: the same sources give the same jar
(cd "$CLASSES" && jar --create --file "$OUT" --no-manifest --date=2000-01-01T00:00:00Z \
  $(find . -name '*.class' | sort))
echo "$OUT"
