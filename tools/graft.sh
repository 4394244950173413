#!/bin/bash
# tools/graft.sh <Main> [args…] — run graft.<Main> (Bench, Verify, Sql, Smoke)
# from the compiled classes with plain java. Build them first with
# `sbt compile Compile/copyResources` (the connector's service file is a resource).
#   tools/graft.sh Bench [bench|retime|explain|profile] [-g<groups>] [-n<reps>] [query…]
#   tools/graft.sh Verify <sfDir> <outDir> [query…]
#   tools/graft.sh Sql <sfDir> "<sql>[; <sql>…]" [maxRows]
# JVM flags come from tools/jvm.opts (shared with build.sbt). The heap is
# $SPARK_DRIVER_MEM, else MemTotal/2 clamped to 2-8 GB (the Tier-1 test
# policy), fixed and pre-touched so no timed run pays for heap growth.
set -e
cd "$(dirname "$0")/.."
[ $# -ge 1 ] || { echo "usage: tools/graft.sh <Main> [args...]" >&2; exit 2; }
main=$1; shift
mem=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
# the Spark distribution build.sbt compiles against (its unmanagedBase)
jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
exec java @tools/jvm.opts -Xms"$mem" -Xmx"$mem" -XX:+AlwaysPreTouch \
  -cp "$jars/*:target/scala-2.13/classes" "graft.$main" "$@"
