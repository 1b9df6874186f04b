#!/bin/bash
# One pass of a scale round: graft.Bench + graft.ScaleCheck at sf0.1 and at
# the ScaleGen x10 fixture (/tmp/graft-sf1, regenerated if absent), local[32].
# Logs go to /tmp/{bench,sc}_sf{01,1}_r<round>_<pass>.out; run two or more
# passes, then merge them with tools/scale_record.py <round> <protocol note>.
#
#   tools/scale_run.sh <round> <pass>
set -u
[ $# -eq 2 ] || { echo "usage: $0 <round> <pass>" >&2; exit 2; }
rnd=$1 pass=$2
cd "$(dirname "$0")/.."
if [ ! -d /tmp/graft-sf1 ]; then
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.ScaleGen" > "/tmp/scalegen_r$rnd.out" 2>&1
fi
for sf in 01 1; do
  dir=/root/testdata/sf0.1
  [ "$sf" = 1 ] && dir=/tmp/graft-sf1
  SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_CPUS=32 \
    sbt -batch "runMain graft.Bench" > "/tmp/bench_sf${sf}_r${rnd}_$pass.out" 2>&1
  SPARK_GRAFT_SF_DIR=$dir SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
    sbt -batch "runMain graft.ScaleCheck $dir" > "/tmp/sc_sf${sf}_r${rnd}_$pass.out" 2>&1
done
