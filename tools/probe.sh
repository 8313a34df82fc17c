#!/usr/bin/env bash
# Scale-probe runner: one fresh JVM per invocation, full logs kept.
#
#   tools/probe.sh <sf_dir> <query[,query...]> [log_file]
#
# Runs graft.Bench through runmain.sh (the build.sbt fork settings), so a
# probe JVM is the bench JVM; timing comes from Bench itself (single pass
# unless SPARK_GRAFT_BENCH_PASSES is exported). stdout (the JSON line)
# passes through; stderr goes to the log file so a task-failure reason is
# never lost (the round-11 1-in-5 transient was unattributable because a
# filter swallowed it).
set -u
SF_DIR="$1"; ONLY="$2"; LOG="${3:-/tmp/probe_$(date +%s).log}"
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_BENCH_ONLY="$ONLY" \
SPARK_GRAFT_BENCH_PASSES="${SPARK_GRAFT_BENCH_PASSES:-1}" \
  "$(dirname "$0")/runmain.sh" graft.Bench 2>"$LOG"
rc=$?
echo "rc=$rc log=$LOG" >&2
exit $rc
