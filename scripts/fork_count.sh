#!/usr/bin/env bash
# Count the chmod / readlink / stat / ls processes the engine forks while
# running registered queries, per warm rep.
#
# Hadoop's local filesystem forks these commands when the JVM has no
# native Hadoop library (Spark ships none): chmod per file create and
# mkdir, readlink per FileContext rename, ls -ld per permission read,
# stat when stat-based statuses are enabled. The engine's no-fork local
# filesystem (src/main/scala/graft/sources/LocalFs.scala) should leave
# every column at 0 once a query is warm.
#
# Usage: scripts/fork_count.sh <query[,query...]|all> [reps]
#   reps >= 2 (default 3); rep 1 is cold (fixture builds, first reads)
#   and reported on its own, reps 2.. are averaged as "per warm rep".
# Env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (as graft.tools.Profile),
#        SPARK_DRIVER_MEM (default 3g), SPARK_HOME (default: the Spark
#        jars directory build.sbt names), GRAFT_CLASSES (default
#        target/scala-2.13/classes; build with `sbt compile` first)
#
# It runs graft.tools.Profile in a child JVM whose PATH starts with a
# private directory of logging wrappers (each appends its command line
# to a log, then execs the real binary). The PATH change reaches only
# that child; the script writes nothing outside its temporary directory
# (the queries write what they always write).
set -euo pipefail

queries=${1:?usage: scripts/fork_count.sh <query[,query...]|all> [reps]}
reps=${2:-3}
if [ "$reps" -lt 2 ]; then echo "reps must be >= 2" >&2; exit 2; fi
repo=$(cd "$(dirname "$0")/.." && pwd)
classes=${GRAFT_CLASSES:-$repo/target/scala-2.13/classes}
if [ -n "${SPARK_HOME:-}" ]; then jars=$SPARK_HOME/jars
else jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$repo/build.sbt"); fi

tmp=$(mktemp -d)
trap 'rm -rf "$tmp"' EXIT
log=$tmp/forks.log
: > "$log"
mkdir "$tmp/bin"
for c in chmod readlink stat ls; do
  real=$(command -v "$c")
  printf '#!/bin/sh\necho "%s $*" >> "%s"\nexec "%s" "$@"\n' "$c" "$log" "$real" > "$tmp/bin/$c"
  /bin/chmod +x "$tmp/bin/$c"
done

opens=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch \
    sun.nio.cs sun.security.action sun.util.calendar; do
  opens="$opens --add-opens java.base/$p=ALL-UNNAMED"
done

# each "[profile] <q> rep <r>: ..." line closes that rep's segment of the log
# shellcheck disable=SC2086
(cd "$tmp" && PATH="$tmp/bin:$PATH" java $opens -Xmx"${SPARK_DRIVER_MEM:-3g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$classes:$repo/src/main/resources:$jars/*" graft.tools.Profile "$queries" "$reps" 2>"$tmp/stderr") |
  while IFS= read -r line; do
    case "$line" in
      "[profile] "*) echo "$line" >&2; echo "@@ ${line#\[profile\] }" >> "$log" ;;
    esac
  done || { tail -20 "$tmp/stderr" >&2; exit 1; }

awk -v reps="$reps" '
  $1 == "@@" {
    q = $2; r = $4; sub(":", "", r)
    if (!(q in seen)) { seen[q] = 1; order[++nq] = q }
    if ($0 ~ /failed/) failed[q] = 1
    for (c in pend) { n[q, r == 1 ? "cold" : "warm", c] += pend[c]; delete pend[c] }
    next
  }
  { pend[$1]++; if ($1 == "ls" && $2 == "-ld") lsld++ }
  END {
    printf "%-40s %27s   %27s\n", "", "cold rep 1", "per warm rep"
    printf "%-40s %6s %6s %6s %6s   %6s %6s %6s %6s\n", "query",
      "chmod", "rdlink", "stat", "ls", "chmod", "rdlink", "stat", "ls"
    split("chmod readlink stat ls", cs, " ")
    for (i = 1; i <= nq; i++) {
      q = order[i]
      line = sprintf("%-40s", q (q in failed ? " (failed)" : ""))
      for (j = 1; j <= 4; j++) line = line sprintf(" %6d", n[q, "cold", cs[j]])
      line = line "  "
      for (j = 1; j <= 4; j++) line = line sprintf(" %6.1f", n[q, "warm", cs[j]] / (reps - 1))
      print line
      for (j = 1; j <= 4; j++) { cold[cs[j]] += n[q, "cold", cs[j]]; warm[cs[j]] += n[q, "warm", cs[j]] }
    }
    line = sprintf("%-40s", "TOTAL (" nq " queries)")
    for (j = 1; j <= 4; j++) line = line sprintf(" %6d", cold[cs[j]])
    line = line "  "
    for (j = 1; j <= 4; j++) line = line sprintf(" %6.1f", warm[cs[j]] / (reps - 1))
    print line
    printf "ls -ld forks (permission reads), all reps: %d\n", lsld
  }' "$log"
