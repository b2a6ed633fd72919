#!/bin/sh
# Masks what differs between two runs of the same plans: application ids
# and per-run table directories, random file names, expression, plan and
# RDD ids, source call sites, lambda and hash names, statistics and
# timestamps. Usage: mask.sh plans.txt > masked.txt
sed -E 's/local-[0-9]+/APP/g; s/APP[_\/][0-9]+/APP-RUN/g;
  s/[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}/UUID/g;
  s/[0-9a-f]{32}/UUID/g;
  s/#[0-9]+L?/#N/g; s/\[plan_id=[0-9]+\]/[plan_id=N]/g;
  s/(RDD|rdd)[ _]?\[?[0-9]+\]?/RDD[N]/g; s/ at [A-Za-z]+\.scala:[0-9]+/ at X.scala:N/g;
  s/\$\$Lambda[^ ,)]*/LAMBDA/g; s/@[0-9a-f]{6,}/@H/g;
  s/Statistics\(sizeInBytes=[^)]*\)/Stats/g; s/[0-9]{13}/TS/g; s/id=[0-9]+/id=N/g' "$@"
