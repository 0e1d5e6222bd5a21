#!/usr/bin/env bash
# The counts ROADMAP asks every change to report, against <base> (the
# parent commit): net main-Scala lines, the spark.graft.* session-conf
# keys the library reads or sets, the gcol part-file writer sites, the
# lines of the sources package that mention a lineage, the
# `synchronized` and `Files.createLink` sites in LogSource.scala, and
# the `localCheckpoint()` sites in src/main (ROADMAP item 12).
# Stage new files first (`git add -A`): untracked files are left out of
# the line count.
#
#   tools/pr_counts.sh <base>
set -euo pipefail
base="${1:?usage: tools/pr_counts.sh <base-commit>}"
cd "$(git rev-parse --show-toplevel)"
log=src/main/scala/graft/sources/LogSource.scala
git diff --numstat "$base" -- src/main/scala |
  awk '{a += $1; d += $2}
       END {printf "main-scala lines: +%d -%d net %d\n", a, d, a - d}'
echo "spark.graft.* keys: $(grep -rhoE '"spark\.graft\.[A-Za-z.]+"' src/main |
  sort -u | wc -l)"
echo "new GraftColFile.Writer( sites: $(grep -rn 'new GraftColFile.Writer(' \
  src/main | wc -l)"
echo "lineage lines in graft/sources: $(grep -rni lineage \
  src/main/scala/graft/sources | wc -l)"
echo "synchronized in LogSource.scala: $(grep -c synchronized "$log" || true)"
echo "Files.createLink in LogSource.scala: $(grep -c 'Files.createLink' \
  "$log" || true)"
echo "localCheckpoint() in src/main: $(grep -rhoE 'localCheckpoint\(' \
  src/main | wc -l)"
