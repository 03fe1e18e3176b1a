#!/bin/bash
# Interleaved A/B of one query between two builds (old/new classfiles).
# Alternates old→new JVMs N times so host drift cancels; each JVM runs
# BenchOne with REPS reps. Prints every rep line, then per variant the
# min and the mean over all reps of all its JVMs, and new/old of each.
# Aborts (exit 1) if a JVM fails or a variant prints no rep line, so a
# crash can never pass as a missing sample.
#   scripts/ab_benchone.sh <query> [alternations=4] [reps=2] \
#       [old_classes=/tmp/repo_old/target/scala-2.13/classes] \
#       [new_classes=/root/repo/target/scala-2.13/classes]
set -euo pipefail
Q="$1"; N="${2:-4}"; REPS="${3:-2}"
OLD="${4:-/tmp/repo_old/target/scala-2.13/classes}"
NEW="${5:-/root/repo/target/scala-2.13/classes}"
RUN="$(dirname "$0")/run_main.sh"
SECS="$(mktemp)"
trap 'rm -f "$SECS"' EXIT
# alternate which variant runs FIRST each round: a fixed old->new order
# showed a systematic position bias (~5-10% against the second JVM of a
# pair — thermal/page-cache warmup), so odd rounds run old first and
# even rounds new first; means over all rounds cancel the bias.
for i in $(seq 1 "$N"); do
  if [ $((i % 2)) = 1 ]; then ORDER="old new"; else ORDER="new old"; fi
  for v in $ORDER; do
    [ "$v" = old ] && C="$OLD" || C="$NEW"
    if ! OUT="$(CLASSES_DIR="$C" "$RUN" graft.BenchOne "$Q" "$REPS" \
        2>/dev/null)"; then
      echo "ab_benchone: $v JVM failed in round $i" >&2
      exit 1
    fi
    if ! LINES="$(grep -E '^\[benchone\] .* rep [0-9]+: ' <<<"$OUT")"; then
      echo "ab_benchone: $v printed no benchone line in round $i" >&2
      exit 1
    fi
    sed "s/^/[$v $i] /" <<<"$LINES"
    sed -E "s/.* rep [0-9]+: ([0-9.]+) s.*/$v \1/" <<<"$LINES" >>"$SECS"
  done
done
awk '{ n[$1]++; s[$1] += $2; if (!($1 in m) || $2 < m[$1]) m[$1] = $2 }
  END {
    for (v in n) printf "[ab] %s: min %.2f s, mean %.2f s over %d reps\n",
      v, m[v], s[v] / n[v], n[v]
    printf "[ab] new/old: min %.3f, mean %.3f\n",
      m["new"] / m["old"], (s["new"] / n["new"]) / (s["old"] / n["old"])
  }' "$SECS"
