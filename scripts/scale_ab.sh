#!/bin/bash
# Interleaved 8-core vs 32-core per-query timing (VERDICT r15 ask #2):
# each leg is a fresh JVM running graft.QueryTime over the query list at
# one core count; legs alternate 32,8,32,8,... so box noise lands on
# both arms. Per-leg steal%% sampled from /proc/stat (the graft.Bench
# instrument). CSV to stdout: cpus,leg,query,kind,seconds + steal rows
# + one cpus,leg,exit,exit,<code> row per leg (the JVM's exit status).
# Usage: scale_ab.sh <cp> <legs_per_arm> <sfdir> <query...>
set -u
CP="$1"; LEGS="$2"; SF="$3"; shift 3
QS=("$@")

cpustat() { awk '/^cpu /{t=0; for(i=2;i<=9;i++) t+=$i; print t, $9; exit}' /proc/stat; }

runleg() { # cpus leg
  local cpus="$1" leg="$2"
  read -r t0 s0 <<< "$(cpustat)"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$cpus" \
    java -Xmx8g -cp "$CP" graft.QueryTime "$SF" "${QS[@]}" 2>/dev/null \
    | perl -ne 'BEGIN{$c=shift;$l=shift}
        if (/\[qtime\] (\S+)\s+cold=\s*([0-9.]+)s\s+warm=\s*([0-9.]+)s/) {
          print "$c,$l,$1,cold,$2\n$c,$l,$1,warm,$3\n" }' "$cpus" "$leg"
  local rc="${PIPESTATUS[0]}"
  read -r t1 s1 <<< "$(cpustat)"
  echo "$cpus,$leg,exit,exit,$rc"
  echo "$cpus,$leg,steal,steal,$(awk -v a="$t0" -v b="$t1" -v c="$s0" -v d="$s1" 'BEGIN{ if (b>a) printf "%.3f", (d-c)*100/(b-a); else print -1 }')"
}

echo "cpus,leg,query,kind,seconds"
for i in $(seq 1 "$LEGS"); do
  runleg 32 "$i"
  runleg 8 "$i"
done
