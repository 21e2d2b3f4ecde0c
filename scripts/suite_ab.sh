#!/bin/bash
# Interleaved FULL-SUITE A/B between two builds (r16 end-of-round): legs
# alternate arm A (cp_A) and arm B (cp_B); each leg is a fresh JVM
# running graft.QueryTime over every contract query (cold+warm pairs),
# so box drift lands on both arms. Per-leg steal%% from /proc/stat.
# CSV: arm,leg,query,kind,seconds (+ steal rows, and one
# arm,leg,exit,exit,<code> row per leg: the JVM's exit status, so a leg
# that dies mid-suite shows as a nonzero code, not just fewer rows).
# Usage: suite_ab.sh <cp_A> <cp_B> <legs_per_arm> <sfdir>
set -u
CP_A="$1"; CP_B="$2"; LEGS="$3"; SF="$4"
CPUS="${SPARK_GRAFT_CPUS:-32}"
cpustat() { awk '/^cpu /{t=0; for(i=2;i<=9;i++) t+=$i; print t, $9; exit}' /proc/stat; }
runleg() { # arm cp leg
  local arm="$1" cp="$2" leg="$3"
  read -r t0 s0 <<< "$(cpustat)"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
    java -Xmx8g -cp "$cp" graft.QueryTime "$SF" 2>/dev/null \
    | perl -ne 'BEGIN{$a=shift;$l=shift}
        if (/\[qtime\] (\S+)\s+cold=\s*([0-9.]+)s\s+warm=\s*([0-9.]+)s/) {
          print "$a,$l,$1,cold,$2\n$a,$l,$1,warm,$3\n" }' "$arm" "$leg"
  local rc="${PIPESTATUS[0]}"
  read -r t1 s1 <<< "$(cpustat)"
  echo "$arm,$leg,exit,exit,$rc"
  echo "$arm,$leg,steal,steal,$(awk -v a="$t0" -v b="$t1" -v c="$s0" -v d="$s1" 'BEGIN{ if (b>a) printf "%.3f", (d-c)*100/(b-a); else print -1 }')"
}
echo "arm,leg,query,kind,seconds"
for i in $(seq 1 "$LEGS"); do
  runleg A "$CP_A" "$i"
  runleg B "$CP_B" "$i"
done
