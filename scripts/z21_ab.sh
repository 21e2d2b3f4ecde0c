#!/bin/bash
# Interleaved z21_stream_funnel A/B at 32 cores: r14 HEAD (e994011) vs
# current HEAD (VERDICT r15 ask #1). Each leg is a FRESH JVM running
# graft.QueryTime on z21 three times (3 cold/warm pairs); per-leg
# hypervisor steal% is sampled from /proc/stat around the leg, the same
# instrument graft.Bench trusts. Output: CSV on stdout
#   arm,leg,pass,kind,seconds  plus  arm,leg,steal,steal,<steal_pct> and
#   arm,leg,exit,exit,<jvm_exit_code> rows.
# Usage: z21_ab.sh <cp_A> <cp_B> <legs_per_arm> [query] [sfdir]
set -u
CP_A="$1"; CP_B="$2"; LEGS="${3:-5}"
Q="${4:-z21_stream_funnel}"
SF="${5:-/root/testdata/sf0.1}"
CPUS="${SPARK_GRAFT_CPUS:-32}"

cpustat() { awk '/^cpu /{t=0; for(i=2;i<=9;i++) t+=$i; print t, $9; exit}' /proc/stat; }

runleg() { # arm cp leg
  local arm="$1" cp="$2" leg="$3"
  read -r t0 s0 <<< "$(cpustat)"
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" \
    java -Xmx8g -cp "$cp" graft.QueryTime "$SF" "$Q" "$Q" "$Q" 2>/dev/null \
    | perl -ne 'BEGIN{$a=shift;$l=shift;$n=0}
        if (/cold=\s*([0-9.]+)s\s+warm=\s*([0-9.]+)s/) { $n++;
          print "$a,$l,$n,cold,$1\n$a,$l,$n,warm,$2\n" }' "$arm" "$leg"
  local rc="${PIPESTATUS[0]}"
  read -r t1 s1 <<< "$(cpustat)"
  echo "$arm,$leg,exit,exit,$rc"
  echo "$arm,$leg,steal,steal,$(awk -v a="$t0" -v b="$t1" -v c="$s0" -v d="$s1" 'BEGIN{ if (b>a) printf "%.3f", (d-c)*100/(b-a); else print -1 }')"
}

echo "arm,leg,pass,kind,seconds"
for i in $(seq 1 "$LEGS"); do
  runleg A "$CP_A" "$i"
  runleg B "$CP_B" "$i"
done
