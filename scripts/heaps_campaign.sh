#!/bin/bash
# Heaps-law scale campaign (VERDICT r5 ask #2): run the dedup/text
# heavy family at 1x/10x/100x on corpora whose VOCABULARY grows with
# size (gen_scale.py heaps mode: V = 22*sqrt(N), Zipf s=1.07) --
# the realistic-text counterpoint to the round-5 fixed-vocab run,
# proving near-linear growth for the inverted-index operators.
#
# Usage: bash scripts/heaps_campaign.sh [queries] [scales]
#   (defaults: the heavy family; "1x 10x 100x" from /tmp/heaps_<s>)
# Regime matches the round-5 scale run: 8 cpus, persist pin, 3 reps
# (steady state = min of reps 2+). Runs plain `java` against the
# sbt-compiled classes -- compile first (sbt compile).
# pipefail: the java | grep pipeline's status is grep's (0 as soon as
# one PROFILE line matched), so a JVM death mid-suite — the round-11
# rerun lost a 1000x section to a silent kill on d02 — reported
# nothing and the cleanup below erased the stderr evidence; with
# pipefail the section FAILS and its stderr tail survives in the log.
set -euo pipefail
cd "$(dirname "$0")/.."
Q="${1:-d01_exact_dedup,d02_ngram_jaccard,d03_minhash_lsh,d04_simhash,d05_fingerprint_groups,d06_embedding_neardup,d07_components,d08_cross_source_dups,d09_lsh_quality,s06_decontamination,t10_unigram_surprisal}"
SCALES="${2:-1x 10x 100x}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for s in $SCALES; do
  echo "=== heaps_$s ==="
  # per-section scratch dir for Spark's shuffle/spill files, removed
  # after the section: the round-11 campaign died at the 1000x tier
  # on ENOSPC after a prior (killed) JVM left 56 GB of blockmgr spill
  # in /tmp, and the old `|| true` swallowed the death entirely --
  # the section now reports its exit code and never leaks spill.
  RUNTMP="$(mktemp -d /tmp/graft-campaign-$s.XXXXXX)"
  rc=0
  SPARK_GRAFT_SF_DIR=/tmp/heaps_$s \
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-8}" \
  SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-3}" \
  java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
    -Djava.io.tmpdir="$RUNTMP" \
    -Xmx"${SPARK_DRIVER_MEM:-48g}" \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.BenchProfile "$Q" 2>"$RUNTMP/stderr.log" \
    | stdbuf -oL grep -E '^(PROFILE|COUNTS) ' || rc=$?
  if [ "$rc" -ne 0 ]; then
    echo "=== heaps_$s FAILED rc=$rc ==="
    tail -30 "$RUNTMP/stderr.log" | sed 's/^/    /' || true
    # keep the full stderr for the post-mortem; spill dirs still go
    cp "$RUNTMP/stderr.log" "/tmp/graft-campaign-$s-stderr.log" || true
  fi
  rm -rf "$RUNTMP"
done
