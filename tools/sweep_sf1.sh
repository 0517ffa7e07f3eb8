#!/bin/bash
# Chunked sf1 (100x gate scale) Spark sweep: N gates per FRESH JVM so one
# failure/OOM cannot cascade past its chunk (PLANS.md round-8 session 2 —
# a single 32-thread JVM OOMs mid-registry on 32 concurrent sf1-sized
# sort buffers). Gate list comes from the registry itself (ListGates), so
# the sweep cannot drift from SparkEntry. Per-chunk oracle_sql.json dumps
# are merged at the end (graft.Verify filters the json to the chunk).
#
# Usage: sweep_sf1.sh <sfDir> <outDir> [chunkSize]
set -u
SF_DIR="${1:-/root/repo/target/sf1}"
OUT_DIR="${2:-/root/repo/target/verify_sf1_r10}"
CHUNK="${3:-20}"
cd /root/repo
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
# The FULL JDK-17 module-opens set from build.sbt (JavaModuleOptions
# .defaultModuleOptions()) — a partial list fails LOUDLY but LATE: a
# missing sun.util.calendar open only surfaces when a gate decodes a
# DATE row on the driver (o11_backfill at sf1, round 10).
# Size the JVM to this machine: heap = half of MemTotal clamped to 2-8g
# (the tier-1 test rule), one Spark core per CPU.
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)"
CPUS="$(env -u OMP_NUM_THREADS nproc)"
JOPTS="-Xmx$HEAP"
for p in java.base/java.lang java.base/java.lang.invoke \
         java.base/java.lang.reflect java.base/java.io java.base/java.net \
         java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent \
         java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
         java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  JOPTS="$JOPTS --add-opens=$p=ALL-UNNAMED"
done
mkdir -p "$OUT_DIR"

# x2_sparse_cosine's sf1 dump is intentionally absent: unpruned-unigram
# pair mass is quadratic by definition (sum(df^2) ~2e10 at sf1 — declared
# in oracle_sf1.py ORACLE_LIMITS; x2_sparse_cosine_sh replays the same
# cosine over 4-shingles at sf1).
java $JOPTS -cp "$CP" graft.tools.ListGates 2>/dev/null \
  | awk '{print $1}' | grep -v '^x2_sparse_cosine$' \
  > "$OUT_DIR/gates.txt"
TOTAL=$(wc -l < "$OUT_DIR/gates.txt")
echo "[sweep] $TOTAL gates, chunk=$CHUNK, heap=$HEAP, cpus=$CPUS, sf=$SF_DIR -> $OUT_DIR"

# Clear ALL prior-run chunk state (review r10 second pass): leftover
# oracle_sql.chunk*.json would be merged even when this run's chunk died
# before writing its own, and stale chunk.* split files from a longer
# prior registry would be re-swept.
rm -f "$OUT_DIR"/oracle_sql.chunk*.json "$OUT_DIR"/chunk.*

i=0
split -l "$CHUNK" "$OUT_DIR/gates.txt" "$OUT_DIR/chunk."
for f in "$OUT_DIR"/chunk.*; do
  i=$((i+1))
  names=$(paste -sd, "$f")
  echo "[sweep] chunk $i: $names"
  # Remove the previous chunk's json first: a chunk whose JVM dies before
  # Verify writes it must NOT inherit the stale file as its own dump
  # (review r10 — the merge would silently drop the dead chunk's gates
  # from the replayed registry).
  rm -f "$OUT_DIR/oracle_sql.json"
  SPARK_GRAFT_CPUS="$CPUS" java $JOPTS -cp "$CP" graft.Verify \
    "$SF_DIR" "$OUT_DIR" "$names" 2>"$OUT_DIR/chunk$i.err" \
    || echo "[sweep] chunk $i exited nonzero"
  if [ -f "$OUT_DIR/oracle_sql.json" ]; then
    cp "$OUT_DIR/oracle_sql.json" "$OUT_DIR/oracle_sql.chunk$i.json"
  else
    echo "[sweep] chunk $i wrote no oracle_sql.json — gates NOT merged"
  fi
done

# Merge the per-chunk oracle jsons into the full registry json.
python3 - "$OUT_DIR" << 'EOF'
import json, glob, sys
out = sys.argv[1]
merged = {}
for p in sorted(glob.glob(f"{out}/oracle_sql.chunk*.json")):
    merged.update(json.load(open(p)))
json.dump(merged, open(f"{out}/oracle_sql.json", "w"))
print(f"[sweep] merged {len(merged)} oracle entries")
EOF
echo "[sweep] done: $(ls "$OUT_DIR" | grep -vc 'chunk\|gates\|oracle')/"$TOTAL" gate dumps"
