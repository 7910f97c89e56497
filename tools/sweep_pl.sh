#!/bin/bash
# Power-law graph-family sweep (VERDICT r14 item 1 — the tool r14 built
# and never ran): dump q_pagerank / q_graph_triangles / q_graph_degree
# at each gendata/pl-sf* dir passed, DuckDB-compare each, append
# PASS/FAIL rows to sweeps/sweep_spot_sf30.jsonl.
#
# Comparator routing now lives in tools/compare.py (SLICED_ROUTE +
# route_sliced — VERDICT r15 item 4): compare.py probes the driver
# table's row count (parquet metadata only) and picks the staged/sliced
# oracle past the measured one-shot-viability threshold per query. This
# script just calls compare.py. The decade-specific COMPARE_HASH_ROWS
# special cases are gone too: compare.py now materializes a one-shot
# oracle exactly ONCE (temp table) for the cell-exact path, so the
# double-execution that forced the checksum route at sf30/sf100 no
# longer exists (ADVICE r15).
#
# A dump dir with all three query outputs is REUSED (resume after a
# comparator fix without re-running Spark). Run AFTER any bench — a
# spilling oracle can fill the disk under a concurrent Spark run.
#
# Usage: tools/sweep_pl.sh gendata/pl-sf3 gendata/pl-sf10 gendata/pl-sf30
set -u
cd /root/repo
# Deliberate guard-cap raise (r19): this sweep exists to run the graph
# projection at decades the default SPARK_GRAFT_COOC_PAIR_CAP (2e8)
# refuses; the box running it has budgeted the measured spill
# (pl-sf100 projection: ~60 GB transient).
export SPARK_GRAFT_COOC_PAIR_CAP=${SPARK_GRAFT_COOC_PAIR_CAP:-20000000000}
QS="q_pagerank q_graph_triangles q_graph_degree"
ART=sweeps/sweep_spot_sf30.jsonl
LOG=/tmp/sweep_pl.log
mkdir -p sweeps
for dir in "$@"; do
  name=$(basename "$dir")
  OUT=/tmp/vout_$name
  # ≥sf30: 256 shuffle partitions per the per-decade sizing (playbook /
  # Sessions scaladoc); smaller decades keep the auto heuristic.
  case $name in
    *sf100*) parts=256; budget=5400;;
    *sf30*)  parts=256; budget=5400;;
    *)       parts=;    budget=2700;;
  esac
  have_all=1
  for q in $QS; do [ -d "$OUT/$q" ] || have_all=0; done
  if [ $have_all = 1 ]; then
    echo "[pl $(date +%H:%M:%S)] reusing dump $OUT (refreshing oracle_sql.json)" | tee -a "$LOG"
    # the dump's oracle_sql.json may predate an oracle-SQL fix; the
    # Spark outputs stay valid (query bodies unchanged) but the SQL
    # must be current — regenerate without starting Spark
    sbt -batch "runMain graft.Verify $dir $OUT --sql-only" >> "$LOG" 2>&1
  else
    echo "[pl $(date +%H:%M:%S)] dumping $dir (parts=${parts:-auto})" | tee -a "$LOG"
    env SPARK_GRAFT_CPUS=16 ${parts:+SPARK_GRAFT_SHUFFLE_PARTS=$parts} \
      sbt -batch "runMain graft.Verify $dir $OUT $QS" >> "$LOG" 2>&1
    echo "[pl] dump rc=$?" | tee -a "$LOG"
  fi
  for q in $QS; do
    if [ ! -d "$OUT/$q" ]; then
      echo "{\"sf\":\"$dir\",\"query\":\"$q\",\"status\":\"no_dump\"}" >> "$ART"
      continue
    fi
    t0=$(date +%s)
    timeout "$budget" \
      python3 tools/compare.py "$dir" "$OUT" "$q" > /tmp/pl_one.log 2>&1
    rc=$?
    dt=$(( $(date +%s) - t0 ))
    if [ $rc = 124 ]; then st=oracle_timeout
    elif grep -q "^PASS $q" /tmp/pl_one.log; then st=pass
    elif grep -q "^FAIL $q" /tmp/pl_one.log; then st=fail
    else st=error; fi
    cmp=cell_exact
    grep -q "sliced oracle" /tmp/pl_one.log && cmp=sliced
    grep -q "hash comparator" /tmp/pl_one.log && cmp=hash
    rows=$(grep -oE "\(([0-9]+) rows" /tmp/pl_one.log | grep -oE "[0-9]+" | head -1)
    echo "{\"sf\":\"$dir\",\"query\":\"$q\",\"status\":\"$st\",\"sec\":$dt,\"rows\":${rows:-null},\"comparator\":\"$cmp\"}" >> "$ART"
    echo "[pl $(date +%H:%M:%S)] $name/$q: $st (${dt}s, $cmp)" | tee -a "$LOG"
    if [ $st = fail ] || [ $st = error ]; then tail -3 /tmp/pl_one.log | tee -a "$LOG"; fi
  done
done
echo "[pl] done" | tee -a "$LOG"
