#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round snapshot/commit of a
# round's final state. A snapshot that does not compile zeroes the whole
# round's certification (CORRECTNESS empty, BENCH rc:1 — exactly what
# round 15 did), so this script refuses in under a minute instead.
#
#   tools/pre_snapshot.sh            # compile + test-compile + perfbench
#                                    # harness compile + smoke gate
#   SMOKE_SF=/root/testdata/sf0.01 tools/pre_snapshot.sh   # bigger smoke
set -euo pipefail
cd "$(dirname "$0")/.."

SMOKE_SF="${SMOKE_SF:-/root/testdata/sf0.001}"
# The default list builds every Fixture.once fixture in EntryHelpers at
# least once (a fixture's expected-version `require` only runs on build).
SMOKE_QUERIES="${SMOKE_QUERIES:-filter_eq,count_all,nl_default,sink_txlog_sql,ops_delete_sql,ops_update_sql,ops_merge_sql,merge_upsert,ops_delete_mor,ops_update_mor,ops_txchanges,count_tx_footer,ops_widen_sql,join_dpp,join_dfp,join_spj,count_tx_partcol,ops_dynoverwrite,ops_replacewhere,join_spj_bucket,scan_days_prune,ops_concurrent_rowlevel,stream_txcdf_cdc,ops_merge_evolve_part,ops_partitions_meta,sim_recall,scan_hours_prune,ops_txlog_meta,ops_zorder_part,stream_txcdf_files,ops_optimize_sql,ops_rename_sql,ops_tags,ops_merge_evolve,ops_merge_mor,ops_zorder_sql,sink_txcheck,ops_constraint_sql,ops_evolve_sql,scan_ts_prune,ops_purge_dv,sim_ivf,sim_ivf_append,sim_ivfpq_append,stream_dirtail}"
OUT=$(mktemp -d /tmp/pre_snapshot.XXXXXX)
trap 'rm -rf "$OUT"' EXIT

echo "== pre_snapshot: compile (main + test) =="
sbt -batch "Test / compile"

# perfbench/Harness.scala drives the service API; compile it against
# src/main the way the benchmark does, so an API break fails here first
echo "== pre_snapshot: compile the perfbench harness =="
python3 -c 'import sys; sys.path.insert(0, "perfbench"); import build; build.build(".")'

echo "== pre_snapshot: smoke Verify ($SMOKE_QUERIES @ $SMOKE_SF) =="
SPARK_GRAFT_CPUS=8 SPARK_GRAFT_ONLY="$SMOKE_QUERIES" \
  sbt -batch "runMain graft.Verify $SMOKE_SF $OUT"

echo "== pre_snapshot: oracle compare =="
python3 tools/check_oracle.py "$SMOKE_SF" "$OUT"

echo "== pre_snapshot: OK — safe to snapshot =="
