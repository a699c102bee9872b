#!/usr/bin/env bash
# Pre-snapshot gate: run before ANY end-of-round snapshot/commit of a
# round's final state. A snapshot that does not compile zeroes the whole
# round's certification (CORRECTNESS empty, BENCH rc:1 — exactly what
# round 15 did), so this script refuses in under a minute instead.
#
#   tools/pre_snapshot.sh            # compile + test-compile + perfbench
#                                    # harness compile + smoke gate +
#                                    # two short checked serve_point runs
#                                    # (plain, and traced: 1 job/request,
#                                    # 0 jobs/resolve)
#   SMOKE_SF=/root/testdata/sf0.01 tools/pre_snapshot.sh   # bigger smoke
set -euo pipefail
cd "$(dirname "$0")/.."

SMOKE_SF="${SMOKE_SF:-/root/testdata/sf0.001}"
# The default list builds every Fixture.once fixture in EntryHelpers at
# least once (a fixture's expected-version `require` only runs on build),
# and reaches every predicate-scoped tx rewrite (TxTable.partitionFiles:
# OPTIMIZE and ZORDER, scoped or not, DELETE, UPDATE, MERGE, replaceWhere)
# and the row-level rebase (ops_concurrent, ops_concurrent_rowlevel),
# and every caller of the co-activity edge builder (the graph_* four, at
# one shard and, in graph_triangles_sharded, at four).
SMOKE_QUERIES="${SMOKE_QUERIES:-filter_eq,count_all,nl_default,sink_txlog_sql,ops_delete_sql,ops_update_sql,ops_merge_sql,merge_upsert,ops_delete_mor,ops_update_mor,ops_txchanges,count_tx_footer,ops_widen_sql,join_dpp,join_dfp,join_spj,count_tx_partcol,ops_dynoverwrite,ops_replacewhere,join_spj_bucket,scan_days_prune,ops_concurrent_rowlevel,stream_txcdf_cdc,ops_merge_evolve_part,ops_partitions_meta,sim_recall,scan_hours_prune,ops_txlog_meta,ops_zorder_part,stream_txcdf_files,ops_optimize_sql,ops_rename_sql,ops_tags,ops_merge_evolve,ops_merge_mor,ops_zorder_sql,sink_txcheck,ops_constraint_sql,ops_evolve_sql,scan_ts_prune,ops_purge_dv,sim_ivf,sim_ivf_append,sim_ivfpq_append,stream_dirtail,ops_optimize,ops_compact_where,ops_zorder_rewrite,ops_zorder3,ops_concurrent,graph_triangles,graph_triangles_sharded,graph_clustering,graph_kcore}"
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

# every served answer comes from Catalog + Executor.exec; the benchmark's
# serve workload checks each response against DuckDB end to end
echo "== pre_snapshot: perfbench serve_point (seed 1, 5 s) =="
SERVE_LAST=$(python3 perfbench/run.py --workload serve_point --seed 1 --seconds 5 | tail -n 1)
if ! python3 -c 'import json, sys; sys.exit(0 if json.loads(sys.argv[1]).get("correct") is True else 1)' "$SERVE_LAST"; then
  echo "pre_snapshot: perfbench serve_point answered incorrectly: ${SERVE_LAST:0:400}" >&2
  exit 1
fi

# the traced run attributes Spark jobs to requests: a served filtered
# request is one scan, so the median request runs exactly one job; and a
# resolve of an unchanged collection reads through its cached schema, so
# it runs none (a schema cache that never hits re-infers, one job per
# request, while every answer stays correct)
echo "== pre_snapshot: perfbench serve_point traced (seed 1, 5 s) =="
TRACE_LAST=$(python3 perfbench/run.py --workload serve_point --seed 1 --seconds 5 --trace 1 | tail -n 1)
if ! python3 -c 'import json, sys; r = json.loads(sys.argv[1]); m = r["metrics"]; sys.exit(0 if r.get("correct") is True and m["spark.jobs_per_request"]["value"] == 1 and m["catalog.jobs_per_resolve"]["value"] == 0 else 1)' "$TRACE_LAST"; then
  echo "pre_snapshot: traced serve_point is not correct, not one job per request or not zero jobs per resolve: ${TRACE_LAST:0:400}" >&2
  exit 1
fi

echo "== pre_snapshot: OK — safe to snapshot =="
