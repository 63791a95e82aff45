#!/usr/bin/env bash
# End-of-round preflight gate — run BEFORE the snapshot commit.
#
# Refuses (non-zero exit) unless ALL of:
#   1. tiers in one place   — no "_SUCCESS" or "_BUILT" string literal,
#                             and no target/intermediate, FormatVersion,
#                             Tiers.park( or Tiers.parquet(, in
#                             src/main/scala outside ops/Tiers.scala: the
#                             park-once decision and every tier key come
#                             from one Tier declaration per family
#   2. session setup        — no SparkSession.builder in src/main/scala
#                             outside Session.scala, and no local[<n>]
#                             literal anywhere in it: every entry point
#                             takes its session from Session.local
#   3. stream lifecycle     — no partitionOverwriteMode,
#                             sortWithinPartitions( or
#                             withColumn("ingest_epoch" in src/main/scala
#                             outside chain/ChainStore.scala, and no
#                             foreachBatch, processAllAvailable() or
#                             Trigger.AvailableNow() outside
#                             streaming/Streams.scala: run-once streams go
#                             through Streams.runOnce, micro-batch sinks
#                             through Streams.sink, partitioned
#                             overwrites through
#                             ChainStore.overwritePartitions, bucketed
#                             files through ChainStore.clustered and
#                             epoch landings through ChainStore.landEpoch
#   4. loop lifecycle       — no Materialize.release( or
#                             truncateBeforeAction in src/main/scala
#                             outside operators/{Fixpoint,Materialize,
#                             PrefixCarry}.scala: iterative loops truncate
#                             and release through operators.Fixpoint
#   5. store I/O in one place — no org.apache.hadoop.fs or
#                             getFileSystem( in src/main/scala outside
#                             chain/ChainStore.scala: store probes, marker
#                             files and absent-or-empty reads go through
#                             ChainStore's file-system surface. One
#                             exception: operators/Materialize.scala
#                             deletes an RDD's checkpoint files, where it
#                             holds the RDD but no SparkSession
#   6. immutable inputs read in one place — no read.parquet( of a
#                             fixture-shaped path (…/<table>.parquet") in
#                             src/main/scala outside chain/, and no
#                             read.parquet( in ops/ outside
#                             ops/Tiers.scala: fixture tables read through
#                             Chain.table and parked tiers through
#                             Tier.read, both with ChainStore.parquet's
#                             remembered schema
#   7. oracle CTEs in one place — each shared oracle CTE listed below
#                             (the cosine re-rank pair cdots/ccos, the CDC
#                             base b, ...) is defined exactly once in
#                             src/main/scala, found by a text unique to
#                             its definition: oracles compose the named
#                             CTE with ChainSql.withCtes, never a pasted
#                             copy
#   8. work accounting in one place — no extends SparkListener, new
#                             SparkListener or addSparkListener in
#                             src/main/scala outside WorkMeter.scala (and
#                             the listener-bus bridge it registers through):
#                             jobs, stages and their metrics are counted by
#                             the one listener, graft.WorkMeter
#   9. sbt compile          — the tree compiles (r12 shipped a tree that
#                             didn't; this script exists so that cannot
#                             recur)
#  10. sbt test             — full ScalaTest suite green
#  11. graft.Verify sf0.01  — every SparkEntry query dumps its parquet
#  12. tools/check.py       — DuckDB oracle compare: rows + schema +
#                             driver-emulated canonical hash per query,
#                             plus the oracle cost budget (10 s/query,
#                             180 s/suite)
#
# Usage: tools/preflight.sh [--quick]
#   --quick skips sbt test (stages 1-9,11,12 only) for mid-round iteration;
#   the snapshot commit requires the FULL run.
set -uo pipefail
cd "$(dirname "$0")/.."

QUICK=0
[[ "${1:-}" == "--quick" ]] && QUICK=1

SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT=target/verify_out

fail() { echo "PREFLIGHT: FAIL at stage $1 — do NOT commit the snapshot"; exit 1; }

echo "PREFLIGHT stage 1/12: tiers in one place (ops/Tiers.scala)"
if grep -rnE '"[^"]*(_SUCCESS|_BUILT)[^"]*"|target/intermediate|FormatVersion|Tiers\.(park|parquet)\(' \
    src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/ops/Tiers.scala:'
then
  fail tiers
fi

echo "PREFLIGHT stage 2/12: session setup only in Session.scala"
if grep -rn 'SparkSession\.builder' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Session.scala:' ||
   grep -rnE 'local\[[0-9]+\]' src/main/scala --include='*.scala'
then
  fail session
fi

echo "PREFLIGHT stage 3/12: stream runner, micro-batch sink, partition overwrite, bucket layout and epoch landing in one place each"
if grep -rnE 'partitionOverwriteMode|sortWithinPartitions\(|withColumn\("ingest_epoch"' \
    src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/chain/ChainStore.scala:' ||
   grep -rnE 'foreachBatch|processAllAvailable\(\)|Trigger\.AvailableNow\(\)' \
    src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/streaming/Streams.scala:'
then
  fail streams
fi

echo "PREFLIGHT stage 4/12: loop lifecycle in one place (operators/Fixpoint.scala)"
if grep -rnE 'Materialize\.release\(|truncateBeforeAction' src/main/scala \
    --include='*.scala' \
    | grep -vE '^src/main/scala/graft/operators/(Fixpoint|Materialize|PrefixCarry)\.scala:'
then
  fail loops
fi

echo "PREFLIGHT stage 5/12: store I/O in one place (chain/ChainStore.scala)"
# operators/Materialize.scala is allowed: releasing a checkpoint deletes
# the RDD's checkpoint files, and it holds the RDD but no SparkSession
if grep -rnE 'org\.apache\.hadoop\.fs|getFileSystem\(' src/main/scala \
    --include='*.scala' \
    | grep -vE '^src/main/scala/graft/(chain/ChainStore|operators/Materialize)\.scala:'
then
  fail store-io
fi

echo "PREFLIGHT stage 6/12: immutable inputs read in one place (chain/ChainStore.scala)"
# fixture tables read through Chain.table, parked tiers through Tier.read
if grep -rnE 'read\.parquet\([^)]*\.parquet"' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/chain/' ||
   grep -rn 'read\.parquet(' src/main/scala/graft/ops --include='*.scala' \
    | grep -v '^src/main/scala/graft/ops/Tiers.scala:'
then
  fail immutable-reads
fi

echo "PREFLIGHT stage 7/12: oracle CTEs in one place"
# "<CTE> (<where it is named>)|<a line of its definition>", the line
# compared without indentation or stripMargin bar: one match is the named
# definition, a second is a pasted copy, none means the entry went stale
ORACLE_CTES=(
  "cdots (SimilarityQueries.dotsCte)|SELECT c.query_id, c.neighbor_id, CAST(sum(qe.v * de.v) AS BIGINT) AS dot"
  "ccos (SimilarityQueries.cosCte)|SELECT query_id, neighbor_id,"
  "IVF probe cand (SimilarityQueries.ivfProbeCtes)|SELECT DISTINCT p.query_id, l.neighbor_id"
  "k-means centroid dots (SimilarityQueries.centroidCte)|FROM (SELECT e.vec_id, c.cent_id, CAST(sum(e.v * c.cv) AS BIGINT) AS dot"
  "PQ subspace dist (SimilarityQueries.subspaceDistCte)|n.sn2 + cn.cn2 - 2 * CAST(sum(s.v * c.cv) AS BIGINT) AS dist2"
  "CDC base b (RelQueries.cdcBaseSql)|o_orderstatus AS status,"
  "CDC change set ch (RelQueries.cdcMergeSql)|SELECT k, 'U' AS op, CAST(price + 100 AS DECIMAL(12,2)) AS new_price,"
  "io address dispatch (ChainSql.ioAddress)|WHEN address_type IN (1, 7, 10) THEN NULL"
  "session gap s (EventQueries.sessionCtes)|OR ets - lag(ets) OVER w > 1800"
)
for entry in "${ORACLE_CTES[@]}"; do
  hits=$(find src/main/scala -name '*.scala' -exec awk -v t="${entry#*|}" '{
      l = $0; sub(/^[ \t]*[|]?[ \t]*/, "", l); sub(/[ \t]+$/, "", l)
      if (l == t) print FILENAME ":" FNR }' {} +)
  n=$(grep -c . <<< "$hits")
  if [[ $n -ne 1 ]]; then
    echo "oracle CTE ${entry%%|*}: $n definitions (want 1)"
    [[ -n "$hits" ]] && echo "$hits"
    fail oracle-ctes
  fi
done

echo "PREFLIGHT stage 8/12: work accounting in one place (WorkMeter.scala)"
# org/apache/spark/graft/ListenerBridge.scala is allowed: it is the bus
# bridge the meter registers through (the bus is private[spark])
if grep -rnE 'extends SparkListener|new SparkListener|addSparkListener' \
    src/main/scala --include='*.scala' \
    | grep -vE '^src/main/scala/(graft/WorkMeter|org/apache/spark/graft/ListenerBridge)\.scala:'
then
  fail work-meter
fi

echo "PREFLIGHT stage 9/12: sbt compile"
sbt -batch compile || fail compile

if [[ $QUICK -eq 0 ]]; then
  echo "PREFLIGHT stage 10/12: sbt test"
  sbt -batch test || fail test
else
  echo "PREFLIGHT stage 10/12: SKIPPED (--quick)"
fi

echo "PREFLIGHT stage 11/12: graft.Verify @ $SF"
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" || fail verify

echo "PREFLIGHT stage 12/12: tools/check.py (rows+schema+hash+budget)"
python3 tools/check.py "$SF" "$OUT" || fail check

echo "PREFLIGHT: ALL GREEN — safe to commit the snapshot"
