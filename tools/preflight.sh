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
#   3. stream lifecycle     — no partitionOverwriteMode in src/main/scala
#                             outside chain/ChainStore.scala, and no
#                             processAllAvailable() or
#                             Trigger.AvailableNow() call outside
#                             streaming/Streams.scala: run-once streams go
#                             through Streams.runOnce, partitioned
#                             overwrites through
#                             ChainStore.overwritePartitions
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
#   7. sbt compile          — the tree compiles (r12 shipped a tree that
#                             didn't; this script exists so that cannot
#                             recur)
#   8. sbt test             — full ScalaTest suite green
#   9. graft.Verify sf0.01  — every SparkEntry query dumps its parquet
#  10. tools/check.py       — DuckDB oracle compare: rows + schema +
#                             driver-emulated canonical hash per query,
#                             plus the oracle cost budget (10 s/query,
#                             180 s/suite)
#
# Usage: tools/preflight.sh [--quick]
#   --quick skips sbt test (stages 1-7,9,10 only) for mid-round iteration;
#   the snapshot commit requires the FULL run.
set -uo pipefail
cd "$(dirname "$0")/.."

QUICK=0
[[ "${1:-}" == "--quick" ]] && QUICK=1

SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.01}"
OUT=target/verify_out

fail() { echo "PREFLIGHT: FAIL at stage $1 — do NOT commit the snapshot"; exit 1; }

echo "PREFLIGHT stage 1/10: tiers in one place (ops/Tiers.scala)"
if grep -rnE '"[^"]*(_SUCCESS|_BUILT)[^"]*"|target/intermediate|FormatVersion|Tiers\.(park|parquet)\(' \
    src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/ops/Tiers.scala:'
then
  fail tiers
fi

echo "PREFLIGHT stage 2/10: session setup only in Session.scala"
if grep -rn 'SparkSession\.builder' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/Session.scala:' ||
   grep -rnE 'local\[[0-9]+\]' src/main/scala --include='*.scala'
then
  fail session
fi

echo "PREFLIGHT stage 3/10: stream runner and partition overwrite in one place each"
if grep -rn 'partitionOverwriteMode' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/chain/ChainStore.scala:' ||
   grep -rnE 'processAllAvailable\(\)|Trigger\.AvailableNow\(\)' src/main/scala \
    --include='*.scala' | grep -v '^src/main/scala/graft/streaming/Streams.scala:'
then
  fail streams
fi

echo "PREFLIGHT stage 4/10: loop lifecycle in one place (operators/Fixpoint.scala)"
if grep -rnE 'Materialize\.release\(|truncateBeforeAction' src/main/scala \
    --include='*.scala' \
    | grep -vE '^src/main/scala/graft/operators/(Fixpoint|Materialize|PrefixCarry)\.scala:'
then
  fail loops
fi

echo "PREFLIGHT stage 5/10: store I/O in one place (chain/ChainStore.scala)"
# operators/Materialize.scala is allowed: releasing a checkpoint deletes
# the RDD's checkpoint files, and it holds the RDD but no SparkSession
if grep -rnE 'org\.apache\.hadoop\.fs|getFileSystem\(' src/main/scala \
    --include='*.scala' \
    | grep -vE '^src/main/scala/graft/(chain/ChainStore|operators/Materialize)\.scala:'
then
  fail store-io
fi

echo "PREFLIGHT stage 6/10: immutable inputs read in one place (chain/ChainStore.scala)"
# fixture tables read through Chain.table, parked tiers through Tier.read
if grep -rnE 'read\.parquet\([^)]*\.parquet"' src/main/scala --include='*.scala' \
    | grep -v '^src/main/scala/graft/chain/' ||
   grep -rn 'read\.parquet(' src/main/scala/graft/ops --include='*.scala' \
    | grep -v '^src/main/scala/graft/ops/Tiers.scala:'
then
  fail immutable-reads
fi

echo "PREFLIGHT stage 7/10: sbt compile"
sbt -batch compile || fail compile

if [[ $QUICK -eq 0 ]]; then
  echo "PREFLIGHT stage 8/10: sbt test"
  sbt -batch test || fail test
else
  echo "PREFLIGHT stage 8/10: SKIPPED (--quick)"
fi

echo "PREFLIGHT stage 9/10: graft.Verify @ $SF"
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" || fail verify

echo "PREFLIGHT stage 10/10: tools/check.py (rows+schema+hash+budget)"
python3 tools/check.py "$SF" "$OUT" || fail check

echo "PREFLIGHT: ALL GREEN — safe to commit the snapshot"
