#!/usr/bin/env bash
# Pre-commit smoke gate (~6 min on 4 cores): one representative spec per planner
# dataflow class — flat agg, keyed min/max, value-equi join, ranked,
# ASOF, session, ROWS frames, session-DISTINCT, approx HLL, holistic
# percentile, DDSketch approx_percentile, ROLLUP levels, key-equi
# residual join — plus restart continuity (the approx HLL restart
# included), snapshot bootstrap, and the Debezium adapter. The five
# grouped-aggregate paths share one skeleton, so the flat, holistic,
# DDSketch, HLL and ROLLUP cases cover its parser, key builder and tail.
# Every streaming spec checkpoints through
# LocalCheckpointFileManager, so its semantics spec, the default-manager
# migration case (#234af) and the RocksDB restart (#220h) ride along too.
# Every view over a view tails its upstream sink through FeedSource, so
# its contract spec (idle cost, marker isolation, exactly-once by batch
# id) and the file-source-checkpoint migration case (#234ag) run as well.
# The live-index tier shares one LocatorStore discipline, so one pass
# over its shared verbs covers all five families: batch erasure with the
# untouched-leaf check (#367), the half-finished-retrain refusal (#367c),
# tombstone GC and the compaction census.
# Every per-key stage-1 fold (the materializers, SCD2 history, the
# hand-built aggregate and join views, and the planner's aggregate, row,
# generator and ranked folds) runs one last-writer-wins apply,
# CdcMaterializer.applyLww, so its property (batching invariance under
# redelivery), the direct JoinView.fold per-side case (#171cs), the
# sub-ms ordering (#32b), never-seen-delete (#39d) and SCD2 tombstone
# (#68b) specs, and the first-seen tombstone case (#171bh) run too.
# Every aggregate path's stage 2 runs one group-fold skeleton that owns
# the emission position, and the FK join stamps each fact at its own
# high-water, so the split-batch position specs run too: every
# aggregate class (#171ct), the FK join (#171cu) and a named view over
# an aggregate view (#234ah).
# Every planner entry point and nested position runs one statement parse
# and one shape dispatcher, so the shape x entry matrix (#171cv) and a
# named row view with a SELECT-list subquery (#234ai) run too.
# The full 472-test fleet (sbt "testOnly *", ~19 min on 4 cores)
# remains the round gate; this is the fast inner loop.
set -euo pipefail
cd "$(dirname "$0")/.."
exec sbt \
  'testOnly graft.streaming.IncrementalPlannerSpec -- -z "171a " -z "171f " -z "171at " -z "171aq " -z "171bk " -z "171an " -z "171bq " -z "171bs " -z "171bt " -z "171bo " -z "171cd " -z "171cr " -z "171bb " -z "171bh " -z "171cs " -z "171ct " -z "171cu " -z "171cv "' \
  'testOnly graft.PropertySpec' \
  'testOnly graft.streaming.StreamingSpec -- -z "32b " -z "39d " -z "68b "' \
  'testOnly graft.streaming.PlannerRestartSpec -- -z "220a " -z "220c " -z "220g " -z "220h "' \
  'testOnly graft.streaming.CheckpointFileManagerSpec' \
  'testOnly graft.streaming.FeedSourceSpec' \
  'testOnly graft.streaming.ViewCatalogSpec -- -z "234af " -z "234ag " -z "234ah " -z "234ai "' \
  'testOnly graft.streaming.PlannerBootstrapSpec -- -z "221a "' \
  'testOnly graft.streaming.DebeziumSpec -- -z "222b "' \
  'testOnly graft.streaming.KeyPurgeSpec -- -z "367 " -z "367c "' \
  'testOnly graft.streaming.LiveIndexGcSpec' \
  'testOnly graft.streaming.LiveIndexCompactionSpec'
