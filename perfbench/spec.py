"""What the benchmark measures: workloads, end-to-end metrics with their
bounds, and per-layer metrics (README.md maps each layer metric to the
end-to-end metric it should move). `python3 perfbench/run.py
--write-manifest` writes this into BENCHMARK.json at the root of the
checkout."""

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 5

WORKLOADS = [
    ("export_sync",
     "the product's daily step: --continue and streaming ingest of a "
     "seed-picked tail, then compaction, on an 8x replicated chain; "
     "chain/export/streaming, no parked tier"),
    ("tier_query",
     "cold build of 5 parked tiers (a CC fixpoint inside), then 15 headline "
     "queries and graph_kcore over them: ops write and read side, Catalyst "
     "and per-round driver cost; seed-independent"),
]

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_geomean_ms", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

# The lists below are the one source of what tier_query runs: run.py hands
# them to the benchmark program and derives the per-layer names from them.

# graft.Bench's cold-build entries that tier_query times, in its order
TIER_ENTRIES = [
    "dedup_materialize_bands", "dedup_materialize_components", "graph_build",
    "flow_build", "store_build",
]
# graft.Bench.headline when the benchmark was defined, without
# stream_incremental, whose AvailableNow ingest export_sync already times
SHORT_QUERIES = [
    "block_table", "tx_by_prefix", "q1_pricing", "q3_shipping",
    "block_transactions", "transaction_table", "rate_join", "io_address",
    "bip30_dedup", "events_sessionize", "dedup_exact", "dedup_minhash_pairs",
    "embed_cosine_topk", "embed_lsh_ann", "text_quality",
]
LOOP_QUERIES = ["graph_kcore"]
# tier_query's untimed warm-up in set-up: the tiers and queries named here
# run once before the timed pass, so that the pass does not pay the
# session's first jobs and the first JIT compilation of the chain
# derivation; the tier root is wiped after it. It costs about what it
# saves the pass.
WARM_TIERS = ["store_build"]
WARM_QUERIES = ["block_table"]
ENGINE_STEPS = ["export_continue", "ingest", "tier_build", "short"]


def per_layer():
    """(name, unit, better) of every per-layer metric."""
    m = []
    for t in ("tx", "prefix_index", "block", "block_tx", "stats"):
        m.append((f"chain.sink.{t}_s.continue", "s", "lower"))
    m.append(("export.driver_s.continue", "s", "lower"))
    m.append(("export.continue_s", "s", "lower"))
    m.append(("chain.bytes_written.continue", "bytes", "lower"))
    m.append(("streaming.triggers", "count", "lower"))
    for k in ("add_batch", "query_planning", "latest_offset", "wal_commit"):
        m.append((f"streaming.{k}_ms", "ms", "lower"))
    m.append(("streaming.compact_s", "s", "lower"))
    m.append(("streaming.ingest_s", "s", "lower"))
    for e in TIER_ENTRIES:
        m.append((f"ops.{e}_s", "s", "lower"))
    for e in TIER_ENTRIES:
        m.append((f"engine.jobs.{e}", "count", "lower"))
    m.append(("ops.tier_build_s", "s", "lower"))
    m.append(("ops.bytes_written", "bytes", "lower"))
    m.append(("ops.tiers_created_warm", "count", "lower"))
    for q in SHORT_QUERIES + LOOP_QUERIES:
        m.append((f"queries.{q}_s", "s", "lower"))
    m.append(("queries.define_s.short", "s", "lower"))
    m.append(("queries.short_p50_ms", "ms", "lower"))
    m.append(("queries.short_tail_ms", "ms", "lower"))
    m.append(("queries.loop_pass_s", "s", "lower"))
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"),
                    ("shuffle_write_mb", "MB"),
                    ("driver_outside_jobs_s", "s")):
        for step in ENGINE_STEPS:
            m.append((f"engine.{k}.{step}", unit, "lower"))
    for q in LOOP_QUERIES:
        m.append((f"engine.jobs.{q}", "count", "lower"))
        m.append((f"engine.driver_outside_jobs_s.{q}", "s", "lower"))
    m.append(("trace.pass_s", "s", "lower"))
    m.append(("trace.drain_s", "s", "lower"))
    return m


