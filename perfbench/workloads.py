"""The benchmark's workloads, the query-to-module map and metric names."""

# The reference-surface queries (a*, d*, f*, j*, o*, p*, q1, s02, w*) minus
# d04_sql_views, d05_partition_prune and j04_bucketed_join: those three
# write fixed paths under /tmp, outside the checkout the benchmark may use.
MEDALLION = """
a05_book_summary a06_explode_buy_filter a07_topk_positions a08_positions_fanout
a10_missed_snapshots d01_silver_projection d02_incremental_watermark
d03_corrupt_keep d06_upsert_unique_key d07_scd2_snapshot d08_point_in_time
d09_schema_tests d10_schema_drift f01_price_momentum f02_volatility
f03_imbalance_signal f04_whale_deltas f05_concentration_hhi f06_top_share
f07_ewma j01_star_join j02_asof_join j03_salted_join j05_range_join
j06_sketch_skew_join j07_bloom_join o01_latest_row o02_topk_global
o03_first_match o04_set_ops p01_ticker_project p02_throttle_decimate
p03_keyword_filter p04_window_predicate p05_double_decode p06_iso_mix
p07_winner_case p09_positions_decode p11_dim_lookup p12_event_demux
p15_empty_snapshot q1_pricing_summary s02_ws_json_roundtrip
w01_tumbling_15min w02_sliding_window w03_session_window
""".split()

CURATION = """
x02_minhash_lsh x03_jaccard_verify x05_simhash_pairs x34_winnow_overlap
x15_ann_ivf_cosine x43_ivfpq_topk_cosine x17_curation_pipeline x29_dup_ngrams
""".split()

# x-queries by the package that implements them
_X_MODULES = {
    "x02": "dedup", "x03": "dedup", "x05": "dedup", "x34": "dedup",
    "x15": "similarity", "x43": "similarity",
    "x17": "text", "x29": "text",
}

MODULES = ("ops", "silver", "gold", "queries", "dedup", "similarity", "text")


def module_of(query):
    """Module a query's time is charged to; KeyError if it has none."""
    code = query.split("_", 1)[0]
    if code in _X_MODULES:
        return _X_MODULES[code]
    if code == "q1" or code == "s02" or code[0] == "w":
        return "queries"
    return {"a": "ops", "j": "ops", "o": "ops", "p": "ops",
            "d": "silver", "f": "gold"}[code[0]]


WORKLOADS = {
    "stream-topology": dict(
        mode="stream", rate=5000, trigger_ms=3000, burst=100000, bursts=2, accel=300, ramp_s=4,
        setup_reps=3,
        why="open loop at 5k events/s on 3 s triggers about half busy, latency set by per-trigger cost; then two 100k-event bursts, drain set by one-thread source hand-off and trigger cost"),
    "batch-suite": dict(
        mode="batch", replicas=2, min_passes=1, setup_reps=3,
        why="46 medallion queries bound by planning and dispatch, then 8 dedup/similarity/text queries on a 2x corpus bound by per-row compute"),
}

# highest percentile latency.tail_ms may report: event latencies come in
# per-trigger clumps, so p99.9 would rest on one or two triggers
TAIL_CAP = 99.0

# (name, unit, bound): what a user of the system sees, every workload
END_TO_END = [
    ("setup_s", "s", 0.25),
    ("wall_s", "s", 0.24),
    ("latency_ms", "ms", 0.24),
]

LAYER_FIELDS = ("build_ms", "plan_ms", "exec_ms", "jobs", "tasks", "task_run_ms",
                "task_cpu_ms", "gc_ms", "sched_wait_ms", "scan_bytes",
                "shuffle_bytes", "spill_bytes")
PLANES = ("control", "window", "bronze")
PLANE_FIELDS = ("batches", "rows_in", "trigger_ms", "latest_offset_ms",
                "query_planning_ms", "add_batch_ms", "wal_commit_ms",
                "commit_offsets_ms")
STATE_FIELDS = ("state_rows", "state_mem_bytes", "state_commit_ms")


def per_layer_names():
    """Every per-layer metric with its unit, in a fixed order."""
    def unit(f):
        return "ms" if f.endswith("_ms") else "bytes" if f.endswith("_bytes") else "count"
    out = [(f"{m}.{f}", unit(f)) for m in MODULES for f in LAYER_FIELDS]
    out += [(f"streaming.{p}.{f}", unit(f)) for p in PLANES for f in PLANE_FIELDS]
    out += [(f"streaming.{p}.{f}", unit(f)) for p in ("control", "window")
            for f in STATE_FIELDS]
    out += [("streaming.window.watermark_lag_ms", "ms"),
            ("streaming.bronze.sink_write_ms", "ms"),
            ("streaming.bronze.files", "count"),
            ("streaming.window.latency_p50_ms", "ms"),
            ("streaming.bronze.latency_p50_ms", "ms"),
            ("latency.tail_ms", "ms"),
            ("source.backlog_max_events", "count"),
            ("gen.late_p99_ms", "ms"),
            ("gen.late_max_ms", "ms"),
            ("burst.drain_eps", "1/s"),
            ("burst.add_batch_ms", "ms"),
            ("jvm.peak_rss_mb", "MB"),
            ("jvm.heap_retained_mb", "MB"),
            ("scaling.local1_drain_s", "s")]
    return out


def better(name):
    """Direction of a per-layer metric."""
    return "higher" if name in ("burst.drain_eps",) or name.endswith(".rows_in") else "lower"


def benchmark_json():
    """The BENCHMARK.json these definitions describe."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 12,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": "lower", "bound": b}
                       for n, u, b in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": better(n)}
                      for n, u in per_layer_names()],
    }
