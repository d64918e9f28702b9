"""Names and units of every metric the benchmark prints. BENCHMARK.json
must declare exactly these; each run checks that before it prints."""

from __future__ import annotations

# registered queries the llm_curation workload times, in pass order: the
# near-dup pair search plus eager label-propagation loop with checkpoints
# (operators/), and documents re-ingested through a custom Python
# streaming source and aggregated under availableNow (streaming/); their
# answers are written as ORC
QUERIES = ("dedup_connected_components", "streaming_pysource_jsonl_ingest")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "driver_peak_rss_mb": "MB",
    "orc_bytes_per_row": "B/row",
}

# per-layer span timings: metric -> span name (median over timed ops)
SPAN_METRICS = {
    "schema.rows_to_schema_s": "schema.rows_to_schema",
    "io.write_rows_s": "io.write_rows",
    "io.write_rows_s.lenient": "io.write_rows.lenient",
    "io.read_orc_s": "io.read_orc",
    "frame.to_frame_s": "frame.to_frame",
    "io.write_orc_s.zlib": "io.write_orc.zlib",
    "io.write_orc_s.zstd_part": "io.write_orc.zstd_part",
    "io.scan_s.pushdown": "io.scan.pushdown",
    "io.scan_s.pruned": "io.scan.pruned",
    "io.scan_s.full": "io.scan.full",
    "frame.stats_s": "frame.stats",
    **{f"queries.call_s.{q}": f"queries.call.{q}" for q in QUERIES},
    **{f"queries.action_s.{q}": f"queries.action.{q}" for q in QUERIES},
}

# op types whose Spark event-log counts are reported as <op type>.<count>
OP_TYPES = (
    "io.rows_roundtrip",
    "io.rows_roundtrip_lenient",
    "io.orc_roundtrip_zlib",
    "io.orc_roundtrip_zstd_part",
    *(f"queries.{q}" for q in QUERIES),
)
EVENT_COUNTS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "shuffle_bytes": "B",
    "task_s": "s",
    "driver_gap_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "tables.load_s": "s",
    "bench.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    **{m: "s" for m in SPAN_METRICS},
    "io.orc_files_per_write": "count",
    "io.orc_bytes_per_write": "B",
    "trace.overhead_ratio": "ratio",
    **{f"{t}.{c}": unit for t in OP_TYPES for c, unit in EVENT_COUNTS.items()},
}
