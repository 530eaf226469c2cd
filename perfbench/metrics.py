"""Metric catalogue: every end-to-end and per-layer metric the benchmark
prints, with its unit, its direction and, for per-layer metrics, the
end-to-end metric and workload it is expected to move (and where it should
have little or no effect). ``BENCHMARK.json`` lists the same names;
``python3 perfbench/run.py --describe`` prints this table.

Per-layer metrics are read from a traced run. A layer a workload does not
exercise reports 0 there.

There are two workloads, ``cdc_stream`` and ``scd2_query``. Two layers
have no workload of their own: ``cdc_stream``'s traced run probes the txlog
read side on its change-log table (about a dozen commits, so the
snapshot fold is small), and ``scd2_query``'s traced run makes one checked dedup
pass (``dedup_probe``).
"""

from __future__ import annotations

#: name -> (unit, better)
END_TO_END = {
    "latency_p50_ms": ("ms", "lower"),
    "latency_tail_ms": ("ms", "lower"),
    "items_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
}

_SETUP = "setup_s @ all workloads; no effect on latency"
_STREAM = "latency_p50_ms @ cdc_stream; no effect on scd2_query"
_STATE = "latency_tail_ms, items_per_s @ cdc_stream; no effect on the others"
_READS = ("txlog read latency, probed on cdc_stream's change-log table after the traced "
          "loop; no effect on the end-to-end metrics of either workload")
_SCAN = "latency_p50_ms, items_per_s @ scd2_query; no effect on cdc_stream"
_DEDUP = ("dedup pass time, probed once in scd2_query's traced run; no effect on the "
          "end-to-end metrics of either workload")
_DRIVER = "latency_p50_ms @ cdc_stream; little effect on scd2_query"
_EXEC = "items_per_s @ scd2_query; little effect on cdc_stream"

#: name -> (unit, better, what it should move)
PER_LAYER = {
    "session.start_s": ("s", "lower", _SETUP),
    "session.warmup_s": ("s", "lower", _SETUP),
    "session.load_s": ("s", "lower", _SETUP),
    "bench.error_rate": ("ratio", "lower", "every metric: a wrong or failed operation"),
    "bench.trace_overhead_pct": ("%", "lower", "none: cost of tracing itself"),
    "bench.steal_pct": ("%", "lower", "none: host CPU taken by the hypervisor during operations"),
    "engine.peak_rss_mb": ("MB", "lower", "memory of every workload; no effect on latency"),
    "streaming.trigger_ms": ("ms", "lower", _STREAM),
    "streaming.add_batch_ms": ("ms", "lower", _STREAM),
    "streaming.trigger_overhead_ms": ("ms", "lower", _STREAM),
    "streaming.batches": ("count/op", "lower", _STREAM),
    "streaming.input_rows": ("count", "higher", _STREAM),
    "scd2_stream.apply_batch_ms": ("ms", "lower", _STATE),
    "scd2_stream.state_rows_rewritten": ("count", "lower", _STATE),
    "scd2_stream.rewrite_amplification": ("ratio", "lower", _STATE),
    "txlog.last_txn_ms": ("ms", "lower", _STREAM),
    "txlog.write_files_ms": ("ms", "lower", _STREAM),
    "txlog.commit_ms": ("ms", "lower", _STREAM),
    "txlog.commits": ("count/op", "lower", _STREAM),
    "txlog.resolve_ms": ("ms", "lower", _READS),
    "txlog.log_tail_commits": ("count", "lower", _READS),
    "txlog.live_files": ("count", "lower", _READS),
    "txlog.read_plan_ms": ("ms", "lower", _READS),
    "txlog.scan_ms": ("ms", "lower", _READS),
    "txlog.files_skipped_ratio": ("ratio", "higher", _READS),
    "txlog.table_changes_ms": ("ms", "lower", _READS),
    "envelope.scan_stage_ms": ("ms", "lower", _SCAN),
    "envelope.input_bytes": ("B/op", "lower", _SCAN),
    "scd2.query_ms": ("ms", "lower", _SCAN),
    "scd2.window_stage_ms": ("ms", "lower", _SCAN),
    "scd2.output_rows": ("count/op", "higher", _SCAN),
    "dedup.pass_ms": ("ms", "lower", _DEDUP),
    "dedup.output_pairs": ("count/op", "higher", _DEDUP),
    "engine.jobs": ("count/op", "lower", _DRIVER),
    "engine.stages": ("count/op", "lower", _DRIVER),
    "engine.tasks": ("count/op", "lower", _DRIVER),
    "engine.task_retries": ("count/op", "lower", _DRIVER),
    "engine.driver_only_ms": ("ms", "lower", _DRIVER),
    "engine.executor_run_ms": ("ms/op", "lower", _EXEC),
    "engine.executor_cpu_ms": ("ms/op", "lower", _EXEC),
    "engine.gc_ms": ("ms/op", "lower", _EXEC),
    "engine.input_bytes": ("B/op", "lower", _EXEC),
    "engine.shuffle_write_bytes": ("B/op", "lower", _EXEC),
    "engine.shuffle_read_bytes": ("B/op", "lower", _EXEC),
    "engine.spill_bytes": ("B/op", "lower", _EXEC),
    "engine.output_bytes": ("B/op", "lower", _EXEC),
}


def render(values: dict[str, float], catalogue: dict) -> dict[str, dict]:
    """``{"name": {"value": v, "unit": u}}`` for every catalogue metric,
    0 for a metric the run did not produce."""
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": spec[0]}
        for name, spec in catalogue.items()
    }
