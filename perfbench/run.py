"""spark-graft benchmark: one workload, one seed, one measured run.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --describe

A run generates its inputs from ``--seed``, starts the engine's own Spark
session (``session.get_spark``; ``SPARK_GRAFT_CPUS`` sets its local
parallelism, all cores by default), loads the workload's initial state
once, warms up, and then drives a closed loop (one client, one
outstanding operation) for ``--seconds`` (and at least the workload's
minimum number of operations). Every operation's result is checked,
outside the timed region; a final check compares the end state with a
reference. The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Times are steal-free (``harness.Stopwatch``): wall time less the share of
CPU the hypervisor took from this host meanwhile. The line before the
result holds the wall-clock figures, per-operation CPU time and steal.

With ``--trace 0`` the metrics are the end-to-end ones: latency median
(averaged over the kinds of operation) and tail, throughput, and set-up
time (session start, one load of the initial state, warm-up). With
``--trace 1`` every second operation records spans around each call into
the engine, Spark's stage counters are collected for the loop, and the
metrics are the per-layer ones, peak RSS among them; the spans go to
``.perfbench_out/<workload>-seed<seed>.trace.json``. The latency ratio of
traced to untraced operations is reported as the tracing overhead.

All files of a run live in ``.perfbench_work/`` under the checkout and are
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    EngineCounters,
    Stopwatch,
    Tracer,
    Workspace,
    attribute_stages,
    closed_loop,
    engine_metrics,
    peak_rss_mb,
    start_spark,
    stop_spark,
    tail_summary,
)
from metrics import END_TO_END, PER_LAYER, render  # noqa: E402


def _parse(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--describe", action="store_true",
                    help="print the metric catalogue and exit")
    args = ap.parse_args(argv)
    if not args.describe and not args.workload:
        ap.error("--workload is required")
    return args


def _describe() -> None:
    for name, (unit, better) in END_TO_END.items():
        print(f"{name:36s} {unit:9s} {better:6s} end-to-end")
    for name, (unit, better, moves) in PER_LAYER.items():
        print(f"{name:36s} {unit:9s} {better:6s} {moves}")


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = _parse(argv)
    if args.describe:
        _describe()
        return 0
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "change_data_capture_spark", "session.py")):
        _log(f"{root} holds no change_data_capture_spark package; run from a checkout root")
        return 2
    sys.path.insert(0, root)

    from workloads import WORKLOADS

    ws = Workspace(root, f"{args.workload}-s{args.seed}")
    tracer = Tracer(enabled=False)
    wl = WORKLOADS[args.workload](ws, args.seed, tracer)
    spark = None
    try:
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        setup, setup_wall = {}, {}
        for phase, step in (("start", lambda: wl.bind(start_spark(args.workload))),
                            ("load", wl.load), ("warmup", wl.warmup)):
            with Stopwatch() as sw:
                step()
            setup[f"session.{phase}_s"] = sw.net_s
            setup_wall[phase] = round(sw.wall_s, 2)
            spark = wl.spark
        t0 = time.perf_counter()
        wl.prepare_checks()
        _log(f"generate {gen_s:.2f}s, reference {time.perf_counter() - t0:.2f}s, "
             f"set-up wall {setup_wall}, steal-free {setup}")

        if args.trace:
            res, layers = _traced(args, root, spark, wl, tracer)
        else:
            res = closed_loop(spark, wl.next_op, args.seconds, tracer, wl.min_ops)
        rss_mb = peak_rss_mb()
        if not res.latencies_ms:
            _log("no operation succeeded")
            return 1
        ok = wl.final_check()
        if not ok:
            _log("final state check failed")
    finally:
        wl.close()
        if spark is not None:
            stop_spark(spark)
        ws.close()

    failed = res.failed + res.wrong + (0 if ok else 1)
    if args.trace:
        layers.update(setup)
        layers["bench.error_rate"] = failed / res.attempted
        layers["bench.steal_pct"] = 100 * statistics.median(res.steal_share)
        layers["engine.peak_rss_mb"] = rss_mb
        metrics = render(layers, PER_LAYER)
    else:
        lat = res.latencies_ms
        tail, label = tail_summary(lat)
        by_op = {k: statistics.median(x for n, x in zip(res.names, lat) if n == k)
                 for k in sorted(set(res.names))}
        metrics = render(
            {
                # kinds of operation run in equal shares; the median of a
                # mix of two kinds would fall in the gap between them
                "latency_p50_ms": statistics.fmean(by_op.values()),
                "latency_tail_ms": tail,
                "items_per_s": res.items / res.busy_s,
                "setup_s": sum(setup.values()),
            },
            END_TO_END,
        )
        print(json.dumps({"workload": args.workload, "seed": args.seed, "ops": len(lat),
                          "tail_percentile": label, "generate_s": gen_s,
                          "set_up_wall_s": setup_wall, "peak_rss_mb": rss_mb,
                          "error_rate": failed / res.attempted, "median_ms_by_op": by_op,
                          "latencies_ms": [round(x) for x in lat],
                          "wall_ms": [round(x) for x in res.wall_ms],
                          "cpu_ms": [round(x) for x in res.cpu_ms],
                          "steal_pct": [round(100 * x, 1) for x in res.steal_share]}))
    print(json.dumps({"correct": ok and res.wrong == 0, "attempted": res.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _traced(args, root, spark, wl, tracer):
    """A loop that traces half of its operations (see ``closed_loop``);
    returns the loop result and the per-layer metrics."""
    counters = EngineCounters(spark)
    ids0 = counters.settle()
    wl.mark_traced_start()
    res = closed_loop(spark, wl.next_op, args.seconds, tracer, wl.min_ops,
                      alternate_tracing=True)
    ids1 = counters.settle()
    ops = tracer.ops()
    stages = counters.stages_between(ids0[1], ids1[1])
    jobs = counters.jobs_since(ids0[0])
    attribute_stages(stages, tracer.spans)
    n_ops = len(res.latencies_ms)
    layers = engine_metrics(ids0, ids1, n_ops, ops, stages, jobs)
    layers.update(wl.layer_metrics(ops, stages, n_ops))
    traced = [x for x, t in zip(res.latencies_ms, res.traced) if t]
    plain = [x for x, t in zip(res.latencies_ms, res.traced) if not t]
    if traced and plain:
        layers["bench.trace_overhead_pct"] = 100 * (
            statistics.median(traced) / statistics.median(plain) - 1)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.trace.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "self_time_ms": tracer.self_times_ms(), "spans": tracer.spans,
                   "stages": stages, "jobs": jobs, "per_layer": layers}, f, indent=1)
    _log(f"trace written to {path}")
    return res, layers


if __name__ == "__main__":
    sys.exit(main())
