"""Job/stage-count probe at replicated scale (VERDICT r13 #6).

Runs named queries from a given repo tree against a (shared) replicated
data dir and reports, per query: wall seconds per run and the number of
Spark jobs + stages the invocation submitted (max-id deltas from the
status store, read by the benchmark's own collector,
``perfbench/harness.py::EngineCounters`` — counts jobs from ALL threads,
including the streaming gates' overlap pools, which thread-local job
groups would miss). Job counts are deterministic per code path, so this
is the host-noise-immune evidence of pass-count reductions.
"""
import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "perfbench"))
from harness import EngineCounters  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    os.chdir(args.repo)
    from change_data_capture_spark.session import get_spark

    spark = get_spark("scale-jobs", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    counters = EngineCounters(spark)
    out = {}
    for name in args.queries.split(","):
        recs = []
        for i in range(args.runs):
            j0, s0 = counters.settle()
            t0 = time.perf_counter()
            qs[name](spark, args.data_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            j1, s1 = counters.settle()
            spark.catalog.clearCache()
            recs.append({"sec": round(dt, 2), "jobs": j1 - j0, "stages": s1 - s0})
            print(f"  {name} run{i}: {dt:.2f}s jobs={j1-j0} stages={s1-s0}",
                  flush=True)
        out[name] = recs
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
