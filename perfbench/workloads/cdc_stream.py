"""``cdc_stream``: one long-running Structured Streaming query over landed
NDJSON segments.

Per micro-batch the benchmark's foreachBatch appends the batch to a txlog
change-log table idempotently (``last_txn`` → ``write_files`` →
``commit(txn=…)``) and then merges it into the SCD2 state with
``scd2_stream.apply_batch``. The client lands one fixed-size segment and
waits for ``processAllAvailable()``: a closed loop, so the batch size
stays fixed and per-batch costs cannot hide in a growing batch.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from gen import CdcLog, write_lines
from harness import Op, txlog_probe
from workloads.base import Workload

APP_ID = "perfbench-cdc-stream"


class CdcStream(Workload):
    SNAPSHOT_IDS = 1_000
    SEGMENT_LINES = 1_000
    warmup_ops = 8
    min_ops = 3

    def generate(self) -> None:
        self.log = CdcLog(self.seed)
        self.snapshot_dir = self.ws.dir("snapshot")
        write_lines(os.path.join(self.snapshot_dir, "part-00000.json"),
                    self.log.snapshot(self.SNAPSHOT_IDS))
        self.landing = self.ws.dir("landing")
        self.staging = self.ws.dir("staging")
        self.segments = 0
        self.query = None

    def _decoded(self, path):
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

        return decode_envelope(read_envelope_ndjson(self.spark, path))

    def load(self) -> None:
        from pyspark.sql import functions as F

        from change_data_capture_spark.sources import txlog
        from change_data_capture_spark.streaming.scd2_stream import Scd2State, apply_batch

        snap = self._decoded(self.snapshot_dir)
        self.state = Scd2State(self.spark, self.ws.dir("state"))
        apply_batch(self.state, snap)
        self.table = self.ws.dir("changes")
        actions = txlog.write_files(snap.where(F.col("lsn").isNotNull()), self.table,
                                    stats_cols=["id"])
        txlog.commit(self.table, add=actions, operation="WRITE")

    def _sink(self, batch, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from change_data_capture_spark.sources import txlog
        from change_data_capture_spark.streaming.scd2_stream import apply_batch

        tr = self.tracer
        with tr.span("txlog.last_txn"):
            done = txlog.last_txn(self.table, APP_ID)
        if done is not None and batch_id <= done:
            return  # re-delivered batch: already committed
        rows = batch.where(F.col("lsn").isNotNull()).dropDuplicates(["id", "lsn"])
        with tr.span("txlog.write_files"):
            actions = txlog.write_files(rows, self.table, stats_cols=["id"])
        with tr.span("txlog.commit"):
            txlog.commit(self.table, add=actions,
                         txn={"app_id": APP_ID, "batch_id": batch_id}, operation="WRITE")
        with tr.span("scd2_stream.apply_batch"):
            apply_batch(self.state, batch)

    def _start_stream(self) -> None:
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

        env = read_envelope_ndjson(self.spark, self.landing, streaming=True)
        self.query = (
            decode_envelope(env)
            .writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", self.ws.dir("checkpoint"))
            .start()
        )

    def warmup(self) -> None:
        self._start_stream()
        super().warmup()

    def next_op(self) -> Op:
        lines = self.log.segment(self.SEGMENT_LINES)
        self.segments += 1
        name = f"seg-{self.segments:06d}.json"
        staged = os.path.join(self.staging, name)
        write_lines(staged, lines)

        def run():
            # landing is an atomic rename into the watched directory
            os.rename(staged, os.path.join(self.landing, name))
            self.query.processAllAvailable()

        return Op("segment", run, items=len(lines))

    def final_check(self) -> bool:
        """The streamed SCD2 state equals the batch recompute over the full
        log, and the change-log table holds each non-null (id, lsn) once."""
        from pyspark.sql import functions as F

        from change_data_capture_spark.operators.scd2 import scd2
        from change_data_capture_spark.sources import txlog

        full = self._decoded([self.snapshot_dir, self.landing])
        cols = ["id", "name", "description", "price",
                "row_valid_start_timestamp", "row_valid_expiration_timestamp"]
        expected = scd2(full, min_events=1).select(*cols)
        actual = self.state.read().select(*cols)
        same = (expected.exceptAll(actual).isEmpty()
                and actual.exceptAll(expected).isEmpty())
        pairs = full.where(F.col("lsn").isNotNull()).select("id", "lsn").distinct().count()
        counted = txlog.count_rows(self.table)
        return same and counted == pairs

    def mark_traced_start(self) -> None:
        last = self.query.lastProgress
        self.first_traced_batch = (last["batchId"] + 1) if last else 0

    def layer_metrics(self, ops, stages, n_ops) -> dict[str, float]:
        progress = [
            p for p in self.query.recentProgress
            if p["batchId"] >= self.first_traced_batch and p["numInputRows"] > 0
        ]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        add = [p["durationMs"].get("addBatch", 0) for p in progress]
        rewritten, amp = [], []
        for op in ops:
            rows = sum(s["output_rows"] for s in stages
                       if s["op"] == op["op"] and s["span"] == "scd2_stream.apply_batch")
            rewritten.append(rows)
            amp.append(rows / self.SEGMENT_LINES)
        med = statistics.median
        return {
            "streaming.trigger_ms": med(trig) if trig else 0.0,
            "streaming.add_batch_ms": med(add) if add else 0.0,
            "streaming.trigger_overhead_ms": med([t - a for t, a in zip(trig, add)]) if trig else 0.0,
            "streaming.batches": len(progress) / max(1, n_ops),
            "streaming.input_rows": med([p["numInputRows"] for p in progress]) if progress else 0.0,
            "scd2_stream.apply_batch_ms": self.span_median("scd2_stream.apply_batch"),
            "scd2_stream.state_rows_rewritten": med(rewritten) if rewritten else 0.0,
            "scd2_stream.rewrite_amplification": med(amp) if amp else 0.0,
            "txlog.last_txn_ms": self.span_median("txlog.last_txn"),
            "txlog.write_files_ms": self.span_median("txlog.write_files"),
            "txlog.commit_ms": self.span_median("txlog.commit"),
            "txlog.commits": len(self.tracer.durations_ms("txlog.commit")) / max(1, len(ops)),
            **self._read_probes(),
        }

    def _read_probes(self) -> dict[str, float]:
        """Read side of the change-log table, probed after the traced loop:
        a few point lookups with data skipping and a short change feed."""
        from pyspark.sql import functions as F

        from change_data_capture_spark.sources import txlog

        keys = random.Random(self.seed).sample(range(1, self.SNAPSHOT_IDS + 1), 3)
        plan_ms, scan_ms = [], []
        for k in keys:
            t0 = time.perf_counter()
            df = txlog.read_version(self.spark, self.table, predicate_range=("id", k, k))
            t1 = time.perf_counter()
            df.where(F.col("id") == k).collect()
            plan_ms.append((t1 - t0) * 1000)
            scan_ms.append((time.perf_counter() - t1) * 1000)
        tip = txlog.latest_version(self.table)
        t0 = time.perf_counter()
        txlog.table_changes(self.spark, self.table, start_version=tip - 1, end_version=tip).count()
        changes_ms = (time.perf_counter() - t0) * 1000
        return {
            **txlog_probe(self.table, keys),
            "txlog.read_plan_ms": statistics.median(plan_ms),
            "txlog.scan_ms": statistics.median(scan_ms),
            "txlog.table_changes_ms": changes_ms,
        }

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
