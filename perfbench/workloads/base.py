"""Common shape of a workload: generate inputs, load initial state, warm
up, then hand the closed-loop client one operation at a time."""

from __future__ import annotations

import statistics

from harness import Op, Tracer, Workspace, median_or_zero


class Workload:
    #: operations run untimed before measuring, so JIT and codegen settle
    warmup_ops = 3
    #: the measured loop runs at least this many operations
    min_ops = 3

    def __init__(self, ws: Workspace, seed: int, tracer: Tracer):
        self.ws = ws
        self.seed = seed
        self.tracer = tracer
        self.spark = None

    def generate(self) -> None:
        """Write the seeded inputs (timed apart from set-up)."""

    def bind(self, spark) -> None:
        self.spark = spark

    def load(self) -> None:
        """Build the initial state."""

    def prepare_checks(self) -> None:
        """Compute reference answers (untimed)."""

    def warmup(self) -> None:
        for _ in range(self.warmup_ops):
            self.next_op().run()
            self.spark.catalog.clearCache()

    def next_op(self) -> Op:
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def mark_traced_start(self) -> None:
        """Called right before the loop of a traced run."""

    def layer_metrics(self, ops: list[dict], stages: list[dict], n_ops: int) -> dict[str, float]:
        """Per-layer metrics of a traced run: ``ops`` are the root spans of
        the traced operations, ``stages`` the loop's Spark stages
        attributed to spans, ``n_ops`` all operations of the loop."""
        return {}

    def close(self) -> None:
        pass

    # helpers -------------------------------------------------------------

    def span_median(self, name: str) -> float:
        return median_or_zero(self.tracer.durations_ms(name))

    @staticmethod
    def per_op_stage_ms(ops: list[dict], stages: list[dict], pred) -> float:
        """Median over operations of the summed wall time of the stages
        matching ``pred``."""
        per_op = []
        for op in ops:
            ms = [(s["end"] - s["start"]) * 1000 for s in stages
                  if s["op"] == op["op"] and pred(s)]
            per_op.append(sum(ms))
        return statistics.median(per_op) if per_op else 0.0
