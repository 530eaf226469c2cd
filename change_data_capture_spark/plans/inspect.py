"""Physical-plan inspection — makes plan-quality claims executable.

Every scale claim in this repo ("one shuffle", "dims broadcast", "filter
reaches the scan", "no nested loop") is asserted by tests via these helpers,
so a regression that silently degrades a plan (a lost broadcast hint, a
filter that stops pushing) fails CI instead of surfacing as a 100× slowdown
on a cluster.
"""

from __future__ import annotations

import contextlib
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


@dataclass
class PlanStats:
    shuffle_exchanges: int
    broadcast_exchanges: int
    parquet_scans: int
    pushed_filters: list[str] = field(default_factory=list)
    has_cartesian: bool = False
    has_bnlj: bool = False
    has_window_group_limit: bool = False
    has_take_ordered: bool = False
    text: str = ""


def plan_stats(df: DataFrame) -> PlanStats:
    """Parse ``explain('formatted')`` into checkable facts.

    Note: the formatted output prints each operator in the tree header AND
    in the detail section; counts below are from the detail section
    (numbered operators), which appears exactly once per operator.
    """
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()

    # detail-section operator headers look like "(12) Exchange"
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", txt, flags=re.M)
    return PlanStats(
        shuffle_exchanges=sum(1 for o in ops if o == "Exchange"),
        broadcast_exchanges=sum(1 for o in ops if o == "BroadcastExchange"),
        # a LocalRelation or ExistingRDD scan is a "(n) Scan" too
        parquet_scans=len(re.findall(r"^\(\d+\) Scan parquet\b", txt, re.M)),
        pushed_filters=[
            m for m in re.findall(r"PushedFilters: \[([^\]]*)\]", txt) if m
        ],
        has_cartesian="CartesianProduct" in txt,
        has_bnlj="BroadcastNestedLoopJoin" in txt,
        has_window_group_limit="WindowGroupLimit" in txt,
        has_take_ordered="TakeOrderedAndProject" in txt,
        text=txt,
    )
