"""SCD2 reconstruction — the flagship query of the reference
(``/root/reference/README.md:86-125``, ``example/duckdb_minio_product_scd2.sql``).

Given a decoded change log (one row per CDC event), rebuild the type-2
slowly-changing dimension: each event opens a validity interval
``[event_ts, next_event_ts)``; the latest event per key stays open until the
``9999-01-01`` sentinel (reference README.md:113-117).

Spark-first physical design
---------------------------
The reference expresses "keep only keys with >1 change event" as an
IN-subquery over a GROUP BY … HAVING (README.md:119) — an aggregation plus a
semi join, i.e. **two** shuffles on ``id`` plus the window's own
partition-sort. We instead compute the per-key event count as
``count(*) OVER (PARTITION BY id)`` — the *same window partitioning* the LEAD
needs — so the whole query costs exactly **one** shuffle (the window
exchange). At 100 TB that removes two full passes over the change log.
Catalyst does not perform this rewrite itself; it is safe because the count
is over precisely the rows the semi join would count (post lsn-filter,
post-dedup).

Exactly-once repair: the reference's transport is at-least-once
(Kafka-Connect S3 sink, connectors/s3-sink.json — SURVEY.md S6), so replayed
events appear as duplicate ``(id, lsn)`` rows. Instead of ``dropDuplicates``
(which would add a second exchange hashed on ``(id, lsn)``), we dedup with a
``lag`` over the *same* ``(PARTITION BY id ORDER BY lsn)`` window the LEAD
uses: replayed copies sort adjacent, so ``lag(lsn) == lsn`` flags them, and
the filter preserves the partitioning + ordering — the downstream LEAD/count
windows need no new exchange or sort. Net: one shuffle for the whole query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Open-ended validity sentinel. The reference uses 9999-01-01
#: (README.md:115); we pin 2260-01-01 — semantically identical (far future)
#: but inside the pandas/Arrow nanosecond timestamp range, so results survive
#: any toPandas/Arrow-based comparison harness bit-for-bit.
SENTINEL_TS = "2260-01-01"


def scd2(
    decoded: DataFrame,
    key: str = "id",
    order_col: str = "lsn",
    ts_ms_col: str = "ts_ms",
    payload: tuple[str, ...] = ("name", "description", "price"),
    min_events: int = 2,
    sentinel_ts: str = SENTINEL_TS,
    dedup_replays: bool = True,
) -> DataFrame:
    """Rebuild the SCD2 dimension from a decoded change log.

    Parameters mirror the reference semantics: events with NULL ``order_col``
    are dropped (README.md:105-106), events are totally ordered per key by
    ``order_col`` (LSN, README.md:120), and only keys with ``>= min_events``
    events are emitted (HAVING COUNT(*) > 1, README.md:119).

    Two knobs cover the deliberate deviations from the reference's exact
    output (both default to this engine's oracle-aligned behavior):

    - ``sentinel_ts``: pass ``"9999-01-01"`` for the reference's literal
      open-interval sentinel (README.md:115). The default 2260-01-01 is
      semantically identical but survives pandas/Arrow ns-range round trips.
    - ``dedup_replays``: pass ``False`` to count replayed ``(key, lsn)``
      duplicates toward HAVING like the reference does — a key whose only
      second event is a replay is then emitted (with a zero-width interval)
      instead of dropped. The default repairs at-least-once transport before
      counting.
    """
    w_ord = Window.partitionBy(key).orderBy(order_col)

    cleaned = decoded.where(F.col(order_col).isNotNull())
    if dedup_replays:
        cleaned = (
            cleaned
            # at-least-once replay repair: duplicate (key, lsn) rows are
            # identical by construction (same source event), so keeping the
            # first of each adjacent run is an exact dedup — and it reuses
            # the window exchange.
            .withColumn("_prev_ord", F.lag(order_col).over(w_ord))
            .where(
                F.col("_prev_ord").isNull() | (F.col("_prev_ord") != F.col(order_col))
            )
        )
    interval = (
        key,
        *payload,
        F.timestamp_millis(F.col(ts_ms_col)).alias("row_valid_start_timestamp"),
        F.coalesce(
            F.lead(F.timestamp_millis(F.col(ts_ms_col)), 1).over(w_ord),
            F.lit(sentinel_ts).cast("timestamp"),
        ).alias("row_valid_expiration_timestamp"),
    )
    if min_events <= 1:
        # every key in the output has an event, so the count filter could
        # drop nothing: no count window
        return cleaned.select(*interval)
    return (
        cleaned.select(
            *interval,
            F.count(F.lit(1)).over(Window.partitionBy(key)).alias("_n_events"),
        )
        .where(F.col("_n_events") >= min_events)
        .drop("_n_events")
    )


def change_log(
    decoded: DataFrame,
    key: str = "id",
    order_col: str = "lsn",
) -> DataFrame:
    """Change-log exploration — the reference's second golden query
    (README.md:220-243): per-event projection with validity interval and the
    per-key change ordinal ``op_order`` (ROW_NUMBER, README.md:240)."""
    w_ord = Window.partitionBy(key).orderBy(order_col)
    return decoded.where(F.col(order_col).isNotNull()).select(
        key,
        F.col(order_col).alias("log_seq_num"),
        F.col("op_label").alias("operation_type"),
        F.timestamp_millis(F.col("ts_ms")).alias("row_valid_start_timestamp"),
        F.coalesce(
            F.lead(F.timestamp_millis(F.col("ts_ms")), 1).over(w_ord),
            F.lit(SENTINEL_TS).cast("timestamp"),
        ).alias("row_valid_expiration_timestamp"),
        F.row_number().over(w_ord).alias("op_order"),
    )
