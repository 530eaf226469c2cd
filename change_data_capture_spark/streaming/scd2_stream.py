"""Incremental SCD2 maintenance under streaming — the genuinely hard
streaming piece (SURVEY.md §7 item 2): LEAD needs the *next* event, which a
stream hasn't seen yet, so the batch window rewrite cannot run incrementally.

Design (foreachBatch + MERGE INTO a transaction-log table, the Delta MERGE
shape over add/remove actions):
- state = the full SCD2 table so far, stored as a ``sources.txlog`` table
  whose data files carry per-file ``id`` min/max stats;
- per micro-batch, three query shapes: (1) range: count/min/max ``id``
  of the raw batch prunes the snapshot's files by their ``id`` stats;
  (2) probe: one broadcast semi join finds the files that really hold a
  batch key (``txlog._touched_files``, the probe every txlog rewrite
  shares); (3) rewrite: their batch-key rows become pseudo-events, and
  the batch ``operators.scd2.scd2`` chain re-chains them with the batch,
  its ONE window exchange on ``id`` serving both the (id, lsn) dedup and
  the LSN re-chain; their other rows pass through outside it. One atomic
  version adds the result and removes only the touched files:
  O(touched files + batch), never O(table). The batch is not persisted,
  as re-scanning a small segment costs less than the jobs a cache adds.
- state reads: the merge reads state only through txlog's DV-aware,
  log-schema scan (``txlog._scan_files``), like every other txlog reader,
  so rows a deletion-vector DELETE removed stay removed. The state's
  first commit declares its schema, so every later scan is planned with
  it and opens no footer (a state table written without a declared
  schema is typed from one file footer on the driver, and launches no
  inference job either).
- atomicity: the commit is guarded by ``expected_version = tip + 1``, so
  readers see every version of the SCD2 table fully merged or not at all,
  and a concurrent writer's lost race fails loudly instead of clobbering.
- re-chaining a key from scratch (state rows become pseudo-events carrying
  their original (lsn, start-ts)) keeps history correct even for late
  events whose LSN lands between already-closed intervals — validity
  chaining is order-by-LSN, not arrival.
- idempotent under batch replay, at two levels: a foreachBatch caller
  passes its ``batch_id`` and the commit carries a txn marker for it in
  the SAME commit as the data, so a re-delivered batch (checkpoint
  recovery) at or below the marker of the snapshot the merge resolves
  anyway is a no-op; below the batch level, an event already in state
  dedups against its pseudo-event, so even a replay without a marker
  re-chains to the identical result.
- a batch with no non-null ``lsn`` (e.g. a segment of malformed lines that
  PERMISSIVE decoding turned into null rows) commits nothing — the
  ``merge_into`` empty-source rule.

Correctness contract (tested + oracle-checked): after any partition of the
event log into micro-batches, final state equals the batch
``operators.scd2.scd2`` output on the full log — the same chain code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_spark.operators.scd2 import scd2
from change_data_capture_spark.sources import txlog

_PAYLOAD = ("name", "description", "price")

#: txn-marker app id of every SCD2 state commit made for a foreachBatch id
APP_ID = "scd2_stream"


class Scd2State:
    """Handle on the txlog table holding the SCD2 state."""

    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.table_dir = table_dir

    def read(self) -> DataFrame | None:
        snap = txlog._resolve(self.table_dir)
        if snap.version < 0:
            return None
        return txlog._read_snapshot(self.spark, self.table_dir, snap)


def apply_batch(
    state: Scd2State, batch: DataFrame, batch_id: int | None = None
) -> None:
    """Merge one micro-batch of decoded CDC events into the SCD2 state as
    one atomic txlog commit, rewriting only the files that hold the
    batch's keys. ``batch_id`` (the foreachBatch id) makes a replayed
    batch a no-op."""
    spark, tdir = state.spark, state.table_dir
    # one log walk per merge: the replay check, the prune, the probe and
    # the rewrite read the same resolved snapshot (the initial snapshot,
    # version -1, for a state with no commits yet)
    snap = txlog._resolve(tdir)
    if batch_id is not None:
        last = snap.txns.get(APP_ID)
        if last is not None and batch_id <= int(last):
            return  # replayed batch: its txn marker is already committed
    events = batch.where(F.col("lsn").isNotNull()).select(
        "id", *_PAYLOAD, "lsn", "ts_ms"
    )
    n, lo, hi = events.agg(F.count(F.lit(1)), F.min("id"), F.max("id")).first()
    if n == 0:
        return  # nothing to merge: no empty commit
    # stats prune on the batch's id range (metadata only; a null-id batch
    # can match no state row)
    cand = (
        txlog._files_in(snap, predicate_range=("id", lo, hi))
        if lo is not None
        else []
    )
    keys = F.broadcast(events.select("id"))  # duplicates can't change a semi/anti join
    touched = list(
        txlog._touched_files(
            spark, snap, cand, lambda s: s.join(keys, "id", "left_semi")
        )
    )
    if touched:
        # file-mates of the batch keys pass through unchanged; affected
        # keys re-chain from scratch (state rows become pseudo-events)
        aff = txlog._scan_files(spark, snap, touched)
        passthrough = aff.join(keys, "id", "left_anti")
        events = aff.join(keys, "id", "left_semi").select(
            "id",
            *_PAYLOAD,
            "lsn",
            F.unix_millis(F.col("row_valid_start_timestamp")).alias("ts_ms"),
        ).unionByName(events)
    # the batch SCD2 chain: its one window exchange on id serves both the
    # (id, lsn) dedup and the re-chain; an equal (id, lsn) is the same
    # source event, in state or in batch
    out = scd2(events, payload=(*_PAYLOAD, "lsn"), min_events=1)
    if touched:
        out = passthrough.unionByName(out)
    txlog.commit(
        tdir,
        add=txlog.write_files(out, tdir, stats_cols=["id"]),
        remove=touched,
        expected_version=snap.version + 1,
        txn=None if batch_id is None else {"app_id": APP_ID, "batch_id": batch_id},
        # the first commit declares the state's schema: every later scan
        # is planned with it, so no read launches a footer-inference job
        metadata={"schema": out.schema.toDDL()} if snap.version < 0 else None,
    )
