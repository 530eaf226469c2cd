"""The txlog-backed SCD2 state must only rewrite files holding batch keys —
the file-skipping property that makes incremental maintenance incremental —
and must commit nothing for a batch without events or a replayed batch."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from change_data_capture_spark.sources import txlog
from change_data_capture_spark.streaming.scd2_stream import Scd2State, apply_batch

_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("price", DecimalType(10, 2)),
        StructField("lsn", LongType()),
        StructField("ts_ms", LongType()),
    ]
)

_BASE = 1_700_000_000_000


def _events(spark, ids):
    return spark.createDataFrame(
        [(i, f"n{i}", "d", None, i * 10 + 1, _BASE + i * 1000) for i in ids],
        _SCHEMA,
    )


def _commit(table_dir, version):
    with open(txlog._commit_path(table_dir, version)) as f:
        return json.load(f)


def test_files_without_batch_keys_not_rewritten(spark):
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)
    # two commits with disjoint id ranges: the table holds >= 2 files
    apply_batch(state, _events(spark, range(100)))
    apply_batch(state, _events(spark, range(100, 200)))
    before = set(txlog.snapshot_files(ws))
    assert len(before) >= 2

    # a one-key batch: only files that contained key 5 may be rewritten
    apply_batch(
        state,
        spark.createDataFrame([(5, "n5b", "d", None, 52, _BASE + 999_000)], _SCHEMA),
    )
    tip = txlog.latest_version(ws)
    assert tip == 2
    removed = set(_commit(ws, tip)["remove"])
    assert removed, "the file holding key 5 must be rewritten"
    assert removed <= before
    for f in removed:
        ids = {r.id for r in spark.read.parquet(f).select("id").collect()}
        assert 5 in ids, f"rewrote {f}, which holds no batch key"
    # every other file of the previous snapshot is still live, same path
    assert before - removed <= set(txlog.snapshot_files(ws))

    # and the merge itself is correct: key 5 now has two intervals chained
    rows = sorted(
        (r.lsn, r.row_valid_expiration_timestamp)
        for r in state.read().where("id = 5").collect()
    )
    assert len(rows) == 2
    assert rows[0][1] is not None


def test_batch_without_lsn_commits_nothing(spark):
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)
    # PERMISSIVE decoding of malformed lines yields all-null rows
    nulls = spark.createDataFrame([(None,) * 6] * 3, _SCHEMA)
    apply_batch(state, nulls)
    assert txlog.latest_version(ws) == -1
    assert state.read() is None

    apply_batch(state, _events(spark, range(10)))
    apply_batch(state, nulls)
    assert txlog.latest_version(ws) == 0


def test_replayed_batch_id_is_a_no_op(spark):
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)
    apply_batch(state, _events(spark, range(10)), batch_id=0)
    apply_batch(state, _events(spark, range(10, 20)), batch_id=1)
    # re-delivery of batch 1 — even with different content — writes nothing
    apply_batch(state, _events(spark, range(20, 30)), batch_id=1)
    assert txlog.latest_version(ws) == 1
    assert state.read().count() == 20
