"""The txlog-backed SCD2 state must only rewrite files holding batch keys —
the file-skipping property that makes incremental maintenance incremental —
must read state as every txlog reader does (deletion vectors applied), and
must commit nothing for a batch without events or a replayed batch."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F
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

    # a one-key batch: only files that contained key 5 may be rewritten.
    # It also replays key 5's committed event (lsn 51) and repeats its new
    # event: both must dedup away, as the anti join against state did.
    new = (5, "n5b", "d", None, 52, _BASE + 999_000)
    replay = (5, "n5", "d", None, 51, _BASE + 5_000)  # as _events made it
    apply_batch(state, spark.createDataFrame([new, replay, new], _SCHEMA))
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
    assert [lsn for lsn, _ in rows] == [51, 52]
    assert rows[0][1] is not None


def test_merge_job_count(spark, count_jobs):
    """One merge is three query shapes (range, touched-file probe,
    rewrite); each extra exchange or footer read is one more Spark job,
    and the fixed cost per job sets a trigger's latency floor."""
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)

    def jobs(batch):
        return count_jobs(lambda: apply_batch(state, batch))[0]

    assert jobs(_events(spark, range(100))) <= 4  # first batch: no state
    jobs(_events(spark, range(100, 200)))
    touching = _events(spark, [5, 150]).withColumn("lsn", F.col("lsn") + 1)
    assert jobs(touching) <= 8
    assert state.read().count() == 202


def test_merge_keeps_deletion_vector_deletes(spark):
    """A merge that rewrites a file must not bring back rows a
    deletion-vector DELETE removed from it: the merge reads state through
    txlog's DV-aware scan, like every other txlog reader."""
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)
    apply_batch(state, _events(spark, range(100)))
    txlog.delete_where(spark, ws, "id = 7", dv_fraction_threshold=1.0)
    (f7,) = [
        f for f in txlog.snapshot_files(ws)
        if spark.read.parquet(f).where("id = 7").count()
    ]
    assert txlog._dv_map(txlog._resolve(ws, None)[0]), "DELETE took the DV path"
    assert spark.read.parquet(f7).where("id = 8").count() == 1  # a file-mate

    apply_batch(state, _events(spark, [8]).withColumn("lsn", F.col("lsn") + 1))
    assert f7 in _commit(ws, txlog.latest_version(ws))["remove"]
    assert state.read().where("id = 7").count() == 0
    assert state.read().where("id = 8").count() == 2


def test_touching_merge_resolves_the_log_once(spark, monkeypatch):
    """A touching merge folds the log once: the stats prune, the
    touched-file probe and the rewrite's scan share one resolved
    snapshot, and so does the ``batch_id`` replay check. Its
    first commit declared the state's schema, which those scans are
    planned with."""
    ws = tempfile.mkdtemp(prefix="scd2_state_")
    state = Scd2State(spark, ws)
    apply_batch(state, _events(spark, range(100)))
    declared = txlog.table_metadata(ws)["schema"]
    assert [n for n, _ in txlog._ddl_fields(declared)] == state.read().columns

    calls = []
    resolve = txlog._resolve
    monkeypatch.setattr(
        txlog, "_resolve", lambda *a: calls.append(a) or resolve(*a)
    )
    apply_batch(state, _events(spark, [5]).withColumn("lsn", F.col("lsn") + 1))
    assert txlog.latest_version(ws) == 1
    assert len(calls) == 1
    calls.clear()
    batch = _events(spark, [6]).withColumn("lsn", F.col("lsn") + 1)
    apply_batch(state, batch, batch_id=0)
    assert txlog.latest_version(ws) == 2
    assert len(calls) == 1


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
