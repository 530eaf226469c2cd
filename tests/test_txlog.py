"""Protocol invariants of the transaction log (sources/txlog.py):
atomic commits with conflict detection, snapshot isolation / time
travel, and that the foreachBatch txn-marker guard is load-bearing
(a replay WITHOUT it genuinely doubles rows)."""

from __future__ import annotations

import os

import pytest

from change_data_capture_spark.sources import txlog


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_commit_conflict_detection(spark, tmp_path):
    """A rewrite based on a stale read-set must surface
    ConcurrentCommitError, never silently clobber the other writer."""
    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "a")]), t)
    assert txlog.commit(t, add=f0, expected_version=0) == 0
    # two writers both computed their rewrite against version 0
    fa = txlog.write_files(_df(spark, [(1, "writer_a")]), t)
    fb = txlog.write_files(_df(spark, [(1, "writer_b")]), t)
    assert txlog.commit(t, add=fa, remove=f0, expected_version=1) == 1
    with pytest.raises(txlog.ConcurrentCommitError):
        txlog.commit(t, add=fb, remove=f0, expected_version=1)
    # the loser's data files never entered any snapshot
    assert set(txlog.snapshot_files(t)) == set(fa)


def test_blind_append_retries_past_race(spark, tmp_path):
    """Add-only commits (no expected_version) rebase on the new tip
    instead of failing — safe because they remove nothing."""
    t = str(tmp_path / "t")
    txlog.commit(t, add=txlog.write_files(_df(spark, [(1, "a")]), t))
    txlog.commit(t, add=txlog.write_files(_df(spark, [(2, "b")]), t))
    v = txlog.commit(t, add=txlog.write_files(_df(spark, [(3, "c")]), t))
    assert v == 2
    assert txlog.read_version(spark, t).count() == 3


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    """A resolved file list keeps reading its version while later
    rewrites commit (copy-on-write never deletes data files), and
    version= pins any historical snapshot."""
    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "v0")]), t)
    txlog.commit(t, add=f0, expected_version=0)
    resolved_before_rewrite = txlog.snapshot_files(t)

    f1 = txlog.write_files(_df(spark, [(1, "v1")]), t)
    txlog.commit(t, add=f1, remove=f0, expected_version=1)

    # the old reader's resolution is immune to the rewrite
    old = spark.read.parquet(*resolved_before_rewrite).collect()
    assert [r.v for r in old] == ["v0"]
    for f in f0:
        assert os.path.exists(f)  # copy-on-write: file left on disk
    # time travel re-resolves the same snapshot from the log
    assert [r.v for r in txlog.read_version(spark, t, 0).collect()] == ["v0"]
    assert [r.v for r in txlog.read_version(spark, t, 1).collect()] == ["v1"]
    with pytest.raises(ValueError):
        txlog.snapshot_files(t, 2)


def test_txn_marker_guard_is_load_bearing(spark, tmp_path):
    """Replaying a batch WITHOUT the last_txn guard doubles its rows;
    with the guard the replay is a no-op. This is the exact failure mode
    (at-least-once foreachBatch redelivery) the marker exists for."""
    t_unguarded = str(tmp_path / "unguarded")
    t_guarded = str(tmp_path / "guarded")
    app = "ingest"
    batch = _df(spark, [(1, "x"), (2, "y")])

    def apply(table, batch_df, batch_id, guard):
        if guard:
            last = txlog.last_txn(table, app)
            if last is not None and batch_id <= last:
                return
        files = txlog.write_files(batch_df, table)
        txlog.commit(table, add=files, txn={"app_id": app, "batch_id": batch_id})

    for table, guard in ((t_unguarded, False), (t_guarded, True)):
        apply(table, batch, 0, guard)
        apply(table, batch, 0, guard)  # redelivery
    assert txlog.read_version(spark, t_unguarded).count() == 4  # doubled
    assert txlog.read_version(spark, t_guarded).count() == 2  # exactly once
    assert txlog.last_txn(t_guarded, app) == 0
    assert txlog.last_txn(t_guarded, "other_app") is None


def test_checkpoint_shortens_fold_preserves_history(spark, tmp_path):
    """A checkpoint materializes the fold (same snapshot, same txn
    high-water marks) without replacing commits: resolutions past it
    replay only the tail, time travel BEFORE it still works, and
    latest_version ignores checkpoint files."""
    t = str(tmp_path / "t")
    for i in range(4):
        txlog.commit(
            t,
            add=txlog.write_files(_df(spark, [(i, f"v{i}")]), t),
            txn={"app_id": "app", "batch_id": i},
        )
    before = set(txlog.snapshot_files(t))
    ck = txlog.write_checkpoint(t)
    assert ck == 3
    assert txlog.latest_version(t) == 3  # checkpoint is not a commit
    assert set(txlog.snapshot_files(t)) == before
    assert txlog.last_txn(t, "app") == 3  # marks survive the checkpoint
    # pre-checkpoint time travel replays from 0 (commits are all retained)
    assert txlog.read_version(spark, t, 1).count() == 2
    # commits after the checkpoint fold on top of it
    txlog.commit(t, add=txlog.write_files(_df(spark, [(9, "v9")]), t))
    assert txlog.read_version(spark, t).count() == 5


def test_compaction_preserves_data_and_history(spark, sf_dir):
    """OPTIMIZE: the compacted tip is row-identical to the fragmented
    tip, the file count strictly drops, and pre-compaction time travel
    still resolves (copy-on-write keeps fragments on disk)."""
    from change_data_capture_spark.operators.txlog_queries import (
        build_products_txlog,
    )

    t = build_products_txlog(spark, sf_dir)
    tip = txlog.latest_version(t)
    # fragment the tip first (streaming ingest's small-file aftermath)
    small = txlog.write_files(
        txlog.read_version(spark, t, tip).repartition(8), t
    )
    txlog.commit(
        t, add=small, remove=txlog.snapshot_files(t, tip),
        expected_version=tip + 1,
    )
    tip += 1
    frag = txlog.snapshot_files(t, tip)
    assert len(frag) > 1
    rows_before = txlog.read_version(spark, t, tip).count()
    # a bin size below one byte is refused up front, nothing committed
    for bad in (0, -1):
        with pytest.raises(ValueError, match="target_file_bytes"):
            txlog.optimize(spark, t, target_file_bytes=bad)
    assert txlog.latest_version(t) == tip
    assert txlog.optimize(spark, t) == tip + 1
    assert len(txlog.snapshot_files(t)) < len(frag)
    after = txlog.read_version(spark, t)
    assert after.count() == rows_before
    # time travel across the compaction boundary still works
    assert txlog.read_version(spark, t, 1).count() > 0
    old = txlog.read_version(spark, t, tip)
    assert old.exceptAll(after).count() == 0 and after.exceptAll(old).count() == 0


def test_optimize_reconciles_dvs_under_column_mapping(spark, tmp_path):
    """OPTIMIZE on a table with a deletion-vector DELETE and a renamed
    column: one commit rewrites every live file into the computed bin
    count, changes no row (tip, time travel and the change feed agree),
    drops the DV-deleted row for good and keeps stats pruning on the
    logical name."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    txlog.commit(
        t,
        add=txlog.write_files(df.repartition(6), t, stats_cols=["id"]),
        expected_version=0,
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.delete_where(spark, t, "id = 7", dv_fraction_threshold=0.5)
    txlog.rename_column(t, "id", "k")
    pre = txlog.latest_version(t)
    before = txlog.read_version(spark, t)
    assert txlog._dv_map(txlog._resolve(t, pre)[0]), "DELETE took the DV path"
    live = sum(os.path.getsize(p) for p in txlog.snapshot_files(t))
    target = -(-live // 3)
    n_bins = max(1, -(-live // target))

    assert txlog.optimize(spark, t, zorder_by=["k"], target_file_bytes=target) == pre + 1

    after = txlog.read_version(spark, t)
    assert after.columns == ["k", "v"]
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0
    acts = txlog._resolve(t, None)[0]
    assert len(acts) == n_bins == 3
    assert not any(a.get("dv") for a in acts)
    assert after.where("k = 7").count() == 0
    # the pre-OPTIMIZE version reads the same rows, under its own DVs
    old = txlog.read_version(spark, t, pre)
    assert old.exceptAll(after).count() == 0 and after.exceptAll(old).count() == 0
    assert txlog.table_changes(spark, t, pre + 1, key="k").count() == 0
    assert txlog.history(t)[-1]["operation"] == "OPTIMIZE"
    # stats sit under the physical name and prune on the logical one
    assert all("id" in a["stats"] for a in acts)
    kept = txlog.snapshot_files(t, predicate_range=("k", 0, 10))
    assert 0 < len(kept) < n_bins
    got = txlog.read_version(spark, t, predicate_range=("k", 0, 10)).where(
        "k BETWEEN 0 AND 10"
    )
    assert sorted(r.k for r in got.collect()) == [i for i in range(11) if i != 7]
    # an empty snapshot commits nothing
    e = str(tmp_path / "e")
    txlog.commit(e, add=[], expected_version=0, metadata={"schema": "id BIGINT"})
    assert txlog.optimize(spark, e) == 0 and txlog.latest_version(e) == 0


def test_data_skipping_prunes_files_conservatively(spark, tmp_path):
    """Range-clustered writes with stats let a ranged resolution drop
    non-overlapping files driver-side; a stats-less table degrades to
    reading everything (skipping is an optimization, never a filter)."""
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).selectExpr("id", "CAST(id AS STRING) AS v")
    actions = txlog.write_files(
        df.repartitionByRange(8, "id"), t, stats_cols=["id"]
    )
    assert all(isinstance(a, dict) and "id" in a["stats"] for a in actions)
    txlog.commit(t, add=actions, expected_version=0)
    all_files = txlog.snapshot_files(t)
    pruned = txlog.snapshot_files(t, predicate_range=("id", 100, 150))
    assert 0 < len(pruned) < len(all_files)
    got = (
        txlog.read_version(spark, t, predicate_range=("id", 100, 150))
        .where("id BETWEEN 100 AND 150")
        .count()
    )
    assert got == 51
    # stats-less table: every file survives the ranged resolution
    t2 = str(tmp_path / "t2")
    txlog.commit(t2, add=txlog.write_files(df.repartition(4), t2))
    assert len(
        txlog.snapshot_files(t2, predicate_range=("id", 100, 150))
    ) == len(txlog.snapshot_files(t2))


def test_products_txlog_versions_are_distinct_states(spark, sf_dir):
    """The 3-version products table: v0 (creates) < v1 (updates applied)
    have equal key sets, v2 (deletes applied) is a strict subset, and
    the tip read equals the v2 read."""
    from change_data_capture_spark.operators.txlog_queries import (
        build_products_txlog,
    )

    t = build_products_txlog(spark, sf_dir)
    v0 = txlog.read_version(spark, t, 0)
    v1 = txlog.read_version(spark, t, 1)
    v2 = txlog.read_version(spark, t, 2)
    assert v0.count() == v1.count()  # updates rewrite, never add/remove keys
    assert v1.join(v0, "id", "left_anti").count() == 0
    n_deleted = v1.count() - v2.count()
    assert n_deleted > 0  # the generator emits deletes (pk % 16)
    # v1 differs from v0 exactly on the updated images
    changed = (
        v1.alias("a")
        .join(v0.alias("b"), "id")
        .where("a.name <> b.name OR a.price <> b.price")
    )
    assert changed.count() > 0
    tip = txlog.read_version(spark, t)
    assert tip.exceptAll(v2).count() == 0 and v2.exceptAll(tip).count() == 0


def _assert_stats_kept(spark, t):
    """Every live action of ``t`` carries ``id`` stats and a row count,
    so the metadata-only count equals the scanned one."""
    acts = txlog._resolve(t).actions
    assert all("id" in a.get("stats", {}) and "num_rows" in a for a in acts)
    assert txlog.count_rows(t) == txlog.read_version(spark, t).count()


def test_merge_into_rewrites_only_touched_files(spark, tmp_path):
    """MERGE: untouched files keep their exact add actions in the
    snapshot, update/insert semantics are exact (including NULLs via
    UPDATE SET *), the rewritten files keep the table's stats, and a
    disjoint-key merge touches ZERO files."""
    t = str(tmp_path / "t")
    df = spark.range(0, 800).selectExpr("id", "CAST(id AS STRING) AS v")
    txlog.commit(
        t,
        add=txlog.write_files(
            df.repartitionByRange(8, "id"), t, stats_cols=["id"]
        ),
        expected_version=0,
    )
    before = set(txlog.snapshot_files(t))
    # source: update a narrow key band (+ a NULL payload to pin SET *
    # semantics) and insert keys beyond the table's range
    src = spark.createDataFrame(
        [(100, "updated"), (101, None), (5000, "inserted")], "id long, v string"
    )
    version, touched = txlog.merge_into(spark, t, src, key="id")
    assert version == 1
    # the narrow key band lives in 1-2 range-clustered files (2 only if
    # the sampled range boundary happens to split it), never all 8
    assert 1 <= len(touched) <= 2
    after = set(txlog.snapshot_files(t))
    # every untouched file survives with its path unchanged
    assert before - set(touched) <= after
    got = {r.id: r.v for r in txlog.read_version(spark, t).collect()}
    assert len(got) == 801
    assert got[100] == "updated"
    assert got[101] is None  # UPDATE SET * writes NULLs, not COALESCE
    assert got[5000] == "inserted"
    assert got[99] == "99" and got[102] == "102"
    _assert_stats_kept(spark, t)
    # disjoint-key merge: stats pruning finds no candidate, zero rewrites
    assert txlog.snapshot_files(t, predicate_range=("id", 9000, 9000)) == []
    ins_only = spark.createDataFrame([(9000, "x")], "id long, v string")
    v2, touched2 = txlog.merge_into(spark, t, ins_only, key="id")
    assert v2 == 2 and touched2 == []
    assert txlog.read_version(spark, t).count() == 802


def test_vacuum_reclaims_exactly_the_stranded_files(spark, tmp_path):
    """VACUUM: dry_run lists without deleting, the reclaim set is
    exactly the non-tip files, tip reads are bit-identical after, and
    time travel to reclaimed versions fails loudly at read time."""
    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "v0"), (2, "v0")]), t)
    txlog.commit(t, add=f0, expected_version=0)
    f1 = txlog.write_files(_df(spark, [(1, "v1"), (2, "v1")]), t)
    txlog.commit(t, add=f1, remove=f0, expected_version=1)
    tip_rows = sorted(
        (r.id, r.v) for r in txlog.read_version(spark, t).collect()
    )
    listed = txlog.vacuum(t, dry_run=True)
    assert sorted(listed) == sorted(os.path.abspath(p) for p in f0)
    assert all(os.path.exists(p) for p in f0)  # dry run deleted nothing
    deleted = txlog.vacuum(t)
    assert sorted(deleted) == sorted(listed)
    assert not any(os.path.exists(p) for p in f0)
    assert sorted(
        (r.id, r.v) for r in txlog.read_version(spark, t).collect()
    ) == tip_rows
    # time travel to the reclaimed version fails loudly, never silently
    with pytest.raises(Exception):
        txlog.read_version(spark, t, 0).collect()
    # idempotent: nothing left to reclaim
    assert txlog.vacuum(t) == []


def test_zorder_prunes_both_axes_single_key_does_not(spark, tmp_path):
    """The contrast that justifies ZORDER: on a z-ordered table a range
    predicate on EITHER column prunes files; on a single-key-clustered
    table only the leading column prunes."""
    df = spark.range(0, 4096).selectExpr(
        "id AS x", "(id * 2654435761) % 4096 AS y"
    )
    # z-ordered layout: OPTIMIZE ZORDER BY (x, y) into 16 files
    tz = str(tmp_path / "tz")
    txlog.commit(tz, add=txlog.write_files(df, tz), expected_version=0)
    live = sum(os.path.getsize(p) for p in txlog.snapshot_files(tz))
    txlog.optimize(
        spark, tz, zorder_by=["x", "y"], target_file_bytes=-(-live // 16)
    )
    # single-key layout (clustered on x only)
    tx = str(tmp_path / "tx")
    txlog.commit(
        tx,
        add=txlog.write_files(
            df.repartitionByRange(16, "x"), tx, stats_cols=["x", "y"]
        ),
        expected_version=0,
    )
    nz = len(txlog.snapshot_files(tz))
    nx = len(txlog.snapshot_files(tx))
    assert nz == 16
    # leading axis: both layouts prune
    assert len(txlog.snapshot_files(tz, predicate_range=("x", 0, 255))) < nz
    assert len(txlog.snapshot_files(tx, predicate_range=("x", 0, 255))) < nx
    # NON-leading axis: only z-order prunes
    assert len(txlog.snapshot_files(tz, predicate_range=("y", 0, 255))) < nz
    assert len(
        txlog.snapshot_files(tx, predicate_range=("y", 0, 255))
    ) == nx
    # and the pruned read is still exact
    got = (
        txlog.read_version(spark, tz, predicate_range=("y", 0, 255))
        .where("y BETWEEN 0 AND 255")
        .count()
    )
    expect = df.where("y BETWEEN 0 AND 255").count()
    assert got == expect
    # an all-pruned resolution returns a typed empty frame, not an error
    empty = txlog.read_version(
        spark, tz, predicate_range=("y", 10**9, 2 * 10**9)
    )
    assert empty.count() == 0 and empty.columns == ["x", "y"]


def test_txlog_stream_source_offsets_are_versions(spark, tmp_path):
    """The streaming-source contract over the log: offsets are versions,
    partitions(start, end) plans exactly the files of the commits in
    range (one InputPartition per file — the executor parallelism unit),
    replanning the same range yields the same rows (commits + files are
    immutable, so checkpoint recovery is exactly-once), and a rewrite
    commit in the consumed range raises (append-only, the Delta
    streaming-source contract without skipChangeCommits)."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    txlog.commit(t, add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]), t))
    txlog.commit(t, add=txlog.write_files(_df(spark, [(3, "c")]), t))
    r = TxlogStreamReader(
        spark.createDataFrame([], "id long, v string").schema, {"path": t}
    )
    assert r.initialOffset() == {"version": -1}
    tip = r.latestOffset()
    assert tip == {"version": 1}

    def drain(start, end):
        # read() yields Arrow RecordBatches (the columnar executor path);
        # flatten them back to row tuples so equality checks stay simple
        return sorted(
            tuple(row.values())
            for p in r.partitions(start, end)
            for batch in r.read(p)
            for row in batch.to_pylist()
        )

    assert drain({"version": -1}, tip) == [(1, "a"), (2, "b"), (3, "c")]
    # nothing new: empty plan
    assert r.partitions(tip, tip) == []
    # a new commit is picked up incrementally, not re-read
    txlog.commit(t, add=txlog.write_files(_df(spark, [(4, "d")]), t))
    assert r.latestOffset() == {"version": 2}
    assert drain({"version": 1}, {"version": 2}) == [(4, "d")]
    # checkpoint recovery: replanning a committed range is bit-identical
    assert drain({"version": 0}, {"version": 2}) == [(3, "c"), (4, "d")]
    # append-only contract: a rewrite commit in range raises loudly
    frag = txlog.snapshot_files(t)
    txlog.commit(
        t,
        add=txlog.write_files(txlog.read_version(spark, t).coalesce(1), t),
        remove=frag,
        expected_version=3,
    )
    with pytest.raises(ValueError, match="append-only"):
        r.partitions({"version": 2}, {"version": 3})


def test_restore_rewinds_tip_metadata_only(spark, sf_dir):
    """RESTORE: the tip equals the restored version's snapshot, no data
    file is created (metadata-only), the restore is itself a new
    version, and the pre-restore tip stays time-travelable."""
    from change_data_capture_spark.operators.txlog_queries import (
        build_products_txlog,
    )

    t = build_products_txlog(spark, sf_dir)

    def data_files():
        return sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(t, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    on_disk_before = data_files()
    pre_tip = txlog.read_version(spark, t)  # v2 (deletes applied)
    v = txlog.restore(t, 1)
    assert v == 3  # restore is a NEW version, history intact
    assert data_files() == on_disk_before  # metadata-only: no data moved
    tip = txlog.read_version(spark, t)
    v1 = txlog.read_version(spark, t, 1)
    assert tip.exceptAll(v1).count() == 0 and v1.exceptAll(tip).count() == 0
    # the pre-restore tip is still reachable by time travel
    old = txlog.read_version(spark, t, 2)
    assert old.exceptAll(pre_tip).count() == 0
    assert old.count() < tip.count()  # v2 had the deletes applied


def test_metadata_count_refuses_without_stats(spark, tmp_path):
    """count_rows answers from per-file num_rows when every action has
    one, counts per version, and returns None (refuses) the moment a
    stats-less file joins the snapshot."""
    t = str(tmp_path / "t")
    df = spark.range(0, 500).selectExpr("id", "CAST(id AS STRING) AS v")
    txlog.commit(
        t, add=txlog.write_files(df, t, stats_cols=["id"]), expected_version=0
    )
    assert txlog.count_rows(t) == 500
    txlog.commit(
        t,
        add=txlog.write_files(
            spark.range(500, 600).selectExpr("id", "CAST(id AS STRING) AS v"),
            t,
            stats_cols=["id"],
        ),
    )
    assert txlog.count_rows(t) == 600
    assert txlog.count_rows(t, 0) == 500  # versioned metadata count
    # a stats-less writer's file makes the metadata answer unavailable
    txlog.commit(
        t,
        add=txlog.write_files(
            spark.range(600, 650).selectExpr("id", "CAST(id AS STRING) AS v"), t
        ),
    )
    assert txlog.count_rows(t) is None
    assert txlog.count_rows(t, 1) == 600  # older versions still answer


def test_validated_write_enforces_schema_and_constraints(spark, tmp_path):
    """The write path refuses what the table's metadata forbids: a
    CHECK violation raises naming the constraint and row count with NO
    files written; schema drift raises unless evolve=True; NULL
    predicate results pass (SQL CHECK semantics); and metadata
    survives a log checkpoint."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=[],
        expected_version=0,
        metadata={
            "schema": "id BIGINT, v STRING",
            "constraints": {"id_positive": "id > 0"},
        },
    )
    ok = spark.createDataFrame([(1, "a"), (2, None)], "id long, v string")
    txlog.commit(t, add=txlog.validated_write(ok, t))
    assert txlog.read_version(spark, t).count() == 2

    def data_file_count():
        return sum(
            1
            for dp, _, fs in os.walk(os.path.join(t, "data"))
            for f in fs
            if f.endswith(".parquet")
        )

    n_before = data_file_count()
    bad = spark.createDataFrame([(0, "zero"), (-1, "neg")], "id long, v string")
    with pytest.raises(txlog.ConstraintViolation, match="id_positive.*2 row"):
        txlog.validated_write(bad, t)
    assert data_file_count() == n_before  # refused BEFORE writing
    # NULL predicate result passes — SQL CHECK semantics
    nullish = spark.createDataFrame([(None, "n")], "id long, v string")
    with pytest.raises(txlog.ConstraintViolation):
        # but a second constraint CAN catch it explicitly
        t2 = str(tmp_path / "t2")
        txlog.commit(
            t2, add=[],
            metadata={"constraints": {"id_present": "id IS NOT NULL"}},
        )
        txlog.validated_write(nullish, t2)
    txlog.commit(t, add=txlog.validated_write(nullish, t))  # id > 0 -> NULL -> passes
    assert txlog.read_version(spark, t).count() == 3
    # schema drift refused, acknowledged evolution allowed
    drifted = spark.createDataFrame([(5, "e", 1.5)], "id long, v string, extra double")
    with pytest.raises(txlog.SchemaMismatch, match="evolve=True"):
        txlog.validated_write(drifted, t)
    acts = txlog.validated_write(drifted, t, evolve=True)
    txlog.commit(
        t, add=acts,
        metadata={
            "schema": "id BIGINT, v STRING, extra DOUBLE",
            "constraints": {"id_positive": "id > 0"},
        },
    )
    assert txlog.table_metadata(t)["schema"].endswith("extra DOUBLE")
    # metadata rides checkpoints like every other fold component
    txlog.write_checkpoint(t)
    assert txlog.table_metadata(t)["constraints"] == {"id_positive": "id > 0"}


def test_commit_tmp_hygiene_and_full_content_publish(spark, tmp_path):
    """Round-7 commit hardening, pinned: (a) every published commit file
    is complete JSON (never empty/partial — serialization happens before
    any log-visible syscall); (b) the private .tmp is removed on the
    success path AND on a serialization failure; (c) a crash-stranded
    .tmp is swept by vacuum once it ages past the grace window, and the
    log listing never folds it meanwhile."""
    t = str(tmp_path / "t")
    txlog.commit(t, add=txlog.write_files(_df(spark, [(1, "a")]), t))
    ldir = os.path.join(t, "_txlog")
    assert not [f for f in os.listdir(ldir) if f.endswith(".tmp")]
    import json as _json

    for f in os.listdir(ldir):
        if f.endswith(".json") and not f.endswith(".checkpoint.json"):
            c = _json.load(open(os.path.join(ldir, f)))  # complete JSON
            assert c["version"] == int(f[: -len(".json")])
    # a json-unserializable payload fails BEFORE touching the log, tmp-free
    with pytest.raises(TypeError):
        txlog.commit(t, add=[object()])
    assert not [f for f in os.listdir(ldir) if f.endswith(".tmp")]
    assert txlog.latest_version(t) == 0
    # simulate a writer that crashed between os.link and os.unlink(tmp)
    stranded = os.path.join(ldir, "00000000000000000001.json.deadbeef.tmp")
    open(stranded, "w").write('{"partial":')
    assert txlog.latest_version(t) == 0  # listing folds *.json only
    assert txlog.vacuum(t, dry_run=True) == []  # inside grace: kept
    old = os.stat(stranded).st_mtime - 3600
    os.utime(stranded, (old, old))
    # tmp sweeps are removed but NOT reported: the return value means
    # reclaimed data files only (there are none here)
    assert txlog.vacuum(t) == []
    assert not os.path.exists(stranded)


def test_commit_survives_nfs_style_link_eexist(spark, tmp_path, monkeypatch):
    """NFS retransmit idiom: os.link succeeds server-side but the
    client sees EEXIST on the retransmitted reply. The commit must probe
    st_nlink == 2 on its private tmp and report the race as WON, not
    lost (a false ConcurrentCommitError here would abort a commit whose
    effects are already durable)."""
    t = str(tmp_path / "t")
    acts = txlog.write_files(_df(spark, [(1, "a")]), t)
    real_link = os.link

    def flaky_link(src, dst, **kw):
        real_link(src, dst, **kw)
        raise FileExistsError(17, "EEXIST after retransmit", dst)

    monkeypatch.setattr(os, "link", flaky_link)
    assert txlog.commit(t, add=acts, expected_version=0) == 0
    monkeypatch.undo()
    assert txlog.latest_version(t) == 0
    assert [r.v for r in txlog.read_version(spark, t).collect()] == ["a"]


def test_concurrent_writers_arbitrate_through_the_log(spark, tmp_path):
    """Two-writer stress: racing blind appends interleave into a
    contiguous, gap-free version sequence with every payload intact
    (full-content publish under real contention), and racing GUARDED
    rewrites resolve to exactly one winner + one ConcurrentCommitError."""
    import json as _json
    import threading

    t = str(tmp_path / "t")
    per_writer = 12
    # data files pre-written serially: the race under test is commit()'s
    # filesystem arbitration, not Spark's thread-safety
    acts = {
        (w, i): txlog.write_files(_df(spark, [(w * 100 + i, f"w{w}b{i}")]), t)
        for w in (0, 1)
        for i in range(per_writer)
    }
    errs = []

    def run(w):
        try:
            for i in range(per_writer):
                txlog.commit(t, add=acts[(w, i)])
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th = [threading.Thread(target=run, args=(w,)) for w in (0, 1)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    tip = txlog.latest_version(t)
    assert tip == 2 * per_writer - 1  # contiguous, no version lost
    ldir = os.path.join(t, "_txlog")
    for v in range(tip + 1):
        c = _json.load(open(os.path.join(ldir, f"{v:020d}.json")))
        assert c["version"] == v and len(c["add"]) >= 1
    assert txlog.read_version(spark, t).count() == 2 * per_writer
    assert not [f for f in os.listdir(ldir) if f.endswith(".tmp")]

    # guarded rewrites: both computed against the same tip — one winner
    full = txlog.snapshot_files(t)
    ra = txlog.write_files(_df(spark, [(1, "rw_a")]), t)
    rb = txlog.write_files(_df(spark, [(1, "rw_b")]), t)
    results = {}

    def rewrite(name, add):
        try:
            results[name] = txlog.commit(
                t, add=add, remove=full, expected_version=tip + 1
            )
        except txlog.ConcurrentCommitError:
            results[name] = "lost"

    th = [
        threading.Thread(target=rewrite, args=("a", ra)),
        threading.Thread(target=rewrite, args=("b", rb)),
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert sorted(results.values(), key=str) == [tip + 1, "lost"]
    assert txlog.read_version(spark, t).count() == 1


def test_delete_where_rewrites_only_matching_files(spark, tmp_path):
    """Predicate DELETE: files outside the predicate envelope keep
    their add actions byte-untouched, the rewritten file keeps the
    table's stats; a NULL predicate result KEEPS the row (SQL DELETE
    semantics); a no-match delete makes NO commit."""
    t = str(tmp_path / "t")
    adds = []
    for lo in (0, 100, 200):  # three files with disjoint id ranges
        adds += txlog.write_files(
            _df(spark, [(lo + j, f"r{lo + j}") for j in range(5)]).repartition(1),
            t,
            stats_cols=["id"],
        )
    assert len(adds) == 3
    txlog.commit(t, add=adds, expected_version=0)
    before = {a["path"]: a for a in adds}

    v, touched = txlog.delete_where(
        spark, t, "id BETWEEN 101 AND 103", prune_range=("id", 101, 103),
    )
    assert v == 1 and len(touched) == 1
    assert touched[0] == next(p for p in before
                              if before[p]["stats"]["id"][0] == 100)
    after = {a["path"] if isinstance(a, dict) else a
             for a in (txlog.snapshot_files(t))}
    # the two untouched files are still served by their ORIGINAL paths
    untouched = [p for p in before if p != touched[0]]
    assert set(untouched) <= set(after)
    got = sorted(r.id for r in txlog.read_version(spark, t).collect())
    assert got == [0, 1, 2, 3, 4, 100, 104, 200, 201, 202, 203, 204]
    _assert_stats_kept(spark, t)
    # a range that misses the rewritten rows drops the rewritten file
    low = next(p for p in before if before[p]["stats"]["id"][0] == 0)
    assert txlog.snapshot_files(t, predicate_range=("id", 0, 4)) == [low]

    # NULL predicate keeps the row
    t2 = str(tmp_path / "t2")
    txlog.commit(
        t2,
        add=txlog.write_files(_df(spark, [(1, "x"), (None, "nullkey")]), t2),
        expected_version=0,
    )
    txlog.delete_where(spark, t2, "id > 0")
    assert sorted(r.v for r in txlog.read_version(spark, t2).collect()) == [
        "nullkey"
    ]

    # no-match: metadata-only no-op, NO commit
    tip = txlog.latest_version(t)
    v2, touched2 = txlog.delete_where(spark, t, "id > 99999")
    assert (v2, touched2) == (tip, [])
    assert txlog.latest_version(t) == tip


def test_update_where_rewrites_only_matching_files(spark, tmp_path):
    """Predicate UPDATE: files outside the predicate envelope keep
    their add actions byte-untouched, the rewritten file keeps the
    table's stats (so a later small DELETE on it takes the
    deletion-vector path); a NULL predicate result leaves
    the row unchanged (SQL UPDATE semantics); a no-match update makes
    NO commit; every SET expression sees the PRE-update row image; an
    unknown SET column raises."""
    t = str(tmp_path / "t")
    adds = []
    for lo in (0, 100, 200):  # three files with disjoint id ranges
        adds += txlog.write_files(
            _df(spark, [(lo + j, f"r{lo + j}") for j in range(5)]).repartition(1),
            t,
            stats_cols=["id"],
        )
    assert len(adds) == 3
    txlog.commit(t, add=adds, expected_version=0)
    before = {a["path"]: a for a in adds}

    v, touched = txlog.update_where(
        spark, t, "id BETWEEN 101 AND 103", {"v": "upper(v)"},
        prune_range=("id", 101, 103),
    )
    assert v == 1 and len(touched) == 1
    assert touched[0] == next(p for p in before
                              if before[p]["stats"]["id"][0] == 100)
    after = {a["path"] if isinstance(a, dict) else a
             for a in txlog.snapshot_files(t)}
    # the two untouched files are still served by their ORIGINAL paths
    untouched = [p for p in before if p != touched[0]]
    assert set(untouched) <= set(after)
    got = {r.id: r.v for r in txlog.read_version(spark, t).collect()}
    assert len(got) == 15  # UPDATE never changes cardinality
    assert {i: got[i] for i in (100, 101, 102, 103, 104)} == {
        100: "r100", 101: "R101", 102: "R102", 103: "R103", 104: "r104",
    }
    assert all(got[i] == f"r{i}" for i in (0, 1, 2, 3, 4, 200, 201, 202))
    _assert_stats_kept(spark, t)
    # a range that misses the rewritten rows drops the rewritten file
    low = next(p for p in before if before[p]["stats"]["id"][0] == 0)
    assert txlog.snapshot_files(t, predicate_range=("id", 0, 4)) == [low]
    # one row of the rewritten file's five: routed by its num_rows to a DV
    txlog.delete_where(spark, t, "id = 104", dv_fraction_threshold=0.5)
    assert txlog._dv_map(txlog._resolve(t).actions)

    # NULL predicate leaves the row unchanged
    t2 = str(tmp_path / "t2")
    txlog.commit(
        t2,
        add=txlog.write_files(_df(spark, [(1, "x"), (None, "nullkey")]), t2),
        expected_version=0,
    )
    txlog.update_where(spark, t2, "id > 0", {"v": "'hit'"})
    assert sorted(r.v for r in txlog.read_version(spark, t2).collect()) == [
        "hit", "nullkey",
    ]

    # SET sees the pre-update image: a two-column swap actually swaps
    t3 = str(tmp_path / "t3")
    sw = spark.createDataFrame([(1, "A", "B")], "id INT, a STRING, b STRING")
    txlog.commit(t3, add=txlog.write_files(sw, t3), expected_version=0)
    txlog.update_where(spark, t3, "id = 1", {"a": "b", "b": "a"})
    r = txlog.read_version(spark, t3).collect()[0]
    assert (r.a, r.b) == ("B", "A")

    # unknown SET column raises (UPDATE never adds columns)
    with pytest.raises(ValueError, match="non-existent column"):
        txlog.update_where(spark, t3, "id = 1", {"zzz": "1"})

    # non-coercible SET expression raises at analysis (Delta UPDATE
    # semantics) instead of silently NULLing data through a cast
    with pytest.raises(ValueError, match="cannot store"):
        txlog.update_where(spark, t3, "id = 1", {"id": "a"})  # string→int
    # ...while sane store assignments still pass: numeric widening + NULL
    txlog.update_where(spark, t3, "id = 1", {"id": "CAST(7 AS TINYINT)"})
    assert txlog.read_version(spark, t3).collect()[0].id == 7
    txlog.update_where(spark, t3, "id = 7", {"a": "NULL"})
    assert txlog.read_version(spark, t3).collect()[0].a is None

    # complex-typed columns: the store-assignment check compares types
    # IGNORING nullability at any depth — array('x') resolves with
    # containsNull=false while the stored parquet column is
    # containsNull=true, and that UPDATE must be accepted (Spark's own
    # ANSI store assignment ignores nullability); a genuinely wrong
    # element type still raises
    t4 = str(tmp_path / "t4")
    arr = spark.createDataFrame(
        [(1, ["a", "b"])], "id INT, tags ARRAY<STRING>"
    )
    txlog.commit(t4, add=txlog.write_files(arr, t4), expected_version=0)
    txlog.update_where(spark, t4, "id = 1", {"tags": "array('x')"})
    assert txlog.read_version(spark, t4).collect()[0].tags == ["x"]
    with pytest.raises(ValueError, match="cannot store"):
        txlog.update_where(spark, t4, "id = 1", {"tags": "array(1)"})

    # no-match: metadata-only no-op, NO commit
    tip = txlog.latest_version(t)
    v2, touched2 = txlog.update_where(spark, t, "id > 99999", {"v": "'x'"})
    assert (v2, touched2) == (tip, [])
    assert txlog.latest_version(t) == tip


def test_rewrite_with_retry_gives_liveness_under_contention(spark, tmp_path):
    """Racing GUARDED rewrites through rewrite_with_retry must BOTH land
    (liveness on top of the arbitration the bare-commit stress pins):
    each rewrite recomputes against the CURRENT tip, so two concurrent
    read-modify-write increments serialize to +2, never a lost update.
    Exhausted attempts propagate the ConcurrentCommitError."""
    import threading

    t = str(tmp_path / "t")
    txlog.commit(
        t, add=txlog.write_files(_df(spark, [(1, "0")]), t), expected_version=0
    )
    errs = []

    def incr():
        def rewrite(tip):
            old = txlog.snapshot_files(t, tip)
            cur = int(txlog.read_version(spark, t, tip).collect()[0].v)
            return txlog.write_files(_df(spark, [(1, str(cur + 1))]), t), old

        try:
            txlog.rewrite_with_retry(t, rewrite)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    th = [threading.Thread(target=incr) for _ in range(2)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    assert txlog.latest_version(t) == 2  # both rewrites landed
    assert [r.v for r in txlog.read_version(spark, t).collect()] == ["2"]

    # bounded: zero attempts allowed -> the race error surfaces
    blocker = txlog.write_files(_df(spark, [(9, "x")]), t)

    def always_stale(tip):
        txlog.commit(t, add=blocker)  # someone else lands first
        return txlog.write_files(_df(spark, [(1, "z")]), t), []

    with pytest.raises(txlog.ConcurrentCommitError):
        txlog.rewrite_with_retry(t, always_stale, max_attempts=1,
                                 backoff_seconds=0.0)


def test_vacuum_retention_keeps_recent_versions(spark, tmp_path):
    """retention_versions=N keeps every file live in any of the newest
    N+1 snapshots: a reader pinned to tip-1 finishes AFTER the vacuum,
    older pre-images are reclaimed, and retention-0 stays the subset
    case that closes the window."""
    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "v0")]), t)
    txlog.commit(t, add=f0, expected_version=0)
    f1 = txlog.write_files(_df(spark, [(1, "v1")]), t)
    txlog.commit(t, add=f1, remove=f0, expected_version=1)
    f2 = txlog.write_files(_df(spark, [(1, "v2")]), t)
    txlog.commit(t, add=f2, remove=f1, expected_version=2)

    reclaimed = txlog.vacuum(t, retention_versions=1)
    assert reclaimed == [os.path.abspath(p) for p in f0]  # v0 out, v1 kept
    # the retained historical snapshot still reads AFTER the vacuum
    assert [r.v for r in txlog.read_version(spark, t, 1).collect()] == ["v1"]
    assert [r.v for r in txlog.read_version(spark, t, 2).collect()] == ["v2"]
    with pytest.raises(Exception):  # past the horizon: loud, not silent
        txlog.read_version(spark, t, 0).collect()
    # closing the window: retention-0 reclaims v1's stranded files
    assert txlog.vacuum(t) == [os.path.abspath(p) for p in f1]
    assert [r.v for r in txlog.read_version(spark, t).collect()] == ["v2"]


def test_log_walk_reads_each_commit_once(tmp_path, monkeypatch):
    """Commit files read per call stay bounded by the log tail: vacuum
    folds the whole log in ONE forward pass (not one snapshot resolution
    per retained version), a resolution after a checkpoint reads only
    the commits after it, and the fold is keyed by path — a commit that
    re-adds a live path without removing it leaves one live file."""
    import builtins
    import collections
    import re

    t = str(tmp_path / "t")
    f = [os.path.join(t, "data", f"f{v}.parquet") for v in range(20)]
    for v in range(20):  # odd versions rewrite the previous version's file
        txlog.commit(
            t, add=[f[v]], remove=[f[v - 1]] if v % 2 else [], expected_version=v
        )
    opens: collections.Counter = collections.Counter()
    real_open = builtins.open
    commit_file = re.compile(r"_txlog[/\\](\d{20})\.json$")

    def counting_open(file, *args, **kwargs):
        m = commit_file.search(str(file))
        if m:
            opens[int(m.group(1))] += 1
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting_open)
    txlog.vacuum(t, retention_versions=5)
    assert sorted(opens) == list(range(20))
    assert max(opens.values()) == 1, opens

    txlog.write_checkpoint(t, 14)
    opens.clear()
    txlog._resolve(t, None)
    assert sorted(opens) == list(range(15, 20)) and max(opens.values()) == 1
    monkeypatch.undo()

    live = f[1::2]
    assert txlog.snapshot_files(t) == live
    txlog.commit(t, add=[f[19]], expected_version=20)  # re-add, no remove
    assert txlog.snapshot_files(t) == live
    # removed and re-added in one commit: the path moves to the end
    txlog.commit(t, add=[f[1]], remove=[f[1]], expected_version=21)
    assert txlog.snapshot_files(t) == live[1:] + [f[1]]


def test_one_log_listing_per_resolution(spark, tmp_path, monkeypatch):
    """A snapshot resolution lists ``_txlog/`` once: the tip and the
    newest checkpoint come from the same listing, a table with no
    commits is the initial snapshot of that same listing (no guard of
    its own), and a write commits on the version it resolved instead of
    listing the tip first. The only other listing is ``commit``'s own
    tip check. ``table_changes`` takes its range check from its END
    resolution; a range holding a rewrite also resolves the version
    before it."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
        TxlogStreamReader,
    )
    from change_data_capture_spark.streaming.scd2_stream import (
        Scd2State,
        apply_batch,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t, add=[], expected_version=0, metadata={"schema": "id BIGINT, v STRING"}
    )
    rows = [(i, f"v{i}") for i in range(8)]
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, rows), t, stats_cols=["id"]),
        expected_version=1,
    )
    txlog.write_checkpoint(t)  # a checkpoint costs no listing of its own
    scd2_ddl = (
        "id BIGINT, name STRING, description STRING, price DECIMAL(10,2), "
        "lsn BIGINT, ts_ms BIGINT"
    )
    state = Scd2State(spark, str(tmp_path / "s"))
    apply_batch(
        state,
        spark.createDataFrame(
            [(i, f"n{i}", "d", None, 1, 1_000 * i) for i in range(8)], scd2_ddl
        ),
        batch_id=0,
    )
    touching = spark.createDataFrame([(3, "n3b", "d", None, 2, 9_000)], scd2_ddl)

    seen = []
    real_listdir = os.listdir

    def counting_listdir(path="."):
        if os.path.basename(os.path.normpath(str(path))) == "_txlog":
            seen.append(path)
        return real_listdir(path)

    monkeypatch.setattr(os, "listdir", counting_listdir)

    def listings(call) -> int:
        before = len(seen)
        call()
        return len(seen) - before

    schema = spark.createDataFrame([], "id long, v string").schema
    counts = {
        "_resolve": listings(lambda: txlog._resolve(t)),
        "snapshot_files": listings(lambda: txlog.snapshot_files(t)),
        "read_version": listings(lambda: txlog.read_version(spark, t)),
        "table_metadata": listings(lambda: txlog.table_metadata(t)),
        "count_rows": listings(lambda: txlog.count_rows(t)),
        "last_txn": listings(lambda: txlog.last_txn(t, "app")),
        "TxlogStreamReader": listings(
            lambda: TxlogStreamReader(schema, {"path": t})
        ),
        "schema": listings(
            lambda: TxlogStreamDataSource({"path": t}).schema()
        ),
        "merge_into": listings(
            lambda: txlog.merge_into(spark, t, _df(spark, [(1, "m")]), "id")
        ),
        "delete_where": listings(lambda: txlog.delete_where(spark, t, "id = 2")),
        "update_where": listings(
            lambda: txlog.update_where(spark, t, "id = 3", {"v": "'u'"})
        ),
        "optimize": listings(lambda: txlog.optimize(spark, t)),
        "rename_column": listings(lambda: txlog.rename_column(t, "v", "w")),
        "drop_column": listings(lambda: txlog.drop_column(t, "w")),
        "apply_batch": listings(lambda: apply_batch(state, touching, batch_id=1)),
        "Scd2State.read": listings(state.read),
        # v1 appended; v2 is the MERGE rewrite, whose remove side
        # resolves v1
        "table_changes append": listings(
            lambda: txlog.table_changes(spark, t, 1, 1)
        ),
        "table_changes rewrite": listings(
            lambda: txlog.table_changes(spark, t, 1, 2)
        ),
    }
    monkeypatch.undo()
    assert counts == {
        "_resolve": 1,
        "snapshot_files": 1,
        "read_version": 1,
        "table_metadata": 1,
        "count_rows": 1,
        "last_txn": 1,
        "TxlogStreamReader": 1,
        "schema": 1,
        "merge_into": 2,
        "delete_where": 2,
        "update_where": 2,
        "optimize": 2,
        "rename_column": 2,
        "drop_column": 2,
        "apply_batch": 2,
        "Scd2State.read": 1,
        "table_changes append": 1,
        "table_changes rewrite": 2,
    }
    # every rewrite committed: a no-op would have skipped commit's listing
    assert txlog.latest_version(t) == 7
    assert txlog.latest_version(state.table_dir) == 1


def test_schema_evolution_read_is_log_governed(spark, tmp_path):
    """The log's declared schema governs every snapshot read: after an
    evolution commit, OLD files are planned with the evolved shape and
    null-fill the new column (no mergeSchema footer sweep); time travel
    to a pre-evolution version reads with THAT version's schema; and an
    old-shape write after evolution is refused without evolve=True."""
    t = str(tmp_path / "t")
    txlog.commit(t, add=[], expected_version=0,
                 metadata={"schema": "id BIGINT, v STRING"})
    old = spark.createDataFrame([(1, "old")], "id long, v string")
    txlog.commit(t, add=txlog.validated_write(old, t), expected_version=1)
    new = spark.createDataFrame(
        [(2, "new", "cat")], "id long, v string, category string"
    )
    txlog.commit(
        t,
        add=txlog.validated_write(new, t, evolve=True),
        expected_version=2,
        metadata={"schema": "id BIGINT, v STRING, category STRING"},
    )
    tip = txlog.read_version(spark, t)
    assert tip.columns == ["id", "v", "category"]
    rows = {r.id: r.category for r in tip.collect()}
    assert rows == {1: None, 2: "cat"}  # old file null-filled at scan
    # pre-evolution time travel keeps the original shape
    assert txlog.read_version(spark, t, 1).columns == ["id", "v"]
    # the old shape is now a refused drift
    with pytest.raises(txlog.SchemaMismatch):
        txlog.validated_write(old, t)


def test_dml_reads_are_log_governed_after_evolution(spark, tmp_path):
    """DML rewrites (UPDATE/DELETE/MERGE) on an evolved table must read
    touched files with the LOG-GOVERNED schema (same rule as
    read_version): pre-evolution files lack the new column, so a raw
    parquet read would fail or re-narrow the shape mid-rewrite. UPDATE
    may SET the evolved column on an old row (null-filled pre-image),
    DELETE may predicate on it (NULL keeps the row), and the rewritten
    files keep the evolved shape."""
    t = str(tmp_path / "t")
    txlog.commit(t, add=[], expected_version=0,
                 metadata={"schema": "id BIGINT, v STRING"})
    old = spark.createDataFrame([(1, "old"), (2, "old2")], "id long, v string")
    txlog.commit(t, add=txlog.validated_write(old, t), expected_version=1)
    new = spark.createDataFrame(
        [(3, "new", "cat")], "id long, v string, category string"
    )
    txlog.commit(
        t,
        add=txlog.validated_write(new, t, evolve=True),
        expected_version=2,
        metadata={"schema": "id BIGINT, v STRING, category STRING"},
    )
    # UPDATE touches an OLD file and SETs the evolved column
    v, touched = txlog.update_where(
        spark, t, "id = 1", {"category": "'backfilled'", "v": "upper(v)"}
    )
    assert touched, "old file must be discoverable through the evolved read"
    got = {r.id: (r.v, r.category) for r in txlog.read_version(spark, t).collect()}
    assert got == {
        1: ("OLD", "backfilled"),
        2: ("old2", None),  # same file, untouched row keeps null fill
        3: ("new", "cat"),
    }
    # DELETE predicated on the evolved column: NULL keeps pre-evolution rows
    txlog.delete_where(spark, t, "category = 'cat'")
    assert sorted(r.id for r in txlog.read_version(spark, t).collect()) == [1, 2]
    # MERGE a new image across the evolved shape
    src = spark.createDataFrame(
        [(2, "merged", "m")], "id long, v string, category string"
    )
    txlog.merge_into(spark, t, src, "id")
    got = {r.id: (r.v, r.category) for r in txlog.read_version(spark, t).collect()}
    assert got == {1: ("OLD", "backfilled"), 2: ("merged", "m")}


def test_history_records_operations_and_counts(spark, tmp_path):
    """history() reports the recorded operation name per version (the
    commitInfo twin), classifies legacy commits by action shape, sums
    rows_added from per-file num_rows, and refuses (None) when a commit's
    adds carry no counts — the count_rows contract."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]), t,
                              stats_cols=["id"]),
        expected_version=0,
        operation="WRITE",
    )
    txlog.update_where(spark, t, "id = 1", {"v": "upper(v)"})
    txlog.delete_where(spark, t, "id = 2")
    # legacy commit: no operation field -> shape classification (add-only)
    txlog.commit(t, add=txlog.write_files(_df(spark, [(3, "c")]), t),
                 expected_version=3)
    txlog.commit(t, add=[], expected_version=4,
                 metadata={"schema": "id INT, v STRING"})

    h = txlog.history(t)
    assert [r["version"] for r in h] == [0, 1, 2, 3, 4]
    assert [r["operation"] for r in h] == [
        "WRITE", "UPDATE", "DELETE", "WRITE", "SET METADATA",
    ]
    assert h[0]["rows_added"] == 2
    assert h[3]["rows_added"] is None  # stats-less write: refuse, not guess
    assert h[4]["rows_added"] is None and h[4]["metadata_changed"]
    assert (h[2]["n_add"], h[2]["n_remove"]) == (1, 1)


def test_vacuum_spares_inflight_uncommitted_files(spark, tmp_path):
    """A concurrent writer's write_files() output is referenced by NO
    commit until its commit lands; vacuum must not destroy it inside
    the data grace window — doing so corrupts the writer's upcoming tip
    permanently. Once-committed pre-images stay age-irrelevant (the
    retention window alone governs them, as the other vacuum tests
    pin); only never-referenced young files get the grace."""
    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "a")]), t)
    txlog.commit(t, add=f0, expected_version=0)
    # writer B is mid-transaction: files on disk, commit not yet landed
    pending = txlog.write_files(_df(spark, [(2, "b")]), t)
    reclaimed = txlog.vacuum(t)
    assert reclaimed == []  # grace protects the pending write
    txlog.commit(t, add=pending, expected_version=1)
    got = sorted(r.id for r in txlog.read_version(spark, t).collect())
    assert got == [1, 2]  # the commit lands intact after the vacuum
    # with the grace disabled (operator asserts no writer is in flight)
    orphan = txlog.write_files(_df(spark, [(3, "c")]), t)
    reclaimed = txlog.vacuum(t, data_grace_seconds=0)
    assert {os.path.abspath(txlog._action_path(a)) for a in orphan} <= {
        os.path.abspath(p) for p in reclaimed
    }


def test_vacuum_logs_reclaimed_never_committed_files(caplog, spark, tmp_path):
    """Reclaiming an old-but-uncommitted file is the one case the
    in-flight-writer hazard applies to — vacuum must flag each such file
    at WARNING (so operators can audit whether data_grace_seconds is
    shorter than real writes), and must stay SILENT for ordinary
    stranded pre-images, which the log governs."""
    import logging

    t = str(tmp_path / "t")
    f0 = txlog.write_files(_df(spark, [(1, "a")]), t)
    txlog.commit(t, add=f0, expected_version=0)
    # once-committed pre-image: rewrite strands f0
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "b")]), t),
        remove=f0,
        expected_version=1,
    )
    with caplog.at_level(
        logging.WARNING, logger="change_data_capture_spark.sources.txlog"
    ):
        assert txlog.vacuum(t) != []  # pre-image reclaimed
    assert not caplog.records  # the normal, log-governed case is silent
    orphan = txlog.write_files(_df(spark, [(2, "c")]), t)
    with caplog.at_level(
        logging.WARNING, logger="change_data_capture_spark.sources.txlog"
    ):
        reclaimed = txlog.vacuum(t, data_grace_seconds=0)
    assert {os.path.abspath(txlog._action_path(a)) for a in orphan} <= {
        os.path.abspath(p) for p in reclaimed
    }
    warned = [r for r in caplog.records if "never-committed" in r.getMessage()]
    assert len(warned) == len(orphan)
    assert "data_grace_seconds" in warned[0].getMessage()


def test_fresh_table_metadata_count_and_first_validated_write(spark, tmp_path):
    """A fresh table (no commits) reads as metadata-absent, not as an
    error: table_metadata/count_rows return None and validated_write
    can be the table's FIRST write. Asking for an explicit version of
    an empty log still raises."""
    t = str(tmp_path / "fresh")
    assert txlog.table_metadata(t) is None
    assert txlog.count_rows(t) is None
    with pytest.raises(ValueError, match="not in log"):
        txlog.table_metadata(t, version=0)
    acts = txlog.validated_write(_df(spark, [(1, "a")]), t, stats_cols=["id"])
    txlog.commit(t, add=acts, expected_version=0)
    assert txlog.count_rows(t) == 1


def test_empty_table_is_the_initial_snapshot(spark, tmp_path):
    """A table with no commits resolves to the initial snapshot: version
    -1, no actions, no txns, no metadata. Readers and rewrites answer it
    as a snapshot with no files, an explicit version still raises, and a
    checkpoint of it is refused without writing a file. ``commit`` logs
    a bare-path add as a ``{"path"}`` action."""
    import json as _json

    t = str(tmp_path / "fresh")
    snap = txlog._resolve(t)
    assert (snap.actions, snap.txns, snap.meta, snap.version) == ([], {}, None, -1)
    with pytest.raises(ValueError, match="not in log"):
        txlog._resolve(t, 0)
    assert txlog.snapshot_files(t) == []
    assert txlog.delete_where(spark, t, "id = 1") == (-1, [])
    assert txlog.optimize(spark, t) == -1
    assert txlog.latest_version(t) == -1  # neither committed
    with pytest.raises(ValueError, match="no commits"):
        txlog.write_checkpoint(t)
    ldir = os.path.join(t, "_txlog")
    assert not os.path.isdir(ldir) or not any(
        f.endswith(".checkpoint.json") for f in os.listdir(ldir)
    )
    bare = txlog.write_files(_df(spark, [(1, "a")]), t)
    assert bare and all(isinstance(p, str) for p in bare)
    assert txlog.commit(t, add=bare, expected_version=0) == 0
    with open(txlog._commit_path(t, 0)) as f:
        assert _json.load(f)["add"] == [{"path": p} for p in bare]
    assert txlog._resolve(t).actions == [{"path": p} for p in bare]


def test_stats_on_date_and_decimal_columns_commit_and_prune(spark, tmp_path):
    """Per-file stats on date/decimal columns must survive the JSON
    commit (dates→ISO strings, decimals→outward-widened floats) and
    still prune correctly — the canonical skipping column IS a date."""
    import datetime

    t = str(tmp_path / "dated")
    df = spark.createDataFrame(
        [
            (1, datetime.date(1995, 1, 10), "19.99"),
            (2, datetime.date(1995, 6, 10), "29.99"),
        ],
        "id long, d date, price string",
    ).selectExpr("id", "d", "CAST(price AS DECIMAL(10,2)) AS price")
    a = df.where("id = 1").repartition(1)
    b = df.where("id = 2").repartition(1)
    acts = txlog.write_files(a, t, stats_cols=["d", "price"]) + txlog.write_files(
        b, t, stats_cols=["d", "price"]
    )
    txlog.commit(t, add=acts, expected_version=0)  # must not TypeError
    only_jan = txlog.snapshot_files(
        t, predicate_range=("d", datetime.date(1995, 1, 1), datetime.date(1995, 1, 31))
    )
    assert len(only_jan) == 1
    rows = txlog.read_version(
        spark, t,
        predicate_range=("d", datetime.date(1995, 1, 1), datetime.date(1995, 1, 31)),
    ).collect()
    assert [r.id for r in rows] == [1]
    cheap = txlog.snapshot_files(t, predicate_range=("price", 0, 25))
    assert len(cheap) == 1


def test_merge_duplicate_source_keys(spark, tmp_path):
    """Delta MERGE semantics: duplicate source keys that match a target
    row are ambiguous and must FAIL before anything is written;
    duplicates that match nothing are plain multi-row inserts."""
    t = str(tmp_path / "m")
    txlog.commit(
        t, add=txlog.write_files(_df(spark, [(1, "old")]), t), expected_version=0
    )
    with pytest.raises(ValueError, match="multiple"):
        txlog.merge_into(
            spark, t, _df(spark, [(1, "x"), (1, "y")]), key="id"
        )
    assert txlog.latest_version(t) == 0  # nothing committed
    # dup keys that match NO target row insert both rows (Delta allows)
    v, touched = txlog.merge_into(
        spark, t, _df(spark, [(7, "p"), (7, "q")]), key="id"
    )
    assert v == 1 and touched == []
    got = sorted(
        (r.id, r.v) for r in txlog.read_version(spark, t).collect()
    )
    assert got == [(1, "old"), (7, "p"), (7, "q")]


def test_merge_empty_source_is_a_no_op(spark, tmp_path):
    """An empty CDC micro-batch merged into the table must not commit a
    junk version (same contract as delete_where/update_where)."""
    t = str(tmp_path / "e")
    txlog.commit(
        t, add=txlog.write_files(_df(spark, [(1, "a")]), t), expected_version=0
    )
    v, touched = txlog.merge_into(spark, t, _df(spark, []), key="id")
    assert (v, touched) == (0, [])
    assert txlog.latest_version(t) == 0


def test_restore_refuses_vacuumed_target_and_restores_metadata(spark, tmp_path):
    """RESTORE must fail up front when the target version's files were
    vacuumed (committing them would make the PRESENT unreadable), and a
    successful restore across a schema evolution must carry the target
    version's metadata so reads use the restored schema."""
    t = str(tmp_path / "r")
    s0 = "id BIGINT, v STRING"
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a")]), t),
        expected_version=0,
        metadata={"schema": s0},
    )
    # v1: rewrite (strands v0's file), evolve schema
    wide = spark.createDataFrame([(1, "a", "x")], "id long, v string, extra string")
    txlog.commit(
        t,
        add=txlog.write_files(wide, t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        metadata={"schema": "id BIGINT, v STRING, extra STRING"},
    )
    # metadata travels back with a restore
    txlog.restore(t, 0)
    assert txlog.table_metadata(t)["schema"] == s0
    assert txlog.read_version(spark, t).columns == ["id", "v"]
    # vacuum away the pre-restore tip's files, then try to restore to it
    txlog.vacuum(t, data_grace_seconds=0)
    tip = txlog.latest_version(t)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        txlog.restore(t, 1)
    assert txlog.latest_version(t) == tip  # nothing committed


def test_read_version_empty_no_schema_raises_clearly(spark, tmp_path):
    """A snapshot with zero files and no declared schema has nothing to
    type an empty frame with — the error must say THAT, not a parquet
    inference failure."""
    t = str(tmp_path / "z")
    txlog.commit(t, add=[], expected_version=0)
    with pytest.raises(ValueError, match="no data files and no declared"):
        txlog.read_version(spark, t)


def test_table_changes_classifies_per_commit(spark, tmp_path):
    """CDF reconstruction from commit metadata: an append commit feeds
    pure inserts; an update rewrite feeds pre/post image pairs for
    changed rows only (unchanged copies carried by the whole-file
    rewrite are dropped, and a no-op SET emits nothing); a delete
    rewrite feeds delete pre-images; every row carries its commit
    version and stamped operation; a metadata-only range is an EMPTY
    feed (not an error)."""
    t = str(tmp_path / "t")
    # v0: two rows; id=2's value is ALREADY uppercase -> later no-op SET
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "B")]), t),
        expected_version=0,
        operation="WRITE",
    )
    # v1: append one more row
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(3, "c")]), t),
        expected_version=1,
        operation="WRITE",
    )
    # v2: UPDATE v = upper(v) on every row (id=2 is a no-op image)
    txlog.update_where(spark, t, "id >= 1", {"v": "upper(v)"})
    # v3: DELETE id = 3
    txlog.delete_where(spark, t, "id = 3")
    # v4: metadata-only commit
    txlog.commit(
        t,
        add=[],
        expected_version=4,
        metadata={"schema": "id BIGINT, v STRING"},
    )

    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["id"], r["v"],
         r["_operation"])
        for r in txlog.table_changes(spark, t, 0, 3).collect()
    )
    assert rows == [
        (0, "insert", 1, "a", "WRITE"),
        (0, "insert", 2, "B", "WRITE"),
        (1, "insert", 3, "c", "WRITE"),
        (2, "update_postimage", 1, "A", "UPDATE"),
        (2, "update_postimage", 3, "C", "UPDATE"),
        (2, "update_preimage", 1, "a", "UPDATE"),
        (2, "update_preimage", 3, "c", "UPDATE"),
        (3, "delete", 3, "C", "DELETE"),
    ]
    # a metadata-only range is an empty feed (Delta contract), same shape
    empty = txlog.table_changes(spark, t, 4, 4)
    assert empty.count() == 0
    assert set(empty.columns) == {
        "id", "v", "_change_type", "_commit_version", "_operation",
    }
    # a range outside the log fails loudly
    with pytest.raises(ValueError, match="outside the log"):
        txlog.table_changes(spark, t, 0, 99)


def test_table_changes_null_key_rows_and_schema_evolution(spark, tmp_path):
    """Two CDF edges: (1) a NULL-key row never equi-joins (NULL != NULL),
    so side presence must come from presence flags, not key nullness — a
    rewrite that drops a null-key row feeds a 'delete' with its real
    pre-image, not an all-null 'insert'; (2) a range spanning a schema
    evolution reads every version under the END version's log-governed
    schema (Delta CDF semantics), null-filling pre-evolution files."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (1, "a")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    # v1: rewrite the whole table WITHOUT the null-key row, evolving the
    # schema with a new column in the same commit
    wide = spark.createDataFrame(
        [(1, "a", "x")], "id long, v string, w string"
    )
    txlog.commit(
        t,
        add=txlog.write_files(wide, t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
        metadata={"schema": "id BIGINT, v STRING, w STRING"},
    )
    rows = sorted(
        (
            (r["_commit_version"], r["_change_type"], r["id"], r["v"], r["w"])
            for r in txlog.table_changes(spark, t, 0, 1).collect()
        ),
        key=lambda x: tuple((f is None, f) for f in x),
    )
    assert rows == [
        # v0 inserts, read under the evolved end schema (w null-filled)
        (0, "insert", 1, "a", None),
        (0, "insert", None, "ghost", None),
        # v1: the null-key row's disappearance is a DELETE with its image;
        # id=1 gained w -> a pre/post pair under the evolved schema
        (1, "delete", None, "ghost", None),
        (1, "update_postimage", 1, "a", "x"),
        (1, "update_preimage", 1, "a", None),
    ]


def test_table_changes_refuses_reserved_column_collisions(spark, tmp_path):
    """A table whose DATA uses one of the feed's reserved meta/scratch
    names would silently corrupt classification (withColumn replaces) —
    the read must refuse up front with the offending names."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "x")], "id long, v string, _change_type string"
    )
    txlog.commit(t, add=txlog.write_files(df, t), expected_version=0)
    with pytest.raises(ValueError, match="_change_type"):
        txlog.table_changes(spark, t, 0, 0)


def test_txlog_stream_skip_change_commits_option(spark, tmp_path):
    """`.option("skipChangeCommits", "true")`: a rewrite commit in the
    consumed range is skipped WHOLE (its adds carry re-images of rows
    the stream already emitted), the stream continues over later
    appends, and the default reader still raises on the same range."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    schema = spark.createDataFrame([], "id long, v string").schema
    txlog.commit(t, add=txlog.write_files(_df(spark, [(1, "a")]), t))
    # v1: rewrite (update in place) — a data-changing commit
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "A")]), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )
    # v2: append after the rewrite
    txlog.commit(t, add=txlog.write_files(_df(spark, [(2, "b")]), t))

    def drain(reader, start, end):
        return sorted(
            tuple(row.values())
            for p in reader.partitions(start, end)
            for batch in p and reader.read(p) or ()
            for row in batch.to_pylist()
        )

    skip = TxlogStreamReader(
        schema, {"path": t, "skipChangeCommits": "true"}
    )
    got = drain(skip, {"version": -1}, {"version": 2})
    assert got == [(1, "a"), (2, "b")]  # v1's re-image never emitted
    # lowercased key (Spark lowercases option names) works too
    skip_lc = TxlogStreamReader(schema, {"path": t, "skipchangecommits": "true"})
    assert drain(skip_lc, {"version": -1}, {"version": 2}) == got
    # the default contract is unchanged: the same range raises
    strict = TxlogStreamReader(schema, {"path": t})
    with pytest.raises(ValueError, match="append-only"):
        strict.partitions({"version": -1}, {"version": 2})


def test_dml_rewrites_enforce_check_constraints(spark, tmp_path):
    """Delta enforces CHECK constraints on EVERY write path: an UPDATE
    or MERGE whose output violates a declared predicate is refused WHOLE
    (ConstraintViolation, no new commit, no files added), a satisfying
    DML passes, and DELETE never re-validates (removing rows cannot
    introduce violations)."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, price double")
    txlog.commit(
        t,
        add=txlog.validated_write(df, t),
        expected_version=0,
        metadata={
            "schema": "id BIGINT, price DOUBLE",
            "constraints": {"price_pos": "price > 0"},
        },
    )
    tip_before = txlog.latest_version(t)
    files_before = set(txlog.snapshot_files(t))
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.update_where(
            spark, t, "id = 1", {"price": "price - CAST(100 AS DOUBLE)"}
        )
    assert txlog.latest_version(t) == tip_before  # nothing committed
    assert set(txlog.snapshot_files(t)) == files_before
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.merge_into(
            spark,
            t,
            spark.createDataFrame([(3, -5.0)], "id long, price double"),
            key="id",
        )
    assert txlog.latest_version(t) == tip_before
    # a satisfying UPDATE commits normally
    txlog.update_where(
        spark, t, "id = 1", {"price": "price + CAST(5 AS DOUBLE)"}
    )
    got = sorted(tuple(r) for r in txlog.read_version(spark, t).collect())
    assert got == [(1, 15.0), (2, 20.0)]
    # DELETE is unaffected by constraints (no re-validation needed)
    txlog.delete_where(spark, t, "id = 2")
    got = sorted(tuple(r) for r in txlog.read_version(spark, t).collect())
    assert got == [(1, 15.0)]


def test_add_constraints_validates_existing_data(spark, tmp_path):
    """Delta ADD CONSTRAINT semantics: declaring a constraint over data
    that already violates it is refused (no metadata commit), a clean
    declaration commits and later DML enforces it, and the declaration
    merges with (never clobbers) previously declared constraints."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, -3.0)], "id long, price double")
    txlog.commit(t, add=txlog.write_files(df, t), expected_version=0)
    tip = txlog.latest_version(t)
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.add_constraints(spark, t, {"price_pos": "price > 0"})
    assert txlog.latest_version(t) == tip  # nothing committed
    # repair the data, then the declaration lands (as its own version)
    txlog.update_where(spark, t, "id = 2", {"price": "CAST(3 AS DOUBLE)"})
    v = txlog.add_constraints(spark, t, {"price_pos": "price > 0"})
    assert v == txlog.latest_version(t)
    assert txlog.table_metadata(t)["constraints"] == {"price_pos": "price > 0"}
    # a second declaration MERGES into the existing constraint set
    txlog.add_constraints(spark, t, {"id_present": "id IS NOT NULL"})
    assert set(txlog.table_metadata(t)["constraints"]) == {
        "price_pos", "id_present",
    }
    # and DML now enforces the declared predicates
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.update_where(spark, t, "id = 1", {"price": "CAST(-1 AS DOUBLE)"})
    hist = txlog.history(t)
    assert hist[-1]["operation"] == "ADD CONSTRAINT"


def test_dml_constraint_scope_is_modified_rows(spark, tmp_path):
    """DML constraint enforcement scopes to the rows the command
    actually modified: a raw (unvalidated) metadata commit can declare a
    constraint over data that already violates it, and an UPDATE or
    MERGE that touches the violating FILE without touching the violating
    ROWS must still succeed — the DML introduced no violation, and
    refusing it would brick exactly the repair writes that fix legacy
    data. Driving a MODIFIED row into violation is still refused."""
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, 30.0)], "id long, price double"
    ).coalesce(1)
    txlog.commit(t, add=txlog.write_files(df, t), expected_version=0)
    # raw protocol-level declaration: no existing-data validation
    txlog.commit(
        t,
        add=[],
        expected_version=1,
        metadata={"constraints": {"price_pos": "price > 0"}},
    )
    # UPDATE touches the one file holding the legacy violation (id=2,
    # price=-3) but modifies only id=1 — succeeds under modified-row scope
    txlog.update_where(spark, t, "id = 1", {"price": "price + CAST(5 AS DOUBLE)"})
    got = sorted(tuple(r) for r in txlog.read_version(spark, t).collect())
    assert got == [(1, 15.0), (2, -3.0), (3, 30.0)]
    # MERGE inserting/updating only satisfying rows likewise succeeds
    src = spark.createDataFrame([(3, 33.0), (4, 44.0)], "id long, price double")
    txlog.merge_into(spark, t, src, key="id")
    got = sorted(tuple(r) for r in txlog.read_version(spark, t).collect())
    assert got == [(1, 15.0), (2, -3.0), (3, 33.0), (4, 44.0)]
    # but a DML that drives a MODIFIED row into violation is refused whole
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.update_where(spark, t, "id = 1", {"price": "CAST(-9 AS DOUBLE)"})
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.merge_into(
            spark,
            t,
            spark.createDataFrame([(5, -1.0)], "id long, price double"),
            key="id",
        )


def test_constrained_dml_is_single_compute(spark, tmp_path, monkeypatch):
    """The fused write path computes the rewrite frame ONCE: the
    constraint check runs over a persisted frame and the write's plan
    reads the SAME cache (InMemoryRelation) instead of re-running the
    rewrite scan — the r11 shape re-computed the full frame for the
    check, and with a non-deterministic MERGE source the rows checked
    were not the rows written. Also pins: no persist at all without
    declared constraints, and the cache is released after the DML."""
    sc = spark.sparkContext
    captured: list[str] = []
    real_write_files = txlog.write_files

    def spy(df, table_dir, stats_cols=None):
        captured.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_write_files(df, table_dir, stats_cols=stats_cols)

    monkeypatch.setattr(txlog, "write_files", spy)

    def run(tag, declare):
        t = str(tmp_path / tag)
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, price double")
        txlog.commit(t, add=real_write_files(df, t), expected_version=0)
        if declare:
            txlog.commit(
                t,
                add=[],
                expected_version=1,
                metadata={"constraints": {"price_pos": "price > 0"}},
            )
        captured.clear()
        txlog.update_where(
            spark, t, "id = 1", {"price": "price + CAST(1 AS DOUBLE)"}
        )
        assert len(captured) == 1
        return captured[0]

    # other tests in the session-scoped spark may hold their own caches —
    # the leak pin is RELATIVE: this DML must not grow the cached-RDD set
    baseline = len(sc._jsc.sc().getRDDStorageInfo())
    # without constraints: no cache in the written plan (no persist cost)
    assert "InMemoryRelation" not in run("upd_plain", declare=False)
    # with constraints: the written frame reads the cache the constraint
    # aggregate materialized — the touched-file scan ran once
    assert "InMemoryRelation" in run("upd_checked", declare=True)
    # the persisted frame is unpersisted even on the success path
    assert len(sc._jsc.sc().getRDDStorageInfo()) == baseline
    # and on the REFUSAL path (violating DML): still no cache leak
    with pytest.raises(txlog.ConstraintViolation):
        txlog.update_where(
            spark,
            str(tmp_path / "upd_checked"),
            "id = 1",
            {"price": "CAST(-5 AS DOUBLE)"},
        )
    assert len(sc._jsc.sc().getRDDStorageInfo()) == baseline


def test_table_changes_refuses_duplicate_keys_in_diffed_commit(spark, tmp_path):
    """A duplicated non-NULL key on either side of a diffed (rewrite)
    commit would cross-product through the per-version full-outer join
    into a silently wrong feed — the read fails loud naming the commit,
    side and key (merge_into's duplicate-source discipline). The guard
    runs inside the commit's executor-side arrow diff
    (``txlog_stream._diff_commit`` — no extra scan, no eager job), so
    building the feed stays lazy and the raise fires at evaluation.
    Append-only commits never join, so duplicate keys in a plain insert
    commit stay legal."""
    t = str(tmp_path / "t")
    dup = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "id long, v string"
    )
    txlog.commit(
        t,
        add=txlog.write_files(dup, t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    # insert-only range: duplicates are plain multi-row inserts — legal
    got = txlog.table_changes(spark, t, 0, 0).collect()
    assert sorted(r["v"] for r in got) == ["a", "a2", "b"]
    # v1 rewrites the whole table: the pre side now carries the dup key
    txlog.commit(
        t,
        add=txlog.write_files(
            spark.createDataFrame([(2, "B")], "id long, v string"), t
        ),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )
    # building the feed is lazy (no job, no raise) ...
    feed = txlog.table_changes(spark, t, 1, 1)
    # ... the guard fires on evaluation, naming commit and key
    with pytest.raises(Exception, match="duplicated within commit 1"):
        feed.collect()


def test_table_changes_empty_feed_for_metadata_only_range(spark, tmp_path):
    """A range containing only metadata commits returns an EMPTY feed in
    the end-version schema (Delta's contract: 'no changes' is a row
    count, not an error) — same columns as a data-bearing feed, so
    pollers union ranges without special-casing."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t,
        add=[],
        expected_version=1,
        metadata={"schema": "id BIGINT, v STRING", "constraints": {}},
    )
    full = txlog.table_changes(spark, t, 0, 1)
    empty = txlog.table_changes(spark, t, 1, 1)
    assert empty.count() == 0
    assert empty.columns == full.columns
    # a table that never had data files but declares a schema also types
    # its empty feed from the declaration
    t2 = str(tmp_path / "t2")
    txlog.commit(
        t2, add=[], expected_version=0, metadata={"schema": "id BIGINT"}
    )
    e2 = txlog.table_changes(spark, t2, 0, 0)
    assert e2.count() == 0 and "_change_type" in e2.columns
    # the out-of-range call still raises — the error means BAD CALL now,
    # never "no changes"
    with pytest.raises(ValueError, match="outside the log"):
        txlog.table_changes(spark, t, 0, 99)


def _rewrite_table(spark, t, before, after):
    """v0 writes ``before`` under a declared schema, v1 rewrites the whole
    table as ``after``."""
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, before), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, after), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )


def test_table_changes_refuses_unknown_key(spark, tmp_path, count_jobs):
    """A diff key that is not a data column of the feed is refused when
    the feed is built, on the driver, with no job run: over an append
    range (which never diffs, so the key would go unchecked) and over a
    rewrite range (whose task would fail with a raw arrow KeyError). A
    reserved meta column is not a data column either. The stream's
    ``cdfKey`` gets the same check when its reader is built."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    _rewrite_table(spark, t, [(1, "a")], [(1, "A")])
    for lo, hi, key in ((0, 0, "nope"), (1, 1, "nope"), (0, 1, "_operation")):

        def build():
            with pytest.raises(ValueError, match=f"{key!r} is not a data column"):
                txlog.table_changes(spark, t, lo, hi, key=key)

        assert count_jobs(build)[0] == 0
    schema = txlog.table_changes(spark, t, 0, 1).schema
    with pytest.raises(ValueError, match="'nope' is not a data column"):
        TxlogStreamReader(
            schema, {"path": t, "readchangefeed": "true", "cdfkey": "nope"}
        )


def test_table_changes_builds_lazily(spark, tmp_path, count_jobs):
    """Building the feed runs no Spark job and raises nothing; the
    executor-side duplicate-key guard fires only when it is evaluated."""
    t = str(tmp_path / "t")
    _rewrite_table(spark, t, [(1, "a"), (1, "a2")], [(2, "b")])
    jobs, feed = count_jobs(lambda: txlog.table_changes(spark, t, 1, 1))
    assert jobs == 0
    with pytest.raises(Exception, match="duplicated within commit 1"):
        feed.collect()


def test_table_changes_reads_many_files_in_bounded_tasks(spark, tmp_path):
    """A range that adds 31 files is read in at most defaultParallelism
    tasks, not one task per file, and serves every row once."""
    t = str(tmp_path / "t")
    rows = [(i, f"v{i}") for i in range(93)]
    files = txlog.write_files(_df(spark, rows).repartition(31), t)
    assert len(files) == 31
    txlog.commit(t, add=files, expected_version=0, operation="WRITE")
    feed = txlog.table_changes(spark, t, 0, 0)
    assert feed.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    got = sorted((r["id"], r["v"], r["_change_type"]) for r in feed.collect())
    assert got == [(i, v, "insert") for i, v in rows]


def test_write_checkpoint_is_durable(tmp_path, monkeypatch):
    """``write_checkpoint`` publishes like ``commit``: the temp file is
    fsync'ed before the rename makes it visible, and the log directory
    after it — a crash can never leave an empty checkpoint that every
    later resolution at or above its version would fail to load."""
    import stat

    t = str(tmp_path / "t")
    txlog.commit(t, add=["a.parquet"], expected_version=0)
    txlog.commit(t, add=["b.parquet"], expected_version=1)
    events = []
    fsync, rename = os.fsync, os.rename

    def record_fsync(fd):
        events.append(("fsync", stat.S_IFMT(os.fstat(fd).st_mode)))
        fsync(fd)

    def record_rename(src, dst):
        events.append(("rename", None))
        rename(src, dst)

    monkeypatch.setattr(os, "fsync", record_fsync)
    monkeypatch.setattr(os, "rename", record_rename)
    assert txlog.write_checkpoint(t) == 1
    assert events == [
        ("fsync", stat.S_IFREG),
        ("rename", None),
        ("fsync", stat.S_IFDIR),
    ]
    assert txlog.snapshot_files(t) == ["a.parquet", "b.parquet"]


def test_table_changes_null_key_unchanged_copy_contract(spark, tmp_path):
    """The documented NULL-key emission: NULL never equi-joins, so a
    NULL-key row carried UNCHANGED through a rewrite cannot pair with
    itself for the unchanged-copy drop — it emits a faithful-but-
    unpaired delete + insert of the same image (net-equivalent to a
    no-op for any downstream applier). The duplicate-key guard exempts
    NULLs for the same reason: they never cross-product."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (1, "a")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    # rewrite carrying the NULL-key row along UNCHANGED, modifying id=1
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (1, "A")]), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )
    rows = sorted(
        (r["_change_type"], r["id"], r["v"])
        for r in txlog.table_changes(spark, t, 1, 1).collect()
    )
    assert rows == [
        ("delete", None, "ghost"),
        ("insert", None, "ghost"),
        ("update_postimage", 1, "A"),
        ("update_preimage", 1, "a"),
    ]


def test_table_changes_probes_every_diffed_commit_for_clashes(spark, tmp_path):
    """Without declared metadata the reserved-name probe must cover the
    diffed commits' own files, not one tip file: a reserved-name column
    entering the log in a LATER heterogeneous file (never visible from
    the tip probe when another file sorts first) still refuses up
    front."""
    t = str(tmp_path / "t")
    txlog.commit(
        t, add=txlog.write_files(_df(spark, [(1, "a")]), t), expected_version=0
    )
    bad = spark.createDataFrame([(2, "b", "x")], "id long, v string, _operation string")
    txlog.commit(t, add=txlog.write_files(bad, t), expected_version=1)
    with pytest.raises(ValueError, match="_operation"):
        txlog.table_changes(spark, t, 1, 1)


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read DML)
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path, n=100, files=4):
    """A stats-written table of n rows across `files` range-clustered
    files: (id, price=id*1.0)."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "dvt")
    df = (
        spark.range(n)
        .select(F.col("id"), (F.col("id") * 1.0).alias("price"))
        .repartitionByRange(files, "id")
    )
    txlog.commit(
        t,
        add=txlog.write_files(df, t, stats_cols=["id"]),
        expected_version=0,
        operation="WRITE",
    )
    return t


def test_delete_dv_routes_small_fractions_and_rewrites_large(spark, tmp_path):
    """dv_fraction_threshold routing: a DELETE matching a SMALL fraction
    of a touched file attaches a deletion vector (the data file is NOT
    rewritten — its path stays in the snapshot, re-referenced with a dv
    descriptor), while a file whose matching fraction exceeds the
    threshold is rewritten copy-on-write. Reads, metadata counts, and
    stats skipping all see the net state."""
    t = _dv_table(spark, tmp_path)  # 4 files × 25 ids
    before = set(txlog.snapshot_files(t))
    # ids 10-14: 5 of 25 rows in file 0 (20% < 50%) -> DV;
    # ids 25-44: 20 of 25 rows in file 1 (80% > 50%) -> rewrite
    v, touched = txlog.delete_where(
        spark,
        t,
        "id BETWEEN 10 AND 14 OR id BETWEEN 25 AND 44",
        dv_fraction_threshold=0.5,
    )
    assert v == 1 and len(touched) == 2
    after = txlog.snapshot_files(t)
    # the dv-routed file keeps its exact path; the rewritten one is new
    kept_paths = set(after) & before
    assert len(kept_paths) == 3  # 2 untouched + 1 dv-routed
    acts, _, _, _ = txlog._resolve(t, None)
    dvs = txlog._dv_map(acts)
    assert len(dvs) == 1
    (desc,) = dvs.values()
    assert desc["cardinality"] == 5
    # the read nets out both classes of delete
    got = sorted(r["id"] for r in txlog.read_version(spark, t).collect())
    assert got == [i for i in range(100) if not (10 <= i <= 14 or 25 <= i <= 44)]
    # metadata-only count subtracts the vector's cardinality
    assert txlog.count_rows(t) == 75
    # time travel: v0 still shows every row (per-version DV state)
    assert txlog.read_version(spark, t, 0).count() == 100


def test_delete_dv_merges_with_existing_vector(spark, tmp_path):
    """A second DV delete on an already-DV'd file REPLACES its vector
    with the union (Delta semantics: a file's new DV carries all
    deletions to date), the fraction routing judges against LIVE rows,
    and a predicate matching only already-deleted rows is a no-op (no
    commit) — dead rows cannot keep a file 'touched'."""
    t = _dv_table(spark, tmp_path)
    txlog.delete_where(spark, t, "id IN (1, 2)", dv_fraction_threshold=0.9)
    txlog.delete_where(spark, t, "id IN (3, 4)", dv_fraction_threshold=0.9)
    acts, _, _, _ = txlog._resolve(t, None)
    dvs = txlog._dv_map(acts)
    assert len(dvs) == 1 and next(iter(dvs.values()))["cardinality"] == 4
    got = sorted(r["id"] for r in txlog.read_version(spark, t).collect())
    assert got == [0] + list(range(5, 100))
    assert txlog.count_rows(t) == 96
    # deleting already-deleted rows: metadata-only no-op, NO new commit
    tip = txlog.latest_version(t)
    v, touched = txlog.delete_where(
        spark, t, "id IN (1, 3)", dv_fraction_threshold=0.9
    )
    assert (v, touched) == (tip, []) and txlog.latest_version(t) == tip


def test_delete_dv_cardinality_counts_the_sidecar(spark, tmp_path):
    """Each dv action's ``cardinality`` is the number of its file's rows
    in the sidecar it names — counted while the sidecar is written —
    after a first DV delete and after a second on the same file, whose
    sidecar unions the old one's positions. The metadata-only
    ``count_rows`` then agrees with a full read."""
    t = _dv_table(spark, tmp_path)  # 4 files × 25 ids

    def check():
        acts = txlog._resolve(t).actions
        dvs = [a for a in acts if a.get("dv")]
        assert dvs
        for a in dvs:
            sidecar = spark.read.parquet(a["dv"]["path"]).collect()
            mine = [
                r for r in sidecar
                if txlog._local_path(r["file"]) == os.path.abspath(a["path"])
            ]
            assert a["dv"]["cardinality"] == len(mine), a["path"]
        assert txlog.count_rows(t) == txlog.read_version(spark, t).count()
        return dvs

    txlog.delete_where(spark, t, "id = 5", dv_fraction_threshold=0.5)
    (first,) = check()
    assert first["dv"]["cardinality"] == 1
    # the same file again, plus one row of another file
    txlog.delete_where(spark, t, "id IN (6, 7, 60)", dv_fraction_threshold=0.5)
    dvs = {a["path"]: a["dv"] for a in check()}
    assert dvs[first["path"]]["cardinality"] == 3
    assert dvs[first["path"]]["path"] != first["dv"]["path"]
    assert sorted(d["cardinality"] for d in dvs.values()) == [1, 3]
    assert txlog.count_rows(t) == 96


def test_delete_dv_parity_with_copy_on_write(spark, tmp_path):
    """The same DELETE script through pure copy-on-write (threshold 0),
    pure merge-on-read (threshold 1), and mixed routing must produce
    BIT-IDENTICAL table states — the transport differs, the relation
    does not."""
    results = {}
    for tag, thr in (("cow", 0.0), ("dv", 1.0), ("mixed", 0.3)):
        t = str(tmp_path / tag)
        from pyspark.sql import functions as F

        df = (
            spark.range(100)
            .select(F.col("id"), (F.col("id") * 1.0).alias("price"))
            .repartitionByRange(4, "id")
        )
        txlog.commit(
            t, add=txlog.write_files(df, t, stats_cols=["id"]), expected_version=0
        )
        txlog.delete_where(
            spark, t, "id % 7 = 0", dv_fraction_threshold=thr
        )
        txlog.delete_where(
            spark, t, "id BETWEEN 50 AND 74", dv_fraction_threshold=thr
        )
        results[tag] = sorted(
            tuple(r) for r in txlog.read_version(spark, t).collect()
        )
    assert results["cow"] == results["dv"] == results["mixed"]


def test_dml_on_dv_files_never_resurrects(spark, tmp_path):
    """Every DML read path applies deletion vectors: an UPDATE or MERGE
    whose rewrite touches a DV'd file must not carry the dead rows back
    in, a MERGE keyed on a DV-deleted key treats it as a plain insert,
    and compaction through read_version reconciles the vector away."""
    t = _dv_table(spark, tmp_path)
    txlog.delete_where(spark, t, "id IN (1, 2, 3)", dv_fraction_threshold=0.5)
    # UPDATE rewrites the file holding ids 0-24; 1-3 must stay dead
    txlog.update_where(
        spark, t, "id = 5", {"price": "price + CAST(1000 AS DOUBLE)"}
    )
    got = {r["id"]: r["price"] for r in txlog.read_version(spark, t).collect()}
    assert 1 not in got and 2 not in got and 3 not in got
    assert got[5] == 1005.0
    # the rewrite reconciled the DV away with the replaced action
    acts, _, _, _ = txlog._resolve(t, None)
    assert txlog._dv_map(acts) == {}
    # MERGE on a DV-deleted key: delete 7 via DV, then merge key 7 back
    txlog.delete_where(spark, t, "id = 7", dv_fraction_threshold=0.5)
    src = spark.createDataFrame([(7, 777.0)], "id long, price double")
    txlog.merge_into(spark, t, src, key="id")
    got = {r["id"]: r["price"] for r in txlog.read_version(spark, t).collect()}
    assert got[7] == 777.0
    assert txlog.count_rows(t) == 97  # 100 - {1,2,3}; 7 is back


def test_dv_interacts_with_cdf_restore_and_vacuum(spark, tmp_path):
    """The verdict's interaction matrix: (1) table_changes over a DV
    commit feeds exactly the newly-deleted rows as `delete`s; (2)
    restore across a DV delete resurrects the rows (per-version DV
    state) and refuses when the restored DV sidecar was vacuumed; (3)
    vacuum keeps sidecars of retained versions and reclaims them with
    their versions."""
    import os as _os

    t = _dv_table(spark, tmp_path)
    txlog.delete_where(spark, t, "id IN (11, 12)", dv_fraction_threshold=0.5)
    # (1) CDF: the DV commit feeds exactly the two dead rows as deletes
    feed = txlog.table_changes(spark, t, 1, 1, key="id").collect()
    assert sorted((r["_change_type"], r["id"]) for r in feed) == [
        ("delete", 11), ("delete", 12),
    ]
    # a second DV delete on the same file feeds ONLY the new dead rows
    txlog.delete_where(spark, t, "id IN (13)", dv_fraction_threshold=0.5)
    feed2 = txlog.table_changes(spark, t, 2, 2, key="id").collect()
    assert sorted((r["_change_type"], r["id"]) for r in feed2) == [
        ("delete", 13),
    ]
    # (2) restore to v0 resurrects the DV-deleted rows metadata-only
    txlog.restore(t, 0)
    assert txlog.read_version(spark, t).count() == 100
    # (3) vacuum at the restored tip: v1/v2's sidecars are unreferenced
    acts1, _, _, _ = txlog._resolve(t, 2)
    sidecars = {d["path"] for d in txlog._dv_map(acts1).values()}
    assert sidecars
    victims = txlog.vacuum(t, data_grace_seconds=0.0)
    assert any(_os.path.dirname(v) in {_os.path.abspath(s) for s in sidecars} for v in victims)
    # time travel to the vacuumed DV version now fails at read time
    with pytest.raises(Exception):
        txlog.read_version(spark, t, 2).collect()
    # and restoring INTO the vacuumed DV version is refused up front
    with pytest.raises(FileNotFoundError):
        txlog.restore(t, 2)
    # the tip still reads clean after the destructive pass
    assert txlog.read_version(spark, t).count() == 100


def test_dv_retention_vacuum_keeps_referenced_sidecars(spark, tmp_path):
    """A sidecar referenced by ANY retained snapshot survives vacuum
    even when a later version dropped it — the retention-window rule
    applied to DV sidecars."""
    t = _dv_table(spark, tmp_path)
    txlog.delete_where(spark, t, "id = 1", dv_fraction_threshold=0.5)  # v1: dv
    txlog.update_where(  # v2 rewrites the DV'd file -> dv reconciled away
        spark, t, "id = 2", {"price": "CAST(0 AS DOUBLE)"}
    )
    acts1, _, _, _ = txlog._resolve(t, 1)
    sidecar_dirs = {
        txlog.os.path.abspath(d["path"])
        for d in txlog._dv_map(acts1).values()
    }
    # retention 1 keeps v1 and v2: v1's sidecar must survive
    txlog.vacuum(t, retention_versions=1, data_grace_seconds=0.0)
    assert txlog.read_version(spark, t, 1).count() == 99
    # retention 0: the sidecar goes with its version
    victims = txlog.vacuum(t, data_grace_seconds=0.0)
    assert any(
        txlog.os.path.dirname(v) in sidecar_dirs for v in victims
    )
    assert txlog.read_version(spark, t).count() == 99


def test_dv_retention_vacuum_keeps_both_sidecars_of_one_file(spark, tmp_path):
    """Two DV deletes on the same data file inside the retained window:
    v1 adds the file with sidecar D1, v2 re-adds it with D2. Both
    versions are retained, so both sidecars stay and v1 still reads the
    same rows after vacuum."""
    t = _dv_table(spark, tmp_path)
    txlog.delete_where(spark, t, "id = 1", dv_fraction_threshold=0.5)  # v1
    txlog.delete_where(spark, t, "id = 2", dv_fraction_threshold=0.5)  # v2
    dvs = [txlog._dv_map(txlog._resolve(t, v)[0]) for v in (1, 2)]
    assert dvs[0].keys() == dvs[1].keys() and dvs[0] != dvs[1]  # same file
    before = txlog.read_version(spark, t, 1).count()
    txlog.vacuum(t, retention_versions=1, data_grace_seconds=0.0)
    assert txlog.read_version(spark, t, 1).count() == before == 99
    assert txlog.read_version(spark, t).count() == 98


# ---------------------------------------------------------------------------
# streaming source: readChangeFeed / startingVersion / maxFilesPerTrigger
# ---------------------------------------------------------------------------


def _stream_table(spark, tmp_path):
    """v0 write(3 rows)+schema, v1 append, v2 UPDATE, v3 DV delete.
    Stats-collecting writes throughout: the DV routing needs per-file
    ``num_rows`` to judge fractions — without stats it (correctly)
    falls back to copy-on-write, which would silently weaken every
    test claiming DV coverage, so the helper ASSERTS the vector landed."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(1, "a"), (2, "b"), (3, "c")]), t, stats_cols=["id"]
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(4, "d")]), t, stats_cols=["id"]),
        expected_version=1,
        operation="WRITE",
    )
    txlog.update_where(spark, t, "id = 2", {"v": "upper(v)"})
    txlog.delete_where(spark, t, "id = 1", dv_fraction_threshold=1.0)
    acts, _, _, _ = txlog._resolve(t, None)
    assert txlog._dv_map(acts), "the v3 DELETE must take the DV path"
    return t


def test_stream_cdf_matches_batch_table_changes(spark, tmp_path):
    """End-to-end readChangeFeed stream (real writeStream, availableNow)
    over appends, an UPDATE rewrite, and a deletion-vector DELETE must
    equal the batch table_changes feed row-for-row, schema included."""
    t = _stream_table(spark, tmp_path)
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    spark.dataSource.register(TxlogStreamDataSource)
    q = (
        spark.readStream.format("cdc_txlog")
        .option("path", t)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_pytest")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cdf_pytest")
    want = txlog.table_changes(spark, t, 0, 3, key="id")
    assert got.schema.simpleString() == want.schema.simpleString()
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def test_stream_cdf_option_contracts(spark, tmp_path):
    """Option edges: readChangeFeed+skipChangeCommits are mutually
    exclusive; maxFilesPerTrigger < 1 raises; a reserved CDF name in the
    table's declared schema refuses the stream up front; startingVersion
    skips the earlier commits on a FRESH checkpoint."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
        TxlogStreamReader,
    )

    t = _stream_table(spark, tmp_path)
    schema = spark.createDataFrame([], "id long, v string").schema
    with pytest.raises(ValueError, match="mutually exclusive"):
        TxlogStreamReader(
            schema,
            {"path": t, "readchangefeed": "true", "skipchangecommits": "true"},
        )
    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        TxlogStreamReader(schema, {"path": t, "maxfilespertrigger": "0"})
    # reserved-name refusal through the self-describing schema
    t2 = str(tmp_path / "t2")
    txlog.commit(
        t2,
        add=txlog.write_files(
            spark.createDataFrame([(1, "x")], "id long, _operation string"), t2
        ),
        expected_version=0,
        metadata={"schema": "id BIGINT, _operation STRING"},
    )
    ds = TxlogStreamDataSource(
        {"path": t2, "readchangefeed": "true"}
    )
    with pytest.raises(ValueError, match="_operation"):
        ds.schema()
    # startingVersion on a fresh checkpoint: only commits >= N feed
    spark.dataSource.register(TxlogStreamDataSource)
    q = (
        spark.readStream.format("cdc_txlog")
        .option("path", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_sv")
        .option("checkpointLocation", str(tmp_path / "ckpt_sv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in spark.sql("SELECT * FROM cdf_sv").collect()
    )
    assert got == [
        (2, "update_postimage", 2),
        (2, "update_preimage", 2),
        (3, "delete", 1),
    ]


def test_stream_cdf_duplicate_and_null_keys(spark, tmp_path):
    """The arrow-side diff keeps the batch reader's key discipline: a
    duplicated non-NULL key on either side of a diffed commit raises;
    NULL-key rows bypass the join as unpaired delete+insert (never an
    update pair, never a cross product)."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
        _CdfDiff,
        _diff_commit,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(None, "ghost"), (1, "a"), (1, "a2")]), t
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    pre_files = txlog.snapshot_files(t)
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (2, "b")]), t),
        remove=pre_files,
        expected_version=1,
        operation="UPDATE",
    )
    schema = spark.createDataFrame([], "id long, v string").schema
    reader = TxlogStreamReader(schema, {"path": t, "readchangefeed": "true"})
    fields = reader.fields
    parts = reader.partitions({"version": 0}, {"version": 1})
    assert len(parts) == 1 and isinstance(parts[0], _CdfDiff)
    with pytest.raises(ValueError, match="duplicated within commit 1"):
        _diff_commit(parts[0], fields)
    # de-duplicated sides: null-key rows emit unpaired delete + insert
    t3 = str(tmp_path / "t3")
    txlog.commit(
        t3,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (1, "a")]), t3),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t3,
        add=txlog.write_files(_df(spark, [(None, "ghost"), (1, "A")]), t3),
        remove=txlog.snapshot_files(t3),
        expected_version=1,
        operation="UPDATE",
    )
    reader3 = TxlogStreamReader(schema, {"path": t3, "readchangefeed": "true"})
    (part,) = reader3.partitions({"version": 0}, {"version": 1})
    tbl = _diff_commit(part, reader3.fields)
    rows = sorted(
        (r["_change_type"], r["id"], r["v"]) for r in tbl.to_pylist()
    )
    assert rows == [
        ("delete", None, "ghost"),
        ("insert", None, "ghost"),
        ("update_postimage", 1, "A"),
        ("update_preimage", 1, "a"),
    ]


def test_stream_rate_limit_caps_and_replays_exactly(spark, tmp_path):
    """maxFilesPerTrigger: version-aligned capped advance through the
    reader's own offset protocol, exactly-once across the capped
    batches, at-least-one-version progress past an oversized commit,
    and replanning a committed range is unaffected by the cap."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    for i in range(3):
        txlog.commit(
            t,
            add=txlog.write_files(
                _df(spark, [(i * 2, "a"), (i * 2 + 1, "b")]).repartition(2), t
            ),
            expected_version=i,
            operation="WRITE",
            metadata={"schema": "id BIGINT, v STRING"} if i == 0 else None,
        )
    # one oversized commit (6 files) then one more small commit
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(10 + i, "c") for i in range(6)]).repartition(6), t
        ),
        expected_version=3,
        operation="WRITE",
    )
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(99, "z")]).repartition(1), t),
        expected_version=4,
        operation="WRITE",
    )
    schema = spark.createDataFrame([], "id long, v string").schema
    reader = TxlogStreamReader(schema, {"path": t, "maxFilesPerTrigger": "3"})
    off = reader.initialOffset()
    seen, steps = [], []
    while True:
        end = reader.latestOffset()
        if end == off:
            break
        parts = reader.partitions(off, end)
        for p in parts:
            for b in reader.read(p):
                seen.extend(r["id"] for r in b.to_pylist())
        reader.commit(end)
        steps.append((off["version"], end["version"], len(parts)))
        off = end
    # v0 alone (v0+v1 = 4 files > 3), then v1, v2, the oversized v3
    # WHOLE (must progress past a single commit bigger than the cap),
    # then v4; the oversized batch's partition count is v3's actual
    # file count (> cap by construction)
    import json as _json

    with open(txlog._commit_path(t, 3)) as f:
        n3 = len(_json.load(f)["add"])
    assert n3 > 3
    assert steps == [(-1, 0, 2), (0, 1, 2), (1, 2, 2), (2, 3, n3), (3, 4, 1)]
    assert sorted(seen) == sorted(
        [0, 1, 2, 3, 4, 5] + [10, 11, 12, 13, 14, 15] + [99]
    )
    # replanning an already-committed range ignores the cap (replay is
    # checkpoint-driven): same partitions, bit-identical rows
    replay = reader.partitions({"version": -1}, {"version": 4})
    n = sum(b.num_rows for p in replay for b in reader.read(p))
    assert n == 13


def test_stream_max_bytes_per_trigger(spark, tmp_path):
    """maxBytesPerTrigger: byte-budget version-aligned admission from
    the add actions' own size field (stat fallback for size-less bare
    paths), at-least-one-version progress past an over-budget commit,
    combined-cap whichever-binds-first with maxFilesPerTrigger, and the
    option's parse/validation contract."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
        _parse_bytes,
    )

    def drain_steps(reader):
        off = reader.initialOffset()
        steps = []
        while True:
            end = reader.latestOffset()
            if end == off:
                break
            steps.append((off["version"], end["version"]))
            reader.commit(end)
            off = end
        return steps

    t = str(tmp_path / "t")
    for i in range(3):
        txlog.commit(
            t,
            add=txlog.write_files(
                _df(spark, [(i * 2, "a"), (i * 2 + 1, "b")]).repartition(1),
                t,
                stats_cols=["id"],
            ),
            expected_version=i,
            operation="WRITE",
            metadata={"schema": "id BIGINT, v STRING"} if i == 0 else None,
        )
    import json as _json

    sizes = []
    for v in range(3):
        with open(txlog._commit_path(t, v)) as f:
            (a,) = _json.load(f)["add"]
        assert a["size"] > 0, "write_files must record add.size in the log"
        sizes.append(a["size"])
    schema = spark.createDataFrame([], "id long, v string").schema

    # pair budget: v0+v1 fit, v2 would burst -> two batches, then v2
    budget = sizes[0] + sizes[1]
    assert budget < sum(sizes)
    r = TxlogStreamReader(
        schema, {"path": t, "maxBytesPerTrigger": str(budget)}
    )
    assert drain_steps(r) == [(-1, 1), (1, 2)]

    # budget below every single file: each over-budget commit still
    # feeds WHOLE, one version per batch (progress guarantee)
    r = TxlogStreamReader(schema, {"path": t, "maxBytesPerTrigger": "1"})
    assert drain_steps(r) == [(-1, 0), (0, 1), (1, 2)]

    # combined caps — whichever binds first: a huge byte budget with
    # maxFilesPerTrigger=1 binds on files; 3 files allowed but a
    # one-file byte budget binds on bytes
    r = TxlogStreamReader(
        schema,
        {"path": t, "maxBytesPerTrigger": "1g", "maxFilesPerTrigger": "1"},
    )
    assert drain_steps(r) == [(-1, 0), (0, 1), (1, 2)]
    r = TxlogStreamReader(
        schema,
        {
            "path": t,
            "maxBytesPerTrigger": str(sizes[0]),
            "maxFilesPerTrigger": "3",
        },
    )
    assert drain_steps(r) == [(-1, 0), (0, 1), (1, 2)]

    # size-less bare-path actions (no stats): admission falls back to a
    # driver-side stat and the same pair budget produces the same steps
    t2 = str(tmp_path / "t2")
    s2 = []
    for i in range(3):
        (p,) = txlog.write_files(
            _df(spark, [(i * 2, "a"), (i * 2 + 1, "b")]).repartition(1), t2
        )
        import os as _os

        s2.append(_os.path.getsize(p))
        txlog.commit(
            t2,
            add=[p],
            expected_version=i,
            operation="WRITE",
            metadata={"schema": "id BIGINT, v STRING"} if i == 0 else None,
        )
    r = TxlogStreamReader(
        schema, {"path": t2, "maxBytesPerTrigger": str(s2[0] + s2[1])}
    )
    assert drain_steps(r) == [(-1, 1), (1, 2)]

    # parse/validation contract
    assert _parse_bytes("4k") == 4096
    assert _parse_bytes("2m") == 2 << 20
    assert _parse_bytes("1g") == 1 << 30
    assert _parse_bytes(512) == 512
    with pytest.raises(ValueError, match="maxBytesPerTrigger"):
        TxlogStreamReader(schema, {"path": t, "maxBytesPerTrigger": "0"})
    with pytest.raises(ValueError, match="maxBytesPerTrigger"):
        TxlogStreamReader(schema, {"path": t, "maxBytesPerTrigger": "nope"})
    with pytest.raises(ValueError, match="maxBytesPerTrigger"):
        TxlogStreamReader(schema, {"path": t, "maxBytesPerTrigger": "1.5m"})


def test_stream_append_only_refuses_dv_rereference_adds(spark, tmp_path):
    """An add action CARRYING a deletion vector is not a pure append
    (it re-references a file whose rows the stream already emitted — a
    RESTORE re-adding a DV'd action onto an emptied table is the
    add-only case): the plain source must raise, skipChangeCommits must
    skip it whole, and the CDF reader remains the forwarding path."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(1, "a"), (2, "b"), (3, "c")]).repartition(1),
            t,
            stats_cols=["id"],
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.delete_where(spark, t, "id = 1", dv_fraction_threshold=1.0)  # v1
    acts, _, _, _ = txlog._resolve(t, None)
    assert txlog._dv_map(acts), "the DELETE must take the DV path"
    # v2: drop the file entirely (manual protocol-level commit)
    txlog.commit(
        t, add=[], remove=txlog.snapshot_files(t), expected_version=2,
        operation="DELETE",
    )
    v = txlog.restore(t, 1)  # v3: add-only commit re-adding the DV'd action
    with open(txlog._commit_path(t, v)) as f:
        import json as _json

        payload = _json.load(f)
    assert payload["remove"] == [] and payload["add"]  # the add-only shape
    schema = spark.createDataFrame([], "id long, v string").schema
    strict = TxlogStreamReader(schema, {"path": t})
    with pytest.raises(ValueError, match="deletion-vector re-references"):
        strict.partitions({"version": 2}, {"version": 3})
    skip = TxlogStreamReader(schema, {"path": t, "skipChangeCommits": "true"})
    assert skip.partitions({"version": 2}, {"version": 3}) == []
    # and the restored tip still batch-reads correctly (2 live rows)
    assert txlog.read_version(spark, t).count() == 2
    with pytest.raises(ValueError, match="append-only"):
        strict.partitions({"version": 2}, {"version": 3})


def test_stream_cdf_nan_and_nested_match_batch_semantics(spark, tmp_path):
    """The arrow diff's image equality mirrors Spark's eqNullSafe: a
    NaN double carried UNCHANGED through a rewrite is dropped as an
    unchanged copy (Spark's comparator treats NaN <=> NaN as TRUE,
    IEEE arrow semantics do not), and nested (array) columns compare
    structurally instead of crashing pc.equal."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
        _diff_commit,
    )

    t = str(tmp_path / "t")
    ddl = "id BIGINT, x DOUBLE, tags ARRAY<STRING>"
    rows = [
        (1, float("nan"), ["a", "b"]),
        (2, 2.0, ["c"]),
        (3, float("nan"), None),
    ]
    txlog.commit(
        t,
        add=txlog.write_files(spark.createDataFrame(rows, ddl), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": ddl},
    )
    # rewrite: id=2 changes its nested column; NaN rows carried unchanged
    rows2 = [
        (1, float("nan"), ["a", "b"]),
        (2, 2.0, ["c", "d"]),
        (3, float("nan"), None),
    ]
    txlog.commit(
        t,
        add=txlog.write_files(spark.createDataFrame(rows2, ddl), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )
    want = sorted(
        map(str, txlog.table_changes(spark, t, 1, 1, key="id").collect())
    )
    schema = spark.createDataFrame([], ddl).schema
    reader = TxlogStreamReader(schema, {"path": t, "readchangefeed": "true"})
    (part,) = reader.partitions({"version": 0}, {"version": 1})
    tbl = _diff_commit(part, reader.fields)
    got = sorted(
        str(r)
        for r in spark.createDataFrame(
            tbl.to_pandas(),
            ddl + ", _change_type STRING, _commit_version INT, _operation STRING",
        ).collect()
    )
    # only id=2's pre/post pair feeds; both NaN rows drop as unchanged
    assert len(got) == 2 == len(want)
    assert got == want


def test_table_changes_types_undeclared_feed_like_read_version(spark, tmp_path):
    """An undeclared table whose files disagree on schema: the change feed
    is typed from the one footer ``read_version`` plans with (the lowest
    path's). A reserved name in that footer is refused; a reserved name
    only in another file is no column of the table, so the feed serves
    its own ``_operation`` meta column for that file's rows."""

    def table(name, first, second):
        t = str(tmp_path / name)
        files = []
        for sub, df in (("a", first), ("b", second)):
            out = os.path.join(t, "data", sub)
            df.coalesce(1).write.parquet(out)
            files += [
                os.path.join(out, f)
                for f in sorted(os.listdir(out))
                if f.endswith(".parquet")
            ]
        txlog.commit(t, add=files, expected_version=0, operation="WRITE")
        return t

    clean = _df(spark, [(1, "a")])
    poisoned = spark.createDataFrame(
        [(2, "b", "x")], "id long, v string, _operation string"
    )
    t = table("poisoned_first", poisoned, clean)
    with pytest.raises(ValueError, match="_operation"):
        txlog.table_changes(spark, t, 0, 0)
    t = table("clean_first", clean, poisoned)
    assert txlog.read_version(spark, t).columns == ["id", "v"]
    assert sorted(tuple(r) for r in txlog.table_changes(spark, t, 0, 0).collect()) == [
        (1, "a", "insert", 0, "WRITE"),
        (2, "b", "insert", 0, "WRITE"),
    ]


def _drain_cdf_stream(spark, t, start, name, ckpt):
    """Run a readChangeFeed stream from ``start`` to the tip (availableNow)
    into a memory sink and return its rows."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    spark.dataSource.register(TxlogStreamDataSource)
    q = (
        spark.readStream.format("cdc_txlog")
        .option("path", t)
        .option("readChangeFeed", "true")
        .option("startingVersion", str(start))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_dml_resolves_the_log_once(spark, tmp_path, monkeypatch):
    """MERGE, UPDATE and ADD CONSTRAINT each fold the log once: the
    column list, the type check and the existing-data validation read
    the snapshot the command already resolved."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    calls = []
    resolve = txlog._resolve
    monkeypatch.setattr(
        txlog, "_resolve", lambda *a: calls.append(a) or resolve(*a)
    )
    txlog.merge_into(spark, t, _df(spark, [(1, "A"), (3, "c")]), "id")
    assert len(calls) == 1
    calls.clear()
    txlog.update_where(spark, t, "id = 2", {"v": "upper(v)"})
    assert len(calls) == 1
    calls.clear()
    txlog.add_constraints(spark, t, {"v_set": "v IS NOT NULL"})
    assert len(calls) == 1
    monkeypatch.undo()
    assert sorted(map(tuple, txlog.read_version(spark, t).collect())) == [
        (1, "A"),
        (2, "B"),
        (3, "c"),
    ]
    assert txlog.table_metadata(t)["constraints"] == {"v_set": "v IS NOT NULL"}


def test_dml_and_feeds_under_url_encoded_table_path(spark, tmp_path):
    """Spark records ``_metadata.file_path`` URL-encoded (``a b%c#d`` as
    ``a%20b%25c%23d``). The touched-file probe and the feed's
    deletion-vector match must decode it: otherwise DELETE and MERGE
    touch no file (the row survives, the upsert duplicates its key),
    ``apply_batch`` rewrites nothing, and a DV'd feed refuses."""
    from change_data_capture_spark.streaming.scd2_stream import (
        Scd2State,
        apply_batch,
    )

    root = tmp_path / "a b%c#d"
    t = str(root / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(1, "a"), (2, "b"), (3, "c")]), t, stats_cols=["id"]
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    _, touched = txlog.delete_where(spark, t, "id = 2")
    assert len(touched) == 1
    txlog.merge_into(spark, t, _df(spark, [(1, "A")]), "id")
    assert sorted(map(tuple, txlog.read_version(spark, t).collect())) == [
        (1, "A"),
        (3, "c"),
    ]
    # a merge-on-read DELETE, read back by the batch and the streaming feed
    v, _ = txlog.delete_where(spark, t, "id = 3", dv_fraction_threshold=1.0)
    assert txlog._dv_map(txlog._resolve(t, v)[0])
    batch = [
        (r["_change_type"], r["id"], r["v"])
        for r in txlog.table_changes(spark, t, v, v).collect()
    ]
    assert batch == [("delete", 3, "c")]
    streamed = _drain_cdf_stream(
        spark, t, v, "cdf_encoded_path", str(root / "ckpt")
    )
    assert [(r["_change_type"], r["id"], r["v"]) for r in streamed] == batch

    # the SCD2 merge takes the same probe: a touching batch rewrites
    ws = str(root / "scd2")
    state = Scd2State(spark, ws)
    ddl = (
        "id long, name string, description string, price decimal(10,2), "
        "lsn long, ts_ms long"
    )
    apply_batch(state, spark.createDataFrame([(5, "n", "d", None, 51, 1000)], ddl))
    apply_batch(state, spark.createDataFrame([(5, "m", "d", None, 52, 2000)], ddl))
    (c1,) = txlog._commits(ws, 1, 1)
    assert c1["remove"]
    assert state.read().count() == 2


def test_optimize_commit_feeds_no_change(spark, tmp_path):
    """An OPTIMIZE commit moves rows and changes none (Delta's
    ``dataChange=false``): both feeds skip it. A table holding a NULL-key
    row and a duplicated key would otherwise feed an unpaired
    delete/insert and fail the duplicate-key guard."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(None, "ghost"), (1, "a"), (1, "a2"), (2, "b")]), t
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    v = txlog.optimize(spark, t)
    assert v == 1 and txlog.history(t)[-1]["operation"] == "OPTIMIZE"
    feed = txlog.table_changes(spark, t, v, v)
    assert feed.collect() == []
    assert feed.columns == [
        "id", "v", "_change_type", "_commit_version", "_operation",
    ]
    assert _drain_cdf_stream(spark, t, v, "cdf_optimize", str(tmp_path / "ck")) == []


def test_stream_cdf_checkpoint_restart_continues(spark, tmp_path):
    """readChangeFeed across RESTARTS: a CDF stream drained with
    availableNow, resumed from its checkpoint after new commits (an
    append and a DV DELETE), feeds exactly the new versions' change
    rows — offsets are log versions in CDF mode too, replanning a
    committed range is deterministic, and the resumed run's DV-state
    fold starts from the checkpointed version, not from 0."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(
            _df(spark, [(1, "a"), (2, "b")]).repartition(1), t,
            stats_cols=["id"],
        ),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    spark.dataSource.register(TxlogStreamDataSource)

    def drain(qname):
        got: list[tuple] = []

        def fb(batch_df, batch_id):
            got.extend(
                (r["_commit_version"], r["_change_type"], r["id"])
                for r in batch_df.collect()
            )

        q = (
            spark.readStream.format("cdc_txlog")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(got)

    assert drain("cdf_run1") == [(0, "insert", 1), (0, "insert", 2)]
    # between runs: one append, one merge-on-read DELETE
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(3, "c")]), t, stats_cols=["id"]),
        expected_version=1,
        operation="WRITE",
    )
    txlog.delete_where(spark, t, "id = 1", dv_fraction_threshold=1.0)
    acts, _, _, _ = txlog._resolve(t, None)
    assert txlog._dv_map(acts), "the DELETE must take the DV path"
    # the resumed run (same checkpoint, fresh memory sink) feeds ONLY the
    # new versions — nothing from v0 is re-emitted
    assert drain("cdf_run2") == [
        (1, "insert", 3),
        (2, "delete", 1),
    ]


def test_constrained_append_is_single_compute(spark, tmp_path, monkeypatch):
    """validated_write shares the DML write pass's fusion: with declared
    constraints the append frame is persisted across the check and the
    write, so the source plan is evaluated ONCE and the written plan
    reads the cache the constraint aggregate materialized
    (InMemoryRelation); without constraints no persist appears; the
    cache never leaks — including the refusal path, where nothing is
    written at all."""
    sc = spark.sparkContext
    captured: list[str] = []
    real_write_files = txlog.write_files

    def spy(df, table_dir, stats_cols=None):
        captured.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_write_files(df, table_dir, stats_cols=stats_cols)

    monkeypatch.setattr(txlog, "write_files", spy)
    baseline = len(sc._jsc.sc().getRDDStorageInfo())

    def run(tag, declare):
        t = str(tmp_path / tag)
        meta = {"schema": "id BIGINT, price DOUBLE"}
        if declare:
            meta["constraints"] = {"price_pos": "price > 0"}
        txlog.commit(t, add=[], expected_version=0, metadata=meta)
        captured.clear()
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, price double")
        acts = txlog.validated_write(df, t)
        txlog.commit(t, add=acts, expected_version=1)
        assert len(captured) == 1
        return captured[0]

    assert "InMemoryRelation" not in run("app_plain", declare=False)
    assert "InMemoryRelation" in run("app_checked", declare=True)
    assert len(sc._jsc.sc().getRDDStorageInfo()) == baseline
    # refusal path: the violating batch is checked against the cache,
    # refused whole, and the cache is released — no files, no leak
    with pytest.raises(txlog.ConstraintViolation, match="price_pos"):
        txlog.validated_write(
            spark.createDataFrame([(3, -1.0)], "id long, price double"),
            str(tmp_path / "app_checked"),
        )
    assert len(sc._jsc.sc().getRDDStorageInfo()) == baseline


def test_stream_apply_dv_fails_loud_on_uri_mismatch(tmp_path):
    """An attached deletion vector whose sidecar holds no positions for
    the reconstructed file URI means _file_uri diverged from the URI
    Spark recorded at DELETE time (e.g. a URL-encoded table path) —
    silently returning the table would RE-EMIT deleted rows into the
    stream, so _apply_dv raises instead (pure arrow, no session)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from change_data_capture_spark.sources.txlog_stream import _apply_dv

    data = pa.table({"id": pa.array([1, 2], pa.int64())})
    dpath = str(tmp_path / "data.parquet")
    pq.write_table(data, dpath)
    dv_dir = tmp_path / "dv"
    dv_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "file": pa.array(["file:/somewhere%20else"], pa.string()),
                "pos": pa.array([0], pa.int64()),
            }
        ),
        str(dv_dir / "part-0.parquet"),
    )
    # no dv attached: pass-through, no probe
    assert _apply_dv(data, dpath, None) is data
    # attached dv with zero positions for this file's URI: refuse
    with pytest.raises(ValueError, match="no positions"):
        _apply_dv(data, dpath, str(dv_dir))


def test_version_at_timestamp_boundaries(spark, tmp_path):
    """The timestamp→version fold behind every TIMESTAMP AS OF surface:
    a ts before the first commit raises; between commits resolves DOWN
    (last version at or before); a tie resolves to the stamped version;
    at or past the tip resolves to the tip; at_or_after gives the CDF
    start semantics (first version at or after, raising past the tip);
    non-monotone raw timestamps are served through the running-max fold
    (Delta's monotonicity rule); an un-stamped commit falls back to its
    commit file's mtime."""
    t = str(tmp_path / "t")
    for v, ts in enumerate((100.0, 200.0, 300.0)):
        txlog.commit(
            t,
            add=txlog.write_files(_df(spark, [(v, "x")]), t),
            expected_version=v,
            timestamp=ts,
        )
    vat = txlog.version_at_timestamp
    with pytest.raises(ValueError, match="before"):
        vat(t, 50.0)
    assert vat(t, 100.0) == 0
    assert vat(t, 150.0) == 0
    assert vat(t, 200.0) == 1  # tie: the stamped version itself
    assert vat(t, 250.0) == 1
    assert vat(t, 300.0) == 2
    assert vat(t, 1e12) == 2  # past the tip = the tip
    # CDF start semantics
    assert vat(t, 50.0, mode="at_or_after") == 0
    assert vat(t, 150.0, mode="at_or_after") == 1
    assert vat(t, 300.0, mode="at_or_after") == 2
    with pytest.raises(ValueError, match="after"):
        vat(t, 301.0, mode="at_or_after")
    # ISO string / datetime forms normalize to the same answer
    import datetime

    iso = datetime.datetime.fromtimestamp(
        250.0, datetime.timezone.utc
    ).isoformat()
    assert vat(t, iso) == 1
    # REGRESSED raw timestamp (250 after 300): served at the running max
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(3, "y")]), t),
        expected_version=3,
        timestamp=250.0,
    )
    assert txlog.commit_timestamps(t) == [100.0, 200.0, 300.0, 300.0]
    assert vat(t, 300.0) == 3  # the tie now includes the folded commit
    # un-stamped commit: mtime fallback (now >> 300) keeps the fold sane
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(4, "z")]), t),
        expected_version=4,
    )
    stamps = txlog.commit_timestamps(t)
    assert stamps[4] > 300.0 and stamps == sorted(stamps)
    # non-finite timestamps are not instants: 'nan' would compare False
    # everywhere (silently skipping the log on a stream, crashing the
    # batch fold with a bare empty-sequence error) — every spelling
    # raises the typed guard instead
    for bad in ("nan", "inf", "-inf", float("nan"), float("inf")):
        with pytest.raises(ValueError, match="finite"):
            vat(t, bad)
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    schema = spark.createDataFrame([], "id long, v string").schema
    with pytest.raises(ValueError, match="finite"):
        TxlogStreamReader(schema, {"path": t, "startingTimestamp": "nan"})
    # callers holding the stamps list resolve against it without a
    # second log walk (and get the identical answer)
    assert vat(t, 250.0, stamps=stamps) == vat(t, 250.0)


def test_timestamp_travel_read_restore_and_cdf(spark, tmp_path):
    """TIMESTAMP AS OF across the read surface: read_version(timestamp=)
    reads the resolved snapshot, restore(timestamp=) rewinds to it, and
    table_changes' starting/ending_timestamp bound the same range as
    their version twins; each axis is mutually exclusive with the
    other."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]), t),
        expected_version=0,
        operation="WRITE",
        timestamp=100.0,
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "A"), (2, "b")]), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
        timestamp=200.0,
    )
    # snapshot at ts=150 = v0's image
    got = sorted(
        tuple(r) for r in txlog.read_version(spark, t, timestamp=150.0).collect()
    )
    assert got == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="not both"):
        txlog.read_version(spark, t, 0, timestamp=150.0)
    # CDF timestamp range == version range
    by_ts = txlog.table_changes(
        spark, t, starting_timestamp=150.0, ending_timestamp=250.0
    )
    by_v = txlog.table_changes(spark, t, 1, 1)
    assert sorted(map(tuple, by_ts.collect())) == sorted(
        map(tuple, by_v.collect())
    )
    with pytest.raises(ValueError, match="not both"):
        txlog.table_changes(spark, t, 1, starting_timestamp=150.0)
    with pytest.raises(ValueError, match="range start is required"):
        txlog.table_changes(spark, t)
    # restore by timestamp: the tip becomes v0's snapshot again
    txlog.restore(t, timestamp=150.0)
    got = sorted(tuple(r) for r in txlog.read_version(spark, t).collect())
    assert got == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="version= or timestamp="):
        txlog.restore(t)


def test_stream_starting_timestamp_and_version_boundaries(spark, tmp_path):
    """The streaming source's start contract, pinned in BOTH modes:
    startingTimestamp resolves to the first version at or after the
    instant; a past-tip timestamp starts AFTER the tip (future-only
    stream, no error); startingVersion beyond tip+1 is refused at
    construction; the two options are mutually exclusive; a garbage
    timestamp raises instead of silently starting at the tip."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    for v, ts in enumerate((100.0, 200.0)):
        txlog.commit(
            t,
            add=txlog.write_files(_df(spark, [(v, "x")]), t),
            expected_version=v,
            operation="WRITE",
            timestamp=ts,
            metadata={"schema": "id BIGINT, v STRING"} if v == 0 else None,
        )
    schema = spark.createDataFrame([], "id long, v string").schema
    for extra in ({}, {"readchangefeed": "true"}):
        mk = lambda **o: TxlogStreamReader(schema, {"path": t, **extra, **o})
        # ts between commits -> first version at or after (v1)
        assert mk(startingtimestamp="150.0").starting_version == 1
        # past the tip -> future-only (tip+1), a stream waits
        assert mk(startingtimestamp="9e9").starting_version == 2
        assert mk(startingversion="2").starting_version == 2  # tip+1 ok
        with pytest.raises(ValueError, match="past the log tip"):
            mk(startingversion="3")
        with pytest.raises(ValueError, match="mutually exclusive"):
            mk(startingversion="1", startingtimestamp="150.0")
        with pytest.raises(ValueError):
            mk(startingtimestamp="not-a-time")


def test_stream_vacuumed_horizon_fails_at_planning(spark, tmp_path):
    """A micro-batch whose commits reference vacuumed files fails AT
    PLANNING with a guided error naming the fix (retained start /
    longer retention), in BOTH modes — not as an executor FileNotFound
    stack trace."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "A")]), t),
        remove=txlog.snapshot_files(t),
        expected_version=1,
        operation="UPDATE",
    )
    # reclaim v0's pre-image: any batch replaying commit 0 (or diffing
    # commit 1's pre side) now references a missing file
    txlog.vacuum(t, data_grace_seconds=0.0)
    schema = spark.createDataFrame([], "id long, v string").schema
    append = TxlogStreamReader(schema, {"path": t})
    with pytest.raises(ValueError, match="vacuumed"):
        append.partitions({"version": -1}, {"version": 0})
    cdf = TxlogStreamReader(schema, {"path": t, "readchangefeed": "true"})
    with pytest.raises(ValueError, match="vacuumed"):
        cdf.partitions({"version": 0}, {"version": 1})
    # a skipped commit's vacuumed pre-image is never stat'ed
    skip = TxlogStreamReader(schema, {"path": t, "skipChangeCommits": "true"})
    assert skip.partitions({"version": 0}, {"version": 1}) == []


def test_txlog_cdf_ops_oracle_parity(spark, sf_dir):
    """The batch change feed over the gate's UPDATE and DELETE commits
    matches its DuckDB oracle."""
    import __spark_entry__ as entrymod
    from tests.oracle import compare

    compare(
        "txlog_cdf_ops", spark, sf_dir, entrymod.queries(), entrymod.oracle_sql()
    )


def _drain_append_stream(spark, t, name, ckpt):
    """Run an append-only stream from version 0 to the tip (availableNow)
    into a memory sink and return its rows."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    spark.dataSource.register(TxlogStreamDataSource)
    q = (
        spark.readStream.format("cdc_txlog")
        .option("path", t)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_stream_append_only_reads_evolved_schema(spark, tmp_path):
    """The append-only stream reads files through the feed's file read:
    over a table whose declared schema evolved, pre-evolution files
    null-fill the new column, and a data column named like a feed meta
    column (``_operation``) streams as data — only the CDF stance
    reserves those names."""
    t = str(tmp_path / "t")
    txlog.commit(t, add=[], expected_version=0,
                 metadata={"schema": "id BIGINT, _operation STRING"})
    old = spark.createDataFrame([(1, "old")], "id long, _operation string")
    txlog.commit(t, add=txlog.validated_write(old, t), expected_version=1)
    new = spark.createDataFrame(
        [(2, "new", 7)], "id long, _operation string, b int"
    )
    txlog.commit(
        t,
        add=txlog.validated_write(new, t, evolve=True),
        expected_version=2,
        metadata={"schema": "id BIGINT, _operation STRING, b INT"},
    )
    got = _drain_append_stream(spark, t, "append_evolved", str(tmp_path / "ck"))
    assert [tuple(r) for r in sorted(got)] == [(1, "old", None), (2, "new", 7)]
    assert got[0].__fields__ == ["id", "_operation", "b"]


def test_stream_append_only_passes_over_optimize(spark, tmp_path):
    """An OPTIMIZE commit moves rows and changes none (Delta's
    ``dataChange=false``): the append-only stream plans nothing for it
    and does not raise, and the appends around it stream exactly once."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]).repartition(2), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.commit(t, add=txlog.write_files(_df(spark, [(3, "c")]), t),
                 expected_version=1, operation="WRITE")
    assert txlog.optimize(spark, t) == 2
    txlog.commit(t, add=txlog.write_files(_df(spark, [(4, "d")]), t),
                 expected_version=3, operation="WRITE")
    schema = spark.createDataFrame([], "id long, v string").schema
    strict = TxlogStreamReader(schema, {"path": t})
    assert strict.partitions({"version": 1}, {"version": 2}) == []
    got = sorted(
        tuple(row.values())
        for p in strict.partitions({"version": -1}, {"version": 3})
        for batch in strict.read(p)
        for row in batch.to_pylist()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_append_range_plans_from_its_own_commits(spark, tmp_path, monkeypatch):
    """Planning an append range opens only the range's commit files, in
    every stance: the planner seeds its deletion-vector state lazily, at
    the first commit that needs a remove side, so an append range never
    resolves the snapshot below it. ``table_changes`` also resolves the
    END version's metadata, which reads the log tail after the newest
    checkpoint — with a checkpoint at the range's base, only the range."""
    import builtins
    import collections
    import re

    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(_df(spark, [(1, "a"), (2, "b")]), t),
        expected_version=0,
        operation="WRITE",
        metadata={"schema": "id BIGINT, v STRING"},
    )
    txlog.update_where(spark, t, "id = 1", {"v": "'A'"})  # v1: a rewrite
    for v in range(2, 6):
        txlog.commit(
            t,
            add=txlog.write_files(_df(spark, [(v + 10, "x")]).repartition(1), t),
            expected_version=v,
            operation="WRITE",
        )
    opens: collections.Counter = collections.Counter()
    real_open = builtins.open
    commit_file = re.compile(r"_txlog[/\\](\d{20})\.json$")

    def counting_open(file, *args, **kwargs):
        m = commit_file.search(str(file))
        if m:
            opens[int(m.group(1))] += 1
        return real_open(file, *args, **kwargs)

    schema = spark.createDataFrame([], "id long, v string").schema
    stances = [{}, {"skipChangeCommits": "true"}, {"readChangeFeed": "true"}]
    readers = [TxlogStreamReader(schema, {"path": t, **o}) for o in stances]
    monkeypatch.setattr(builtins, "open", counting_open)
    for reader in readers:
        opens.clear()
        parts = reader.partitions({"version": 2}, {"version": 5})
        assert len(parts) == 3
        assert sorted(opens) == [3, 4, 5] and max(opens.values()) == 1, opens
    monkeypatch.undo()
    txlog.write_checkpoint(t, 2)
    monkeypatch.setattr(builtins, "open", counting_open)
    opens.clear()
    txlog.table_changes(spark, t, 3, 5)
    monkeypatch.undo()
    assert sorted(opens) == [3, 4, 5], opens


def test_column_mapping_rename_drop_metadata_only(spark, tmp_path):
    """RENAME/DROP COLUMN are metadata-only commits (zero add/remove
    actions in history), pre-rename files read correctly under the new
    logical names, DROP hides its column without any rewrite, and time
    travel to pre-rename versions reads under THAT version's own
    names — each snapshot self-consistent."""
    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=[],
        expected_version=0,
        metadata={"schema": "id BIGINT, name STRING, note STRING"},
    )
    df = spark.createDataFrame(
        [(1, "a", "n1"), (2, "b", "n2")], "id long, name string, note string"
    )
    txlog.commit(t, add=txlog.validated_write(df, t), expected_version=1)
    files_before = set(txlog.snapshot_files(t))
    txlog.rename_column(t, "name", "product_name")
    txlog.drop_column(t, "note")
    # metadata-only: same data files in the snapshot, 0 add / 0 remove
    assert set(txlog.snapshot_files(t)) == files_before
    ops = {
        h["version"]: (h["operation"], h["n_add"], h["n_remove"])
        for h in txlog.history(t)
    }
    assert ops[2] == ("RENAME COLUMN", 0, 0)
    assert ops[3] == ("DROP COLUMN", 0, 0)
    tip = txlog.read_version(spark, t)
    assert tip.columns == ["id", "product_name"]
    assert sorted(tuple(r) for r in tip.collect()) == [(1, "a"), (2, "b")]
    # pre-rename snapshot: original shape
    v1 = txlog.read_version(spark, t, 1)
    assert v1.columns == ["id", "name", "note"]
    assert sorted(tuple(r) for r in v1.collect()) == [
        (1, "a", "n1"),
        (2, "b", "n2"),
    ]
    # post-rename append translates logical→physical on write: the new
    # file's on-disk column is the FROZEN physical name ("name")
    txlog.commit(
        t,
        add=txlog.validated_write(
            spark.createDataFrame([(3, "c")], "id long, product_name string"), t
        ),
        expected_version=4,
    )
    import pyarrow.parquet as pq

    newest = [
        p for p in txlog.snapshot_files(t) if p not in files_before
    ]
    assert newest and all(
        pq.read_schema(p).names == ["id", "name"] for p in newest
    )
    assert sorted(
        tuple(r) for r in txlog.read_version(spark, t).collect()
    ) == [(1, "a"), (2, "b"), (3, "c")]


def test_column_mapping_dml_cdf_and_skipping(spark, tmp_path):
    """The full surface operates on LOGICAL names across a rename:
    UPDATE/DELETE/MERGE predicates and images, the change feed (served
    in the END version's logical shape), and per-file stats skipping
    (stats stay keyed by frozen physical names; the predicate column
    translates)."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    txlog.commit(
        t, add=[], expected_version=0, metadata={"schema": "id BIGINT, v STRING"}
    )
    df = spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v")
    ).repartitionByRange(4, "id")
    txlog.commit(
        t,
        add=txlog.validated_write(df, t, stats_cols=["id"]),
        expected_version=1,
    )
    pruned_before = txlog.snapshot_files(t, predicate_range=("id", 0, 10))
    txlog.rename_column(t, "id", "pid")
    # skipping through the renamed logical name prunes identically
    assert txlog.snapshot_files(
        t, predicate_range=("pid", 0, 10)
    ) == pruned_before
    assert len(pruned_before) < len(txlog.snapshot_files(t))
    # DML over logical names
    txlog.update_where(
        spark, t, "pid = 1", {"v": "upper(v)"}, prune_range=("pid", 1, 1),
    )
    txlog.delete_where(spark, t, "pid = 2", prune_range=("pid", 2, 2))
    txlog.merge_into(
        spark,
        t,
        spark.createDataFrame([(3, "V3"), (100, "v100")], "pid long, v string"),
        key="pid",
    )
    got = {r["pid"]: r["v"] for r in txlog.read_version(spark, t).collect()}
    assert got[1] == "V1" and 2 not in got and got[3] == "V3" and got[100] == "v100"
    # CDF across the whole DML run, in end-version logical names
    feed = txlog.table_changes(spark, t, 3, key="pid")
    assert set(feed.columns) == {
        "pid", "v", "_change_type", "_commit_version", "_operation"
    }
    by_type = sorted(
        (r["_change_type"], r["pid"]) for r in feed.collect()
    )
    assert ("update_preimage", 1) in by_type and ("delete", 2) in by_type
    assert ("insert", 100) in by_type


def test_column_mapping_refusals_and_tombstone(spark, tmp_path):
    """The ALTER guards: unknown/colliding names, missing declared
    schema, the last remaining column, and a CHECK-constraint-referenced
    column all refuse; a dropped column's physical name is tombstoned so
    re-adding the logical name without a fresh physical raises at read
    (never silent resurrection); streaming refuses a renamed table but
    allows an identity (never-renamed) mapping."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamReader,
    )

    t = str(tmp_path / "t")
    with pytest.raises(ValueError, match="declared table schema"):
        txlog.rename_column(str(tmp_path / "none"), "a", "b")
    txlog.commit(
        t,
        add=[],
        expected_version=0,
        metadata={
            "schema": "id BIGINT, price DOUBLE",
            "constraints": {"price_pos": "price > 0"},
        },
    )
    txlog.commit(
        t,
        add=txlog.validated_write(
            spark.createDataFrame([(1, 10.0)], "id long, price double"), t
        ),
        expected_version=1,
    )
    with pytest.raises(ValueError, match="not a table column"):
        txlog.rename_column(t, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        txlog.rename_column(t, "id", "price")
    with pytest.raises(ValueError, match="constraint"):
        txlog.rename_column(t, "price", "cost")
    with pytest.raises(ValueError, match="constraint"):
        txlog.drop_column(t, "price")
    txlog.rename_column(t, "id", "pid")
    schema = spark.createDataFrame([], "pid long, price double").schema
    with pytest.raises(ValueError, match="renamed or dropped"):
        TxlogStreamReader(schema, {"path": t})
    txlog.drop_column(t, "pid")
    with pytest.raises(ValueError, match="only column"):
        txlog.drop_column(t, "price")
    # tombstone: the dropped column's PHYSICAL name is "id" (pid was
    # renamed from it; physical names freeze at enable time). Re-adding
    # a column whose identity-physical hits that tombstone via raw
    # metadata fails loudly at scan build — old files still hold the
    # dropped bytes under "id". Re-adding logical "pid" instead is SAFE
    # (its identity physical "pid" never existed on disk): reads
    # null-fill, no resurrection.
    assert txlog.table_metadata(t)["dropped_physical"] == ["id"]
    meta = dict(txlog.table_metadata(t))
    meta["schema"] = meta["schema"] + ", id BIGINT"
    txlog.commit(
        t, add=[], metadata=meta, expected_version=txlog.latest_version(t) + 1
    )
    with pytest.raises(ValueError, match="tombstoned"):
        txlog.read_version(spark, t).collect()
    # identity mapping (enabled, nothing renamed): streaming allowed
    t2 = str(tmp_path / "t2")
    txlog.commit(
        t2,
        add=[],
        expected_version=0,
        metadata={
            "schema": "id BIGINT, v STRING",
            "column_mapping": {"id": "id", "v": "v"},
        },
    )
    txlog.commit(
        t2,
        add=txlog.write_files(_df(spark, [(1, "a")]), t2),
        expected_version=1,
    )
    schema2 = spark.createDataFrame([], "id long, v string").schema
    r = TxlogStreamReader(schema2, {"path": t2})
    assert r.starting_version == 0


def test_column_mapping_post_evolution_columns(spark, tmp_path):
    """Columns added by post-mapping schema evolution (absent from the
    mapping — identity-default on the read/write path) can themselves be
    RENAMED and DROPPED (no KeyError; their frozen physical name IS the
    identity name), while re-adding a RENAMED-AWAY logical name by
    identity fails loud at plan build — its physical name is frozen
    under the renamed column, and aliasing it would serve that column's
    bytes under the new name."""
    t = str(tmp_path / "t")
    txlog.commit(
        t, add=[], expected_version=0,
        metadata={"schema": "id BIGINT, name STRING"},
    )
    txlog.commit(
        t,
        add=txlog.validated_write(
            spark.createDataFrame([(1, "a")], "id long, name string"), t
        ),
        expected_version=1,
    )
    txlog.rename_column(t, "name", "title")  # enables mapping, freezes 'name'
    # schema evolution re-declares the widened schema; the mapping is
    # carried forward UNCHANGED (the identity-default handshake)
    meta = dict(txlog.table_metadata(t))
    meta["schema"] = meta["schema"] + ", note STRING"
    txlog.commit(
        t, add=[], metadata=meta, expected_version=txlog.latest_version(t) + 1
    )
    txlog.commit(
        t,
        add=txlog.validated_write(
            spark.createDataFrame(
                [(2, "b", "n2")], "id long, title string, note string"
            ),
            t,
        ),
        expected_version=txlog.latest_version(t) + 1,
    )
    # rename the evolution-added column: metadata-only, no KeyError, and
    # its physical name stays the identity 'note'
    txlog.rename_column(t, "note", "comment")
    assert txlog.table_metadata(t)["column_mapping"]["comment"] == "note"
    got = sorted(
        tuple(r) for r in txlog.read_version(spark, t).collect()
    )
    assert got == [(1, "a", None), (2, "b", "n2")]
    # drop it too (identity-default path through drop_column): tombstoned
    txlog.drop_column(t, "comment")
    assert "note" in txlog.table_metadata(t)["dropped_physical"]
    assert txlog.read_version(spark, t).columns == ["id", "title"]
    # re-adding the RENAMED-AWAY logical name 'name' by identity would
    # alias title's frozen physical bytes — plan build refuses
    meta = dict(txlog.table_metadata(t))
    meta["schema"] = meta["schema"] + ", name STRING"
    txlog.commit(
        t, add=[], metadata=meta, expected_version=txlog.latest_version(t) + 1
    )
    with pytest.raises(ValueError, match="already in use"):
        txlog.read_version(spark, t).collect()
    # mapping it to a FRESH physical name reads clean (null-filled)
    meta = dict(txlog.table_metadata(t))
    mapping = dict(meta["column_mapping"])
    mapping["name"] = "name_2"
    meta["column_mapping"] = mapping
    txlog.commit(
        t, add=[], metadata=meta, expected_version=txlog.latest_version(t) + 1
    )
    got = sorted(
        tuple(r) for r in txlog.read_version(spark, t).collect()
    )
    assert got == [(1, "a", None), (2, "b", None)]


def test_write_files_footer_stats_match_readback(spark, tmp_path):
    """The per-file stats write_files decodes from parquet footers equal
    a distributed read-back aggregation (min, max and count grouped by
    ``input_file_name()``), per file, for every type the footer bounds:
    BIGINT, DOUBLE with a NaN, STRING with a non-ASCII value, DATE,
    DECIMAL(10,2) (an INT64-backed decimal), DECIMAL(38,2), BOOLEAN,
    TIMESTAMP_NTZ, a column with some nulls and an all-null one.
    Spark's default INT96 timestamp has no footer statistics: it records
    [None, None], which never prunes. A stats column that exists only as
    a nested leaf raises instead of taking the leaf's bounds."""
    import datetime
    import math

    from pyspark.sql import functions as F

    cols = ["id", "dbl", "s", "d", "price", "big", "b", "ntz", "opt", "nul"]
    df = (
        spark.range(0, 3000)
        .select(
            F.col("id"),
            F.when(F.col("id") == 7, float("nan"))
            .otherwise(F.col("id") * 1.5 - 100.25)
            .alias("dbl"),
            F.when(F.col("id") % 500 == 1, F.lit("ünï-é"))
            .otherwise(F.concat(F.lit("s"), F.col("id").cast("string")))
            .alias("s"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("id") % 400).cast("int")
            ).alias("d"),
            (F.col("id") / 7).cast("decimal(10,2)").alias("price"),
            F.concat(
                (F.col("id") - 1500).cast("string"), F.lit("123456789012345.25")
            )
            .cast("decimal(38,2)")
            .alias("big"),
            (F.col("id") % 3 == 0).alias("b"),
            F.expr("CAST(timestamp_seconds(id * 3600) AS TIMESTAMP_NTZ)").alias(
                "ntz"
            ),
            F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("opt"),
            F.lit(None).cast("bigint").alias("nul"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
        )
        .repartition(3)
    )
    t = str(tmp_path / "t")
    acts = txlog.write_files(df, t, stats_cols=cols + ["ts"])
    assert len(acts) == 3
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    ref = {
        txlog._local_path(r["f"]): r
        for r in spark.read.parquet(*[a["path"] for a in acts])
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    }

    def same(v):  # NaN equals NaN for the comparison
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    for a in acts:
        p = os.path.abspath(a["path"])
        r = ref[p]
        assert a["num_rows"] == r["n"], p
        assert a["size"] == os.path.getsize(p)
        for c in cols:
            want = [
                txlog._stat_bound(r[f"min_{c}"], "min"),
                txlog._stat_bound(r[f"max_{c}"], "max"),
            ]
            assert [same(v) for v in a["stats"][c]] == [same(v) for v in want], (
                p,
                c,
            )
        assert a["stats"]["nul"] == [None, None]
        assert a["stats"]["ts"] == [None, None]  # INT96: no footer bounds
    # the NaN and the non-ASCII string are some file's max
    assert "NaN" in {same(a["stats"]["dbl"][1]) for a in acts}
    assert "ünï-é" in {a["stats"]["s"][1] for a in acts}

    # a range that no file's data meets on the INT96 column keeps every
    # file: [None, None] never prunes
    txlog.commit(t, add=acts, expected_version=0)
    far = datetime.datetime(1990, 1, 1)
    kept = txlog.snapshot_files(t, predicate_range=("ts", far, far))
    assert sorted(kept) == sorted(a["path"] for a in acts)

    # a struct field whose LEAF NAME shadows a stats column (parquet
    # reports the nested leaf as name 'id', path 'payload.id') must not
    # hijack the top-level column's footer stats
    df4 = spark.range(0, 100).select(
        F.col("id"),
        F.struct((F.col("id") + 100_000).alias("id")).alias("payload"),
    ).repartition(1)
    acts4 = txlog.write_files(df4, str(tmp_path / "t4"), stats_cols=["id"])
    assert acts4[0]["stats"]["id"] == [0, 99]  # top-level, not the leaf
    # drop the top-level column: 'id' now names only payload.id, which
    # per-file stats cannot stand for
    with pytest.raises(ValueError, match="'id'.*nested"):
        txlog.write_files(
            df4.drop("id").repartition(1), str(tmp_path / "t5"), stats_cols=["id"]
        )


def test_write_files_stats_run_no_job_of_their_own(spark, tmp_path, count_jobs):
    """Stats on DATE, DECIMAL, STRING and BOOLEAN columns cost the same
    Spark jobs as stats on a BIGINT column: every bound comes from the
    footers on the driver, so no column type adds a read-back pass. An
    UPDATE that keeps a table's stats costs the same jobs as one on an
    identical stats-less table."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 1000)
        .select(
            F.col("id"),
            F.date_add(
                F.lit("2024-01-01").cast("date"), (F.col("id") % 300).cast("int")
            ).alias("d"),
            (F.col("id") / 7).cast("decimal(10,2)").alias("price"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
            (F.col("id") % 2 == 0).alias("b"),
        )
        .repartition(2)
    )
    t = str(tmp_path / "t")
    by_id, _ = count_jobs(lambda: txlog.write_files(df, t, stats_cols=["id"]))
    by_all, acts = count_jobs(
        lambda: txlog.write_files(df, t, stats_cols=["d", "price", "s", "b"])
    )
    assert by_all == by_id
    assert all(a["stats"]["d"][0] is not None for a in acts)

    jobs = {}
    for stats in (["id"], None):
        u = str(tmp_path / f"u_{bool(stats)}")
        txlog.commit(u, add=txlog.write_files(df, u, stats_cols=stats))
        jobs[bool(stats)], _ = count_jobs(
            lambda: txlog.update_where(spark, u, "id = 5", {"s": "upper(s)"})
        )
        assert ("num_rows" in txlog._resolve(u).actions[-1]) == bool(stats)
    assert jobs[True] == jobs[False]


#: Spark jobs per step of ``test_undeclared_table_reads_like_a_declared_one``
#: (read, MERGE, UPDATE, copy-on-write DELETE, DV DELETE, second DV DELETE,
#: read over the DVs, table_changes, OPTIMIZE): a declared and an
#: undeclared table plan every scan from a schema known before planning,
#: so neither launches a schema-inference job
_SCHEMA_STEP_JOBS = [1, 8, 3, 3, 3, 5, 2, 1, 3]


@pytest.mark.parametrize("declared", [True, False], ids=["declared", "undeclared"])
def test_undeclared_table_reads_like_a_declared_one(
    spark, tmp_path, count_jobs, declared
):
    """A table with no declared schema is typed from one file footer on
    the driver: every read and DML step launches the same jobs as on the
    same table with a declaration, and the snapshot read, the change feed
    and the stream source agree on its column names and types."""
    from pyspark.sql import functions as F

    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    def typed(df):
        return df.select(
            "id",
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 300).cast("int")).alias("d"),
            (F.col("id") / 7).cast("decimal(10,2)").alias("price"),
            F.timestamp_seconds(F.col("id") * 60).alias("ts"),
        )

    t = str(tmp_path / "t")
    rows = typed(spark.range(0, 4000)).repartitionByRange(4, "id")
    txlog.commit(
        t,
        add=txlog.write_files(rows, t, stats_cols=["id"]),
        expected_version=0,
        metadata=(
            {"schema": "id BIGINT, v STRING, d DATE, price DECIMAL(10,2), "
                       "ts TIMESTAMP"}
            if declared
            else None
        ),
    )
    assert len(txlog.snapshot_files(t)) == 4
    src = typed(spark.range(5, 6)).withColumn("v", F.lit("merged"))
    steps = [
        lambda: txlog.read_version(spark, t).collect(),
        lambda: txlog.merge_into(spark, t, src, "id"),
        lambda: txlog.update_where(spark, t, "id = 6", {"v": "upper(v)"}),
        lambda: txlog.delete_where(spark, t, "id = 3000"),
        lambda: txlog.delete_where(spark, t, "id = 7", dv_fraction_threshold=0.5),
        lambda: txlog.delete_where(
            spark, t, "id IN (8, 9, 1500)", dv_fraction_threshold=0.5
        ),
        lambda: txlog.read_version(spark, t).collect(),
        lambda: txlog.table_changes(spark, t, 1, 1).collect(),
        lambda: txlog.optimize(spark, t),
    ]
    jobs = [count_jobs(step)[0] for step in steps]
    assert jobs == _SCHEMA_STEP_JOBS, jobs
    assert txlog._dv_map(txlog._resolve(t, 5).actions)  # the DV steps made DVs
    assert txlog.read_version(spark, t).count() == 3995

    def names_types(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    snapshot = names_types(txlog.read_version(spark, t).schema)
    assert [n for n, _ in snapshot] == ["id", "v", "d", "price", "ts"]
    feed = txlog.table_changes(spark, t, 0, 4).drop(
        "_change_type", "_commit_version", "_operation"
    )
    assert names_types(feed.schema) == snapshot
    stream = TxlogStreamDataSource({"path": t}).schema()
    if isinstance(stream, str):
        stream = spark.createDataFrame([], stream).schema
    assert names_types(stream) == snapshot


def test_pruned_empty_read_is_typed_like_a_scan(spark, tmp_path):
    """An undeclared table is typed from its footer as Spark's nullable
    copy, as every file scan is: a read whose predicate prunes every file
    has the schema of a full read, and the change feed and the stream
    source serve the same nullable column."""
    from change_data_capture_spark.sources.txlog_stream import (
        TxlogStreamDataSource,
    )

    t = str(tmp_path / "t")
    txlog.commit(
        t,
        add=txlog.write_files(spark.range(10), t, stats_cols=["id"]),
        expected_version=0,
    )
    full = txlog.read_version(spark, t).schema
    pruned = txlog.read_version(spark, t, predicate_range=("id", 100, 200))
    assert pruned.schema == full
    assert pruned.count() == 0
    assert full["id"].nullable
    assert txlog.table_changes(spark, t, 0, 0).schema["id"] == full["id"]
    assert TxlogStreamDataSource({"path": t}).schema()["id"] == full["id"]
