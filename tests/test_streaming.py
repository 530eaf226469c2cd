"""Structured Streaming pipeline tests: exactly-once ingest, incremental
SCD2 equivalence, streaming windows."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.oracle import compare


@pytest.mark.parametrize(
    "name",
    [
        "streaming_ingest_exactly_once",
        "streaming_scd2_incremental",
        "streaming_scd2_multibatch",
        "streaming_scd2_txlog",
        "streaming_stream_stream_join",
        "streaming_anomaly_zscore",
        "streaming_static_enrich",
        "streaming_session_windows",
        "streaming_tumbling_drain",
        "streaming_outer_join_unmatched",
        "streaming_update_mode_counts",
        "streaming_complete_mode_topk",
        "streaming_python_datasource_drain",
        "streaming_anomaly_zscore_ttl",
        "streaming_sink_orc_roundtrip",
        "streaming_txlog_source_feed",
        "streaming_txlog_skip_change_commits",
        "streaming_txlog_rate_limit",
        "streaming_txlog_rate_limit_bytes",
        "streaming_txlog_cdf_feed",
    ],
)
def test_streaming_oracle_parity(spark, sf_dir, name):
    compare(name, spark, sf_dir, entrymod.queries(), entrymod.oracle_sql())


def test_evict_expired_sweeps_idle_users():
    """The eager TTL sweep (watermark-driven cleanup): users whose last
    event trails the key-group's max observed event time by more than the
    TTL are dropped from carried state; users at or inside the horizon
    survive. This is what bounds state by the ACTIVE key set — without it
    a year-long stream accumulates every key ever seen."""
    from change_data_capture_spark.streaming.streaming_queries import (
        _evict_expired,
    )

    ttl = 1_000
    st = {
        1: (5, 10, 20, 8_000),   # idle for 2000 > ttl → evicted
        2: (5, 10, 20, 9_000),   # exactly at the horizon → kept
        3: (5, 10, 20, 10_000),  # current → kept
    }
    assert _evict_expired(st, 10_000, ttl) == {
        2: (5, 10, 20, 9_000),
        3: (5, 10, 20, 10_000),
    }
    assert _evict_expired(st, 10_000 + ttl + 1, ttl) == {}  # all idle


def test_zscore_ttl_resets_sessions_across_batches(spark, sf_dir):
    """The TTL gate under forced tiny Arrow chunks — the chunking stress
    the plain gate has, applied to the session-reset math (in-batch resets,
    cross-batch continuations, and lazy seed expiry all ride the same
    concat-and-sort path)."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        compare(
            "streaming_anomaly_zscore_ttl",
            spark,
            sf_dir,
            entrymod.queries(),
            entrymod.oracle_sql(),
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_zscore_ttl_four_batches_match_oracle(spark, sf_dir):
    """The TTL gate drained in four micro-batches equals the same oracle:
    the cross-batch TTL carry and the eager sweep stay covered over
    several batch boundaries, whatever the gate's default batch count."""
    from change_data_capture_spark.streaming.streaming_queries import (
        streaming_anomaly_zscore_ttl,
    )

    compare(
        "streaming_anomaly_zscore_ttl",
        spark,
        sf_dir,
        {
            "streaming_anomaly_zscore_ttl": lambda s, d: (
                streaming_anomaly_zscore_ttl(s, d, n_slices=4)
            )
        },
        entrymod.oracle_sql(),
    )


def test_zscore_state_survives_arrow_chunking(spark, sf_dir):
    """applyInPandasWithState delivers a key-group's micro-batch as MULTIPLE
    Arrow chunks once it exceeds arrow.maxRecordsPerBatch, in shuffle order —
    not time order. With the limit forced tiny (16 rows) every group-batch
    splits into many chunks; the stateful z-score must still equal the batch
    oracle, proving the concat-and-sort-once path orders events correctly
    (regression: per-chunk sorting silently mis-ordered state math once a
    group's batch crossed the 10k-row default)."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        compare(
            "streaming_anomaly_zscore",
            spark,
            sf_dir,
            entrymod.queries(),
            entrymod.oracle_sql(),
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_incremental_equals_batch(spark, sf_dir):
    """The incremental (multi-micro-batch) SCD2 state must equal the batch
    flagship query exactly — batching is an execution detail, not semantics."""
    q = entrymod.queries()
    batch = {tuple(r) for r in q["scd2_products"](spark, sf_dir).collect()}
    inc = {tuple(r) for r in q["streaming_scd2_incremental"](spark, sf_dir).collect()}
    assert batch == inc


def test_ingest_is_exactly_once_under_replay(spark, sf_dir):
    """Replayed (id,lsn) duplicates in the transport must land exactly once."""
    df = entrymod.queries()["streaming_ingest_exactly_once"](spark, sf_dir)
    dups = df.groupBy("id", "lsn").count().where("count > 1").count()
    assert dups == 0


def test_streaming_session_window_runs(spark, sf_dir):
    """Streaming session windows (F.session_window + watermark) execute and
    produce plausible sessions from a file-backed stream."""
    from change_data_capture_spark.sources.tables import load_table
    from change_data_capture_spark.streaming.pipeline import windowed_event_counts

    ws = tempfile.mkdtemp(prefix="cdc_sess_")
    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type", "value"
    )
    events.write.mode("overwrite").parquet(f"{ws}/events")

    stream = spark.readStream.schema(events.schema).parquet(f"{ws}/events")
    agg = windowed_event_counts(spark, stream, gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM sess_test")
    assert out.count() > 0
    # session invariant: no session shorter than a single event, all counts >= 1
    assert out.where(F.col("n_events") < 1).count() == 0


def test_outer_join_emits_unmatched_views(spark, sf_dir):
    """The left-outer gate must actually exercise NULL-side emission: at
    least one view with no purchase in its hour window lands with a NULL
    buy_id (state-expiry sweep), and no view is lost."""
    df = entrymod.queries()["streaming_outer_join_unmatched"](spark, sf_dir)
    out = df.persist()
    assert out.where(F.col("buy_id").isNull()).count() > 0
    # every distinct view id present in the source must appear in the output
    from change_data_capture_spark.sources.tables import load_table

    views = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"))
    )
    missing = views.join(out.select("view_id").distinct(), "view_id", "left_anti").count()
    assert missing == 0
    out.unpersist()


def test_streaming_incremental_dedup_equals_batch(spark, sf_dir):
    """The streaming signature-store drain must reproduce the batch
    incremental query's pair set BIT-FOR-BIT (same banding, same exact
    verify, same threshold) — the streaming execution changes only WHEN
    work happens, never the answer."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    batch = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    streamed = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["streaming_dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    assert streamed == batch
    assert batch, "fixture delta must produce near-dup pairs"


def test_midstream_compaction_is_transparent(spark, sf_dir):
    """Running compact_bucketed on the band store BETWEEN micro-batches
    must not change a single drained pair: the bin-pack preserves rows
    and the bucket layout, so batch 1 joins the compacted store exactly
    as it would the fragmented one."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    plain = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["streaming_dedup_minhash_incremental"](spark, sf_dir).collect()
    }
    compacted = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in q["streaming_dedup_compact_midstream"](spark, sf_dir).collect()
    }
    assert compacted == plain
    assert plain, "fixture delta must produce near-dup pairs"


def test_tws_port_matches_twin_or_is_blocked(spark, sf_dir):
    """The transformWithStateInPandas port shares _zscore_score_batch with
    the oracle-checked applyInPandasWithState twin, so whenever the TWS
    API can actually start (google.protobuf present) its drained rows
    must equal the twin's exactly. In this sandbox protobuf is absent —
    the port must fail LOUDLY with the documented reason, not skip
    silently or half-run."""
    from change_data_capture_spark.streaming.streaming_queries import (
        _protobuf_available,
        streaming_anomaly_zscore_tws,
    )

    if not _protobuf_available():
        with pytest.raises(RuntimeError, match="google.protobuf"):
            streaming_anomaly_zscore_tws(spark, sf_dir)
        return
    twin = {
        (r.event_id, round(r.zscore, 9))
        for r in entrymod.queries()["streaming_anomaly_zscore"](
            spark, sf_dir
        ).collect()
    }
    tws = {
        (r.event_id, round(r.zscore, 9))
        for r in streaming_anomaly_zscore_tws(spark, sf_dir).collect()
    }
    assert tws == twin
    assert twin, "fixture must flag at least one anomaly"


def test_csv_streaming_sink_roundtrips_with_explicit_schema(spark, sf_dir):
    """The CSV streaming sink runs the identical checkpointed pipeline as
    the ORC gate (Spark's FileStreamSink is format-agnostic), but text
    formats lose types — the read-back must pin the schema explicitly
    (FAILFAST, no inference) and still reproduce the event log
    row-for-row, quoting included."""
    from change_data_capture_spark.functions.envelope import decode_envelope
    from change_data_capture_spark.sources.cdc_generator import (
        product_change_events,
    )
    from change_data_capture_spark.sources.flat_files import read_csv
    from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

    ws = tempfile.mkdtemp(prefix="cdc_csvsink_")
    src, sink, ckpt = f"{ws}/log", f"{ws}/landed", f"{ws}/ckpt"
    product_change_events(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).json(src)
    cols = [
        "id", "op", "lsn", "ts_ms", "name",
        F.col("price").cast("double").alias("price"),
    ]
    decoded = decode_envelope(
        read_envelope_ndjson(spark, src, streaming=True)
    ).select(*cols)
    q = (
        decoded.writeStream.format("csv")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .option("header", "true")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = read_csv(
        spark, sink,
        "id BIGINT, op STRING, lsn BIGINT, ts_ms BIGINT, name STRING, "
        "price DOUBLE",
    )
    batch = decode_envelope(read_envelope_ndjson(spark, src)).select(*cols)
    # None-safe sort key: the generator emits NULL-lsn replay markers, and
    # at larger fixtures two rows can tie on every leading non-null field
    none_safe = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    want = sorted(map(tuple, batch.collect()), key=none_safe)
    got = sorted(map(tuple, landed.collect()), key=none_safe)
    assert got == want


def test_write_mtime_slices_one_pass_layout(
    spark, tmp_path, count_jobs, session_conf
):
    """r13 slice-writer invariants: one file per slice, strictly
    increasing mtimes (file order = micro-batch order), slice content
    exactly the rows whose slice id matches (NULL slice ids drop — the
    rows the old per-slice equality filters dropped), and a degenerate
    empty slice still lands as a typed empty file. Empty slices share
    ONE empty write: at most one job more than a dense run. A session
    ``maxRecordsPerFile`` cap splits no slice and drops no row."""
    import os

    from change_data_capture_spark.streaming.streaming_queries import (
        _write_mtime_slices,
    )

    df = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "d"), (None, "nullslice")],
        "k int, v string",
    )
    sl = str(tmp_path / "slices")
    dense, _ = count_jobs(
        lambda: _write_mtime_slices(df, F.col("k") % 2, 2, sl, str(tmp_path / "h")),
    )
    files = sorted(os.listdir(sl))
    assert files == ["slice_0.parquet", "slice_1.parquet"]
    m0 = os.path.getmtime(f"{sl}/slice_0.parquet")
    m1 = os.path.getmtime(f"{sl}/slice_1.parquet")
    assert m0 < m1
    s0 = {tuple(r) for r in spark.read.parquet(f"{sl}/slice_0.parquet").collect()}
    s1 = {tuple(r) for r in spark.read.parquet(f"{sl}/slice_1.parquet").collect()}
    assert s0 == {(0, "a"), (2, "c")}
    assert s1 == {(1, "b"), (3, "d")}  # NULL-slice row dropped, as before

    # empty slice: typed empty file, not a missing micro-batch
    sl2 = str(tmp_path / "slices2")
    _write_mtime_slices(
        df.where(F.col("k") == 0), F.col("k") % 2, 2, sl2, str(tmp_path / "h2")
    )
    empty = spark.read.parquet(f"{sl2}/slice_1.parquet")
    assert empty.count() == 0
    assert empty.schema == df.schema

    # three empty slices of four: one empty write, copied into each slot
    sl3 = str(tmp_path / "slices3")
    sparse, _ = count_jobs(
        lambda: _write_mtime_slices(
            df.where(F.col("k") == 0), F.col("k") % 4, 4, sl3, str(tmp_path / "h3")
        ),
    )
    assert sparse <= dense + 1, (sparse, dense)
    for i in (1, 2, 3):
        empty = spark.read.parquet(f"{sl3}/slice_{i}.parquet")
        assert empty.count() == 0 and empty.schema == df.schema

    # 50 rows per slice under a 10-record session cap: still one file
    # per slice, holding every row of it
    sl4 = str(tmp_path / "slices4")
    with session_conf({"spark.sql.files.maxRecordsPerFile": 10}):
        _write_mtime_slices(
            spark.range(100).selectExpr("id AS k"), F.col("k") % 2, 2, sl4,
            str(tmp_path / "h4"),
        )
    assert sorted(os.listdir(sl4)) == ["slice_0.parquet", "slice_1.parquet"]
    for i in (0, 1):
        got = [r["k"] for r in spark.read.parquet(f"{sl4}/slice_{i}.parquet").collect()]
        assert sorted(got) == list(range(i, 100, 2))


def test_staged_commit_slices_layout(
    spark, tmp_path, count_jobs, session_conf
):
    """r13 one-pass commit staging: every slice owns exactly
    per_slice_files files, the union of a slice's files is exactly its
    predicate's rows, and stats actions carry footer-exact
    size/stats/num_rows (the byte-admission fields). Empty slots share
    ONE empty write: at most one job more than a dense run. A session
    ``maxRecordsPerFile`` cap changes none of it."""
    import os

    from change_data_capture_spark.streaming.streaming_queries import (
        _staged_commit_slices,
    )

    df = spark.range(0, 3000).selectExpr("id AS k", "id * 2 AS v")
    tdir = str(tmp_path / "t")
    dense, per_slice = count_jobs(
        lambda: _staged_commit_slices(df, F.col("k") % 3, 3, tdir)
    )
    assert len(per_slice) == 3
    for i, paths in enumerate(per_slice):
        assert len(paths) == 2
        got = {
            r["k"] for r in spark.read.parquet(*paths).collect()
        }
        assert got == set(range(i, 3000, 3))

    stats_slices = _staged_commit_slices(
        df, F.col("k") % 3, 3, str(tmp_path / "t2"), stats_cols=["k"]
    )
    for i, acts in enumerate(stats_slices):
        assert len(acts) == 2
        total = 0
        for a in acts:
            assert a["size"] == os.path.getsize(a["path"])
            mn, mx = a["stats"]["k"]
            assert mn % 3 == i and mx % 3 == i
            total += a["num_rows"]
        assert total == 1000

    # SPARSE commit (r14, ADVICE item): a slice with no rows must land a
    # typed EMPTY file per half — same per-commit file count, zero rows —
    # not an opaque FileNotFoundError from the missing partition dir
    sparse_jobs, sparse = count_jobs(
        lambda: _staged_commit_slices(
            df.where("k < 2"), F.col("k") % 3, 3, str(tmp_path / "t3")
        ),
    )
    assert sparse_jobs <= dense + 1, (sparse_jobs, dense)
    assert [len(p) for p in sparse] == [2, 2, 2]
    # four empty slots, each its own file (each commit adds its own)
    assert len({p for paths in sparse for p in paths}) == 6
    assert spark.read.parquet(*sparse[2]).count() == 0
    assert spark.read.parquet(*sparse[2]).columns == ["k", "v"]

    # ~500 rows per file under a 10-record session cap: still
    # per_slice_files files per slice, every row landed
    with session_conf({"spark.sql.files.maxRecordsPerFile": 10}):
        capped = _staged_commit_slices(
            df, F.col("k") % 3, 3, str(tmp_path / "t4"), stats_cols=["k"]
        )
    for i, acts in enumerate(capped):
        assert len(acts) == 2
        got = [r["k"] for r in spark.read.parquet(*(a["path"] for a in acts)).collect()]
        assert sorted(got) == list(range(i, 3000, 3))
        assert sum(a["num_rows"] for a in acts) == 1000


def test_event_time_slices_one_file_per_slice(spark, tmp_path, session_conf):
    """The stateful gates' event-time staging lands one file per time
    slice, in ts order across slices, with every row — also under a
    session ``maxRecordsPerFile`` cap smaller than a slice."""
    import os

    from change_data_capture_spark.streaming.streaming_queries import (
        _stage_event_time_slices,
    )

    events = spark.range(100).selectExpr(
        "id AS event_id", "id % 7 AS user_id",
        "timestamp_seconds(1700000000 + id * 60) AS ts",
    )
    with session_conf({"spark.sql.files.maxRecordsPerFile": 10}):
        src = _stage_event_time_slices(spark, events, str(tmp_path), n=4)
    names = sorted(os.listdir(src))
    assert names == [f"slice_{i}.parquet" for i in range(4)]
    mtimes = [os.path.getmtime(f"{src}/{n}") for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    seen, last = [], None
    for n in names:
        part = spark.read.parquet(f"{src}/{n}")
        assert part.columns == events.columns
        rows = part.collect()
        ts = sorted(r["ts"] for r in rows)
        assert last is None or last < ts[0]  # slices are contiguous in ts
        last = ts[-1]
        seen += [r["event_id"] for r in rows]
    assert sorted(seen) == list(range(100))
