"""Compaction, profiling, and envelope schema-evolution tolerance."""

from __future__ import annotations

import glob
import tempfile

import pytest

import __spark_entry__ as entrymod
from tests.oracle import compare


def test_profile_orders_parity(spark, sf_dir):
    compare("profile_orders", spark, sf_dir, entrymod.queries(), entrymod.oracle_sql())


def test_dq_audit_parity(spark, sf_dir):
    compare("dq_audit", spark, sf_dir, entrymod.queries(), entrymod.oracle_sql())


def test_dq_audit_catches_injected_violations(spark, sf_dir):
    """The audit must report non-zero for the fixture's genuine duplicate
    (l_orderkey, l_linenumber) pairs and zero for the clean checks."""
    rows = {
        r["check_name"]: r["n_bad"]
        for r in entrymod.queries()["dq_audit"](spark, sf_dir).collect()
    }
    assert len(rows) == 14
    assert rows["lineitem_dup_pk"] > 0
    assert rows["lineitem_orphan_order"] == 0
    assert rows["orders_orphan_customer"] == 0
    assert rows["documents_chars_mismatch"] == 0


def test_compaction_preserves_rows_and_reduces_files(spark, sf_dir):
    from change_data_capture_spark.sources import txlog
    from change_data_capture_spark.sources.tables import load_table

    t = tempfile.mkdtemp(prefix="cdc_compact_")
    li = load_table(spark, sf_dir, "lineitem")
    # simulate a streaming sink's debris: many tiny files
    txlog.commit(t, add=txlog.write_files(li.repartition(40), t), expected_version=0)
    before_files = len(txlog.snapshot_files(t))
    before = li.count()

    txlog.optimize(spark, t, zorder_by=["l_orderkey"],
                   target_file_bytes=64 * 1024 * 1024)

    after_files = txlog.snapshot_files(t)
    after = txlog.read_version(spark, t).count()
    assert after == before
    assert len(after_files) < before_files
    # clustering: rows within each file are sorted by the cluster key
    import pyarrow.parquet as pq

    for f in after_files:
        keys = pq.read_table(f, columns=["l_orderkey"])["l_orderkey"].to_pylist()
        assert keys == sorted(keys)


def test_compaction_retry_recovers_interrupted_swap(spark, tmp_path):
    """A retry after a crash BETWEEN the swap's two renames (canonical dir
    absent; complete copies at __old and __compacting) must restore the
    table before its leftover sweep — r9's entry sweep deleted the sole
    recovery copy and then failed the scan. Also: a truly-lost table
    (no recovery copy either) raises instead of proceeding."""
    import os
    import shutil
    import uuid

    from change_data_capture_spark.operators.maintenance import (
        _recover_interrupted_swap,
        compact_bucketed,
        write_bucketed,
    )

    tbl = f"swap_retry_{uuid.uuid4().hex[:8]}"
    p = str(tmp_path / "t")
    write_bucketed(spark.range(100).selectExpr("id AS k"), tbl, ["k"], 4, p)
    try:
        # simulate the crash point: rewrite finished at __compacting, old
        # data renamed aside, canonical path absent
        shutil.copytree(p, p + "__compacting")
        os.rename(p, p + "__old")
        compact_bucketed(spark, tbl)
        assert spark.table(tbl).count() == 100
        assert not os.path.exists(p + "__old")
        assert not os.path.exists(p + "__compacting")

        # crash BEFORE the rewrite landed: only __old holds data → recover it
        os.rename(p, p + "__old")
        _recover_interrupted_swap(p)
        spark.catalog.refreshTable(tbl)
        assert spark.table(tbl).count() == 100

        # no canonical dir and no recovery copy: raise, never sweep-and-scan
        shutil.rmtree(p)
        with pytest.raises(RuntimeError, match="no recovery copy"):
            compact_bucketed(spark, tbl)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_base64_decimal_wart_yields_null_price(spark):
    """The reference's sample event carries price as a base64 Debezium
    'precise decimal' ("DOQ=", reference README.md:214) even though the
    column is REAL — its own SCD2 query's CAST yields NULL for such events
    (SURVEY.md §1.2). Our pinned DECIMAL(10,2) schema reproduces exactly
    that: price decodes to NULL, every other field survives."""
    import json
    import tempfile as tf

    from change_data_capture_spark.functions.envelope import decode_envelope
    from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

    ws = tf.mkdtemp(prefix="cdc_wart_")
    ev = {
        "value": {
            "before": None,
            "after": {"id": 2, "name": "w", "description": "d", "price": "DOQ="},
            "source": {"version": "2.2.0.Alpha2", "connector": "postgresql",
                       "name": "x", "ts_ms": 1704067200000, "snapshot": "false",
                       "db": "postgres", "sequence": None, "schema": "commerce",
                       "table": "products", "txId": 9, "lsn": 21, "xmin": None},
            "op": "c", "ts_ms": 1704067200005, "transaction": None,
        }
    }
    with open(f"{ws}/a.json", "w") as fh:
        fh.write(json.dumps(ev) + "\n")
    rows = decode_envelope(read_envelope_ndjson(spark, ws)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.price is None
    assert (r.id, r.lsn, r.name, r.op_label) == (2, 21, "w", "CREATE")


def test_envelope_tolerates_schema_evolution(spark, sf_dir):
    """Debezium envelopes gain fields across versions; the pinned-schema
    reader must ignore unknown fields and keep decoding the known paths."""
    import json
    import tempfile as tf

    from change_data_capture_spark.functions.envelope import decode_envelope
    from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

    ws = tf.mkdtemp(prefix="cdc_evo_")
    evolved = {
        "value": {
            "before": None,
            "after": {"id": 1, "name": "n", "description": "d", "price": 9.5,
                      "brand_new_column": "ignored"},
            "source": {"version": "99.0", "connector": "postgresql", "name": "x",
                       "ts_ms": 1704067200000, "snapshot": "false", "db": "postgres",
                       "sequence": None, "schema": "commerce", "table": "products",
                       "txId": 10, "lsn": 11, "xmin": None,
                       "new_provenance_field": 42},
            "op": "c", "ts_ms": 1704067200005, "transaction": None,
            "envelope_v3_extra": {"nested": True},
        }
    }
    with open(f"{ws}/log.json", "w") as fh:
        fh.write(json.dumps(evolved) + "\n")

    decoded = decode_envelope(read_envelope_ndjson(spark, ws)).collect()
    assert len(decoded) == 1
    r = decoded[0]
    assert (r.id, r.lsn, r.name, float(r.price)) == (1, 11, "n", 9.5)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Fact-fact join on the bucket key must need ZERO shuffle exchanges
    when both sides are bucketed identically — the co-located join layout
    a 100 TB deployment relies on."""
    from pyspark.sql import functions as F

    from change_data_capture_spark.operators.maintenance import write_bucketed
    from change_data_capture_spark.plans import plan_stats
    from change_data_capture_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, str(tmp_path / "li"))
    write_bucketed(od, "b_orders", ["o_orderkey"], 8, str(tmp_path / "od"))
    # at fixture scale Spark would broadcast orders (also shuffle-free, but
    # not the layout under test); disable it to exercise the big-big path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        s = plan_stats(joined)
        # join needs no exchange; only the final aggregate may shuffle
        assert s.shuffle_exchanges <= 1, s.text
        assert "SortMergeJoin" in s.text
        # and the answer matches the unbucketed plan
        want = {
            (r.o_orderpriority, r.n)
            for r in li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {(r.o_orderpriority, r.n) for r in joined.collect()}
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_zorder_clusters_file_ranges(spark, sf_dir, tmp_path):
    """Z-order clustering must shrink every file's min/max envelope on BOTH
    cluster columns — the parquet-stats skipping that makes multi-dim
    selective scans cheap. Measured as the mean normalized (range_x ×
    range_y) area per file: random layout ≈ 1.0; clustered must be ≪."""
    import glob

    from pyspark.sql import functions as F

    import os

    from change_data_capture_spark.sources import txlog
    from change_data_capture_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    out = str(tmp_path / "zordered")
    txlog.commit(out, add=txlog.write_files(li, out), expected_version=0)
    live = sum(os.path.getsize(p) for p in txlog.snapshot_files(out))
    # a target of an eighth of the table: 8 clustered files
    txlog.optimize(spark, out, zorder_by=["l_partkey", "l_suppkey"],
                   target_file_bytes=-(-live // 8))

    # full-table extents
    row = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    pk_range = row[1] - row[0] or 1
    sk_range = row[3] - row[2] or 1

    def mean_area(files):
        areas = []
        for f in files:
            r = (
                spark.read.parquet(f)
                .agg(
                    F.min("l_partkey"), F.max("l_partkey"),
                    F.min("l_suppkey"), F.max("l_suppkey"),
                )
                .collect()[0]
            )
            areas.append(((r[1] - r[0]) / pk_range) * ((r[3] - r[2]) / sk_range))
        return sum(areas) / len(areas)

    clustered = mean_area(txlog.snapshot_files(out))
    # unclustered control: hash-partitioned write of the same relation
    ctrl = str(tmp_path / "control")
    li.repartition(8).write.mode("overwrite").parquet(ctrl)
    control = mean_area(glob.glob(f"{ctrl}/part-*.parquet"))

    assert clustered < control * 0.5, (clustered, control)
    # row fidelity: clustering is a rewrite, not a transform
    assert txlog.read_version(spark, out).count() == li.count()


def test_zorder_bits_clamped_to_long_range(spark):
    """4 cluster columns at default bits=16 would interleave into bit 63+
    (sign bit / mod-64 wraparound); the clamp keeps every key positive and
    strictly monotone in each column at the clamped resolution."""
    from pyspark.sql import functions as F

    from change_data_capture_spark.sources.txlog import zorder_value

    df = spark.range(1).select(
        *[F.lit(float(v)).alias(c) for c, v in
          [("a", 100.0), ("b", 100.0), ("c", 100.0), ("d", 100.0)]]
    )
    cols = [F.col(c) for c in "abcd"]
    mins = [F.lit(0.0)] * 4
    maxs = [F.lit(100.0)] * 4
    z_max = df.select(zorder_value(cols, mins, maxs).alias("z")).collect()[0].z
    # all four coords at grid max → all interleaved bits set; must stay
    # inside a signed long and below 2^60 (15 bits × 4 cols)
    assert 0 < z_max < (1 << 60)


def test_provenance_metadata_parity(spark, sf_dir):
    compare(
        "provenance_file_metadata", spark, sf_dir,
        entrymod.queries(), entrymod.oracle_sql(),
    )


def test_compact_bucketed_spec_comes_from_the_catalog(
    spark, tmp_path, monkeypatch
):
    """The catalog owns the bucket layout: compact_bucketed derives
    (bucket_cols, num_buckets, path) from ONE DESCRIBE FORMATTED when not
    given, and REJECTS a caller-supplied spec that contradicts the
    catalog — rewriting with the wrong bucket count would silently
    corrupt every later shuffle-free join against the table."""
    import uuid

    from change_data_capture_spark.operators.maintenance import (
        compact_bucketed,
        write_bucketed,
    )

    tbl = f"spec_guard_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id AS k", "id AS v")
    write_bucketed(df, tbl, ["k"], 4, path)
    write_bucketed(
        spark.range(100, 200).selectExpr("id AS k", "id AS v"),
        tbl, ["k"], 4, path, mode="append",
    )
    try:
        import pytest

        with pytest.raises(ValueError, match="catalog spec"):
            compact_bucketed(spark, tbl, ["k"], 8, path)
        with pytest.raises(ValueError, match="catalog spec"):
            compact_bucketed(spark, tbl, ["v"], 4, path)
        # fully derived call: no spec, no path — the catalog knows both
        real_sql, described = spark.sql, []

        def sql(text, *args, **kwargs):
            described.append(text.startswith("DESCRIBE"))
            return real_sql(text, *args, **kwargs)

        monkeypatch.setattr(spark, "sql", sql)
        n = compact_bucketed(spark, tbl)
        monkeypatch.undo()
        assert sum(described) == 1
        assert n == 4  # one file per non-empty bucket
        assert spark.table(tbl).count() == 200
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_direct_bucketed_append_places_rows_by_spark_bucket_id(
    spark, tmp_path, session_conf
):
    """r14: bucketed APPENDS are direct bucket-file writes (no per-append
    saveAsTable catalog round-trip). The non-negotiable invariant is
    PLACEMENT: every appended file's rows must hash (Spark murmur3, pmod
    num_buckets) to exactly the bucket id its filename declares — a
    misplaced row silently vanishes from every later shuffle-free
    bucketed join. Also pins: full row set preserved (a ``_bucket`` data
    column included, and under a session ``maxRecordsPerFile`` cap),
    every file named for the codec it is written with (an append under
    zstd lands ``.zstd.`` files), catalog layout intact, spec-mismatch
    appends fail loud before any file lands."""
    import os
    import re
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from change_data_capture_spark.operators.maintenance import (
        write_bucketed,
    )

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id AS k", "CAST(id % 11 AS INT) AS b", "id AS v", "id % 3 AS _bucket"
        )

    tbl = f"direct_append_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "ba")
    base, delta = rows(0, 500), rows(500, 700)
    try:
        write_bucketed(base, tbl, ["k", "b"], 8, path)
        with session_conf({"spark.sql.files.maxRecordsPerFile": 10}):
            write_bucketed(delta, tbl, ["k", "b"], 8, path, mode="append")
        with session_conf({"spark.sql.parquet.compression.codec": "zstd"}):
            write_bucketed(rows(700, 800), tbl, ["k", "b"], 8, path, mode="append")
        spark.catalog.refreshTable(tbl)
        got = {
            (r["k"], r["_bucket"])
            for r in spark.table(tbl).select("k", "_bucket").collect()
        }
        assert got == {(k, k % 3) for k in range(800)}
        # Spark's own bucket-id parse: last _<digits> before the extension
        pat = re.compile(r".*_(\d+)(?:\..*)?$")
        n_files = n_zstd = 0
        for root, _dirs, fs in os.walk(path):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                n_files += 1
                bid = int(pat.match(f).group(1))
                misplaced = (
                    spark.read.parquet(os.path.join(root, f))
                    .where(F.pmod(F.hash("k", "b"), F.lit(8)) != bid)
                    .count()
                )
                assert misplaced == 0, f
                codec = (
                    pq.ParquetFile(os.path.join(root, f))
                    .metadata.row_group(0).column(0).compression.lower()
                )
                assert f".{codec}." in f, (f, codec)
                n_zstd += codec == "zstd"
        assert n_zstd > 0  # the zstd append landed, named for its codec
        assert n_files > 8  # append really added per-bucket files
        import pytest

        with pytest.raises(ValueError, match="catalog spec|append spec"):
            write_bucketed(delta, tbl, ["k"], 8, path, mode="append")
        with pytest.raises(ValueError, match="catalog spec|append spec"):
            write_bucketed(delta, tbl, ["k", "b"], 16, path, mode="append")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _bucketed_table(spark, tmp_path, prefix):
    import uuid

    from change_data_capture_spark.operators.maintenance import write_bucketed

    tbl = f"{prefix}_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / "t")
    write_bucketed(
        spark.range(100).selectExpr("id AS k", "id AS v"), tbl, ["k"], 4, path
    )
    return tbl, path


def _file_set(path):
    import os

    return {os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs}


def test_failed_bucket_publish_rolls_back(spark, tmp_path, monkeypatch):
    """The per-bucket renames publish all or nothing: a rename failing on
    the second bucket unlinks the first one it landed, so the table's file
    set is unchanged and a retried append cannot land a bucket twice."""
    import os

    from change_data_capture_spark.operators.maintenance import write_bucketed

    tbl, path = _bucketed_table(spark, tmp_path, "publish_rollback")
    before = _file_set(path)
    real_rename = os.rename
    calls = []

    def rename(src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise OSError("injected publish failure")
        real_rename(src, dst)

    delta = spark.range(100, 200).selectExpr("id AS k", "id AS v")
    try:
        monkeypatch.setattr(os, "rename", rename)
        with pytest.raises(OSError, match="injected"):
            write_bucketed(delta, tbl, ["k"], 4, path, mode="append")
        monkeypatch.undo()
        assert len(calls) == 2
        assert _file_set(path) == before
        spark.catalog.refreshTable(tbl)
        assert spark.table(tbl).count() == 100
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_direct_append_rejects_schema_drift(spark, tmp_path):
    """The direct append checks the frame's column names and types against
    the catalog before any file lands, as a saveAsTable append would."""
    from change_data_capture_spark.operators.maintenance import write_bucketed

    tbl, path = _bucketed_table(spark, tmp_path, "schema_drift")
    before = _file_set(path)
    try:
        renamed = spark.range(100, 200).selectExpr("id AS k", "id AS w")
        with pytest.raises(ValueError, match="catalog schema"):
            write_bucketed(renamed, tbl, ["k"], 4, path, mode="append")
        retyped = spark.range(100, 200).selectExpr("id AS k", "CAST(id AS INT) AS v")
        with pytest.raises(ValueError, match="catalog schema"):
            write_bucketed(retyped, tbl, ["k"], 4, path, mode="append")
        assert _file_set(path) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
