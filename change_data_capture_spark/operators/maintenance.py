"""Table-maintenance operators: bucketed-table writes, appends and
compaction, data profiling, and the routed write they share with the
streaming stagers.

Compaction and profiling are pipeline chores every 100 TB deployment runs
on a schedule: streaming sinks accumulate per-micro-batch files until scan
planning (file listing + footer reads) dominates query time; profiling
feeds data-quality gates and optimizer-statistics decisions.
Transaction-log tables compact and Z-order through
``sources.txlog.optimize``; this module keeps the catalog-bucketed layout,
whose shuffle-free joins need its own rewrite.

:func:`_routed_write` is the one write-and-claim step behind every
"one file per slot" layout: the bucketed append's bucket files here, and
the mtime-ordered micro-batch slices, per-commit data files and
event-time slices that ``streaming.streaming_queries`` stages. It routes
rows to N slots, writes them in one ``partitionBy`` job and returns each
slot's single file.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_spark.queries import query
from change_data_capture_spark.sources.tables import load_table


def _recover_interrupted_swap(path: str) -> None:
    """Crash-recovery preamble of :func:`compact_bucketed`: if a
    prior compaction died between its swap's two renames, the
    canonical directory is ABSENT and the only complete copies live at
    ``path__compacting`` (the finished rewrite — it is fully written before
    the swap starts) and ``path__old`` (the pre-compaction data). A retry
    must restore one of them BEFORE its leftover sweep, or the sweep
    deletes the sole recovery copy and the table is gone. Prefers the
    finished rewrite (the state a completed swap would have left), falls
    back to the old data, and raises when neither exists — never silently
    proceeds to a scan of a missing table."""
    import os

    if os.path.exists(path):
        return
    tmp, old = f"{path}__compacting", f"{path}__old"
    if os.path.exists(tmp):
        os.rename(tmp, path)
    elif os.path.exists(old):
        os.rename(old, path)
    else:
        raise RuntimeError(
            f"table directory {path!r} is missing and no recovery copy "
            f"exists at {tmp!r} or {old!r}"
        )


def _profile_col(df: DataFrame, col: str, numeric: bool) -> DataFrame:
    c = F.col(col)
    min_v: Column = F.min(c.cast("double")) if numeric else F.lit(None).cast("double")
    max_v: Column = F.max(c.cast("double")) if numeric else F.lit(None).cast("double")
    return df.agg(
        F.lit(col).alias("column"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.countDistinct(c).alias("n_distinct"),
        min_v.alias("min_value"),
        max_v.alias("max_value"),
        F.min(F.length(c.cast("string"))).alias("min_len"),
        F.max(F.length(c.cast("string"))).alias("max_len"),
    )


def profile(df: DataFrame, numeric_cols: list[str], other_cols: list[str]) -> DataFrame:
    """Per-column profile: null/distinct counts, numeric min/max, rendered
    lengths. One aggregation job per column (clarity over cleverness; a
    single-pass variant would pack all columns into one agg — do that when
    the table is scanned from cold storage and passes are the cost)."""
    parts = [_profile_col(df, c, True) for c in numeric_cols] + [
        _profile_col(df, c, False) for c in other_cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_PROFILE_ORACLE_TEMPLATE = """
SELECT '{col}' AS column,
       count(*) AS n_rows,
       CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       count(DISTINCT {col}) AS n_distinct,
       {min_expr} AS min_value,
       {max_expr} AS max_value,
       min(length(CAST({col} AS VARCHAR))) AS min_len,
       max(length(CAST({col} AS VARCHAR))) AS max_len
FROM orders
"""


def _profile_oracle(col: str, numeric: bool) -> str:
    return _PROFILE_ORACLE_TEMPLATE.format(
        col=col,
        min_expr=f"CAST(min(CAST({col} AS DOUBLE)) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)",
        max_expr=f"CAST(max(CAST({col} AS DOUBLE)) AS DOUBLE)" if numeric else "CAST(NULL AS DOUBLE)",
    )


_ORDERS_NUMERIC = ["o_orderkey", "o_custkey", "o_totalprice"]
_ORDERS_OTHER = ["o_orderstatus", "o_orderpriority"]

_PROFILE_ORACLE = " UNION ALL ".join(
    [_profile_oracle(c, True) for c in _ORDERS_NUMERIC]
    + [_profile_oracle(c, False) for c in _ORDERS_OTHER]
)


@query("profile_orders", oracle=_PROFILE_ORACLE)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table (numeric + categorical
    columns) — the bookkeeping scan that gates a pipeline run."""
    o = load_table(spark, sf_dir, "orders")
    return profile(o, _ORDERS_NUMERIC, _ORDERS_OTHER)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist a relation hash-bucketed (and sorted) on its join key.

    Bucketing is THE co-located-join lever at 100 TB: two tables bucketed
    the same way on the same key join with ZERO shuffle exchanges (pinned by
    test_bucketed_join_is_shuffle_free) — at 1000 executors that's the
    difference between an all-to-all of the fact table per join and a local
    merge per bucket. Spark's bucket layout is hash(key) % n per-file, read
    back through the session catalog.

    ``mode="append"`` adds files into the SAME bucket layout: each append
    lands one more file per non-empty bucket, and bucketed reads keep
    reporting the hash output partitioning — the incremental-store shape
    used by the streaming dedup gates (only per-file sort order is lost
    with multiple files per bucket, which hash joins never needed).
    Appends are DIRECT bucket-file writes (:func:`_append_bucketed_files`)
    — one routed write job (:func:`_routed_write`) plus driver renames
    that keep each staged file's codec suffix. The route rides a scratch
    column, so every data column (a ``_bucket`` one included) lands as
    written, and a session ``maxRecordsPerFile`` splits no bucket. No
    per-append ``saveAsTable`` catalog round-trip (Hive-compat insert command,
    commit-protocol temporary-dir dance, table-stats refresh — the
    per-tick constant every micro-batch paid pre-r14; guide §6
    small-files / §1.2). The caller's spec is validated against the
    CATALOG before any file lands (same fail-loud rule as
    :func:`compact_bucketed` — files hashed mod the wrong bucket count
    silently drop join matches), and so are the frame's column names and
    types: files of a drifted schema would land unreadable as the table."""
    if mode == "append":
        columns, spec, _ = _catalog_layout(df.sparkSession, table)
        if spec is None:
            raise ValueError(
                f"append target {table} has no bucket spec in the catalog"
            )
        if spec != (list(bucket_cols), num_buckets):
            raise ValueError(
                f"append spec {(list(bucket_cols), num_buckets)} != catalog "
                f"spec {spec} for {table}"
            )
        got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        if got != columns:
            raise ValueError(
                f"append schema {got} != catalog schema {columns} for {table}"
            )
        _append_bucketed_files(df, bucket_cols, num_buckets, path)
        return
    (
        df.write.mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def _routed_write(
    df: DataFrame,
    slot: Column,
    n_slots: int,
    out_dir: str,
    sort: list[str] | tuple[str, ...] = (),
) -> list[str | None]:
    """Write ``df`` to ``out_dir`` as at most ONE parquet file per slot in
    ONE write job, and return each slot's file (None for a slot no row
    routed to). ``slot`` is an integer column in ``[0, n_slots)``; rows
    whose slot is NULL or out of range land in no returned file.

    The slot rides under a scratch name not already in ``df.columns``
    (so no data column is overwritten or dropped); ``repartition`` on it
    puts every slot in exactly one task, ``sortWithinPartitions(slot,
    *sort)`` orders each file, and ``partitionBy`` splits the task's rows
    by slot. The writer's ``maxRecordsPerFile=0`` overrides any session
    cap that would split a slot over several files; a slot that still
    holds more than one file raises rather than being claimed short. The
    shared step of the mtime-slice, commit-slice and event-time-slice
    stagers (``streaming.streaming_queries``) and of the bucketed append
    (:func:`_append_bucketed_files`)."""
    import glob

    taken = {c.lower() for c in df.columns}
    name = "_slot"
    while name in taken:
        name = f"_{name}"
    (
        df.withColumn(name, slot)
        .repartition(n_slots, name)
        .sortWithinPartitions(name, *sort)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 0)
        .partitionBy(name)
        .parquet(out_dir)
    )
    files: list[str | None] = []
    for i in range(n_slots):
        parts = glob.glob(f"{glob.escape(out_dir)}/{name}={i}/*.parquet")
        if len(parts) > 1:
            raise RuntimeError(f"slot {i}: expected one file, got {parts}")
        files.append(parts[0] if parts else None)
    return files


def _append_bucketed_files(
    df: DataFrame, bucket_cols: list[str], num_buckets: int, path: str
) -> None:
    """Append ``df`` into a bucketed table's directory as DIRECT bucket
    files: route every row with Spark's own bucket-id expression —
    ``pmod(hash(cols), n)``, where ``hash`` IS ``Murmur3Hash`` seed 42,
    the exact function ``HashPartitioning.partitionIdExpression`` uses
    for bucket placement — through :func:`_routed_write` (one file per
    non-empty bucket in ONE job, rows sorted by the bucket cols within
    each file, like a ``saveAsTable`` append), then rename each file into
    the table directory under a ``part-..._0000N`` bucket-suffix name
    that keeps the staged file's own ``.c000.<codec>.parquet`` suffix
    (the bucketed reader's ``BucketingUtils.getBucketId`` parses the
    last ``_(\\d+)`` before the extension, whatever the codec).
    The renames are the PUBLISH, all or nothing: a failure mid-loop
    unlinks the files already renamed before it re-raises, so a retried
    append cannot land a bucket twice. Until then nothing under ``path``
    changes, so a reader whose file listing was snapshotted earlier
    (relation cache / an already-planned scan) can never observe a
    half-landed append — strictly stronger isolation than the
    saveAsTable append, whose commit also invalidated the catalog
    relation cache mid-stream. Placement correctness is pinned by
    ``tests/test_plans.py`` (appended rows join bucket-locally with zero
    store-side Exchange) and ``test_maintenance.py`` (per-file recomputed
    bucket ids match the filename suffix)."""
    import os
    import shutil
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:12]
    staging = f"{path}__append_{tag}"
    bucket_id = F.pmod(
        F.hash(*[F.col(c) for c in bucket_cols]), F.lit(num_buckets)
    )
    published: list[str] = []
    try:
        files = _routed_write(df, bucket_id, num_buckets, staging, bucket_cols)
        for i, src in enumerate(files):
            if src is None:
                continue  # empty bucket in this batch
            suffix = os.path.basename(src).partition(".")[2]
            dst = os.path.join(path, f"part-00000-{tag}_{i:05d}.{suffix}")
            os.rename(src, dst)
            published.append(dst)
    except BaseException:
        # all or nothing: a failed publish takes back the buckets it landed
        for dst in published:
            os.unlink(dst)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _catalog_layout(
    spark: SparkSession, table: str
) -> tuple[dict[str, str], tuple[list[str], int] | None, str | None]:
    """The table's columns ({name: type string}), (bucket_cols,
    num_buckets) and data location as the CATALOG declares them, from one
    ``DESCRIBE FORMATTED`` (column rows up to the first blank or ``#``
    row, then ``Bucket Columns`` / ``Num Buckets`` / ``Location``, with a
    ``file:`` scheme stripped); the spec is None for an unbucketed table,
    the location None when the catalog lists none. The catalog is the
    single source of truth for the layout — rewrites must derive the spec from it, never trust a
    caller's copy (a mismatched rewrite lands files hashed mod the WRONG
    bucket count under a catalog entry that still declares the old spec,
    and later same-spec joins skip the shuffle on a false premise,
    silently dropping matches)."""
    columns: dict[str, str] = {}
    in_columns = True
    cols: list[str] | None = None
    n: int | None = None
    location: str | None = None
    for row in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        name = (row["col_name"] or "").strip()
        if not name or name.startswith("#"):
            in_columns = False
        elif in_columns:
            columns[name] = row["data_type"].strip()
        elif name == "Num Buckets":
            n = int(row["data_type"].strip())
        elif name == "Bucket Columns":
            cols = [
                c.strip(" `")
                for c in row["data_type"].strip("[]").split(",")
                if c.strip(" `")
            ]
        elif name == "Location":
            location = row["data_type"].strip().removeprefix("file:")
    spec = None if cols is None or n is None else (cols, n)
    return columns, spec, location


def compact_bucketed(
    spark: SparkSession,
    table: str,
    bucket_cols: list[str] | None = None,
    num_buckets: int | None = None,
    path: str | None = None,
) -> int:
    """OPTIMIZE-style bin-pack of a bucketed table written/appended by
    :func:`write_bucketed`: merge each bucket's accumulated per-append
    files into ONE file per non-empty bucket, preserving the bucket
    layout — after compaction the table still joins with zero
    store-side Exchange (plan-pinned in ``tests/test_plans.py``).
    Returns the compacted file count. The bucket spec (and the data
    ``path``) are DERIVED from the catalog; passing them is optional
    and validated — a mismatch raises instead of corrupting the layout
    (see :func:`_catalog_layout`).

    Shape: the catalog scan of a bucketed table yields exactly ONE
    partition per bucket (all of a bucket's files coalesced), and its
    hash output partitioning already satisfies a same-spec bucketed
    write's required distribution — so the rewrite is scan → in-
    partition Sort (restoring the per-file ``sortBy`` order that
    multi-file appends lose) → write, with NO Exchange anywhere: each
    task rewrites its own bucket locally. At 1000 executors that is an
    embarrassingly parallel per-bucket rewrite with zero network, the
    same property Delta's OPTIMIZE has on a clustered table.

    Safety: a two-rename swap — the compacted files are written under a
    throwaway table name to a sibling directory, the catalog entry of
    the REAL table is never dropped, the old directory is renamed aside
    and the new one into place, and a crash leaves a complete copy at
    ``path``, ``path__old``, or ``path__compacting`` (on object stores
    rename is a copy; a lakehouse table format makes this a metadata
    swap instead). A retry after a crash
    restores the canonical directory from the recovery copy FIRST
    (:func:`_recover_interrupted_swap`) — the leftover sweep never runs
    while ``path`` is absent."""
    import os
    import shutil
    import uuid as _uuid

    # the CATALOG owns the layout: derive the spec from it, and treat a
    # caller-supplied spec as an assertion to validate, never as truth —
    # rewriting with the wrong bucket count silently corrupts every
    # later shuffle-free join against this table
    _, spec, location = _catalog_layout(spark, table)
    if spec is None:
        raise ValueError(f"table {table} has no bucket spec in the catalog")
    cat_cols, cat_n = spec
    if bucket_cols is not None and list(bucket_cols) != cat_cols:
        raise ValueError(
            f"bucket_cols {bucket_cols} != catalog spec {cat_cols} for {table}"
        )
    if num_buckets is not None and num_buckets != cat_n:
        raise ValueError(
            f"num_buckets {num_buckets} != catalog spec {cat_n} for {table}"
        )
    bucket_cols, num_buckets = cat_cols, cat_n
    path = location if path is None else path
    if path is None:
        raise ValueError(f"table {table} has no Location in the catalog")

    tmp_tbl = f"{table}__compacting_{_uuid.uuid4().hex[:8]}"
    tmp, old = f"{path}__compacting", f"{path}__old"
    # recover BEFORE sweeping: after a crash between the swap's two
    # renames the canonical dir is absent and tmp/old hold the only copies
    _recover_interrupted_swap(path)
    for d in (tmp, old):
        if os.path.exists(d):
            shutil.rmtree(d)
    spark.catalog.refreshTable(table)
    # a plain scan→write has no join/agg to justify the bucket layout, so
    # autoBucketedScan silently falls back to file-split reads — many
    # tasks per bucket, each writing its own per-bucket file, i.e. the
    # opposite of a bin-pack. Pin the bucketed scan ON for the rewrite so
    # the plan is one-partition-per-bucket → local Sort → one file per
    # bucket, zero Exchange.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(auto_key, "true")
    try:
        spark.conf.set(auto_key, "false")
        write_bucketed(
            spark.table(table), tmp_tbl, bucket_cols, num_buckets, tmp
        )
    finally:
        spark.conf.set(auto_key, prev)
        # the throwaway name is EXTERNAL (explicit path): dropping it
        # unregisters the catalog entry, the files stay for the swap
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    spark.catalog.refreshTable(table)
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
