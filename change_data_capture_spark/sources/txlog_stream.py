"""Streaming SOURCE over a transaction-log table — Delta's streaming
source semantics (public behavior: a Delta table used as
``readStream.format("delta")``) rebuilt over :mod:`sources.txlog` as a
Spark 4 Python streaming DataSource.

The design point that makes this different from the file-listing source
(``python_datasource.CdcNdjsonStreamReader``): the LOG provides a total
order, so the stream offset is just the highest consumed log version —
one integer, O(1), instead of a content-addressed file list that grows
with segment count. Everything exactly-once falls out of log
immutability:

- A micro-batch is commits ``(start.version .. end.version]``, planned
  from log metadata alone by the ONE planner every ``cdc_txlog`` read
  shares (:func:`_cdf_partitions`): an append plans one
  ``InputPartition`` per added file, and each stance is a policy over
  the range's change commits. Every partition reads its files through
  the one arrow file read (:func:`_read_data_file` + :func:`_apply_dv`),
  so pre-evolution files null-fill the declared schema's newer columns
  in every stance.
- Replanning a committed range is bit-identical — commits and data
  files are both immutable once published, so checkpoint recovery
  re-reads exactly the same rows (pinned in ``tests/test_txlog.py``).
- The source is APPEND-ONLY by default, like Delta's streaming source:
  a commit carrying ``remove`` actions (or an add re-referencing a file
  under a deletion vector) in the consumed range raises instead of
  silently emitting rewritten rows twice or dropping retractions the
  sink never sees. OPTIMIZE commits are passed over: they move rows and
  change none (Delta marks them ``dataChange=false``).
  ``.option("skipChangeCommits", "true")`` opts into Delta's documented
  escape hatch — data-changing commits are skipped WHOLE (their adds
  carry re-images of already-emitted rows) and the stream continues
  over later appends. The append-only stances stream the data columns
  only, so a data column named like a CDF meta column still streams.
- ``.option("readChangeFeed", "true")`` is the third stance (Delta's
  streaming CDF): data-changing commits are FORWARDED as change rows —
  ``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``
  rows with ``_commit_version`` / ``_operation`` meta columns, appends
  included (pure inserts), OPTIMIZE commits skipped (they change no
  row). ``.option("startingVersion", N)`` starts a FRESH checkpoint at
  commit ``N`` (both modes); ``.option("startingTimestamp", ts)`` is its
  timestamp twin — the first version committed at or after ``ts``
  (:func:`txlog.version_at_timestamp`; a ``ts`` past the tip starts
  AFTER it, waiting for future commits — Delta's streaming behavior),
  mutually exclusive with ``startingVersion``. ``.option("cdfKey",
  col)`` names the diff key (default ``id``), with a fail-loud
  duplicate-key guard; a key that is not a data column is refused when
  the reader is built. Deletion-vector commits feed exactly their
  newly-deleted rows — each side of the per-commit diff applies ITS
  version's DV state. The planner (:func:`_cdf_partitions`), the
  per-part read (:func:`_read_part`) and the arrow diff
  (:func:`_diff_commit`) are the ONE change-feed implementation: the
  batch :func:`txlog.table_changes` plans its range with the same
  planner and reads the parts with the same read through
  ``mapInArrow`` — a batch range has no offsets, so it needs no source.
- ``.option("maxFilesPerTrigger", N)`` is admission control (Delta's
  backpressure knob of the same name): ``latestOffset`` stops
  advancing at the version boundary where the cumulative added-file
  count of the pending commits reaches ``N``, so a stream that falls
  behind catches up in bounded micro-batches instead of one huge one.
  ``.option("maxBytesPerTrigger", B)`` is its byte-budget twin (Delta
  pairs the two; ``B`` is an integer or a ``k``/``m``/``g``-suffixed
  string) — the right knob when file SIZES vary: a count cap admits 10
  small files or 10 huge ones alike, a byte cap holds the micro-batch's
  input volume (and so executor memory) steady. Sizes come from each
  add action's own ``size`` field (the log is the source of truth —
  pure KB-JSON walk) with a driver-side ``stat`` fallback for
  size-less legacy actions. Both set = both apply, whichever binds
  first. Offsets stay VERSION-aligned (a single commit larger than a
  cap still feeds whole — the at-least-one-unit progress guarantee).
  BEST-EFFORT like Delta's own knob: the Python DataSource API passes
  no start offset to ``latestOffset``, so the cap engages once the run
  has planned its first micro-batch — the first trigger of a fresh run
  or clean restart is uncapped (a restart that replays an uncommitted
  batch re-binds immediately; Delta likewise ignores the cap under
  Trigger.Once/AvailableNow, where the engine captures the end offset
  before the source sees a batch).

Scale: the reader is the PARTITION-BASED ``DataSourceStreamReader`` —
``partitions(start, end)`` plans the consumed commit range driver-side
from log metadata, and ``read`` executes on EXECUTORS, one pyarrow read
per partition, so rows never flow through the driver and a micro-batch
scales like any distributed parquet scan while the offset stays one
integer. An append version plans one partition per added file; in CDF
mode a data-changing version plans ONE partition carrying its
remove/add sides — the diff needs that commit's churn co-located, and
a copy-on-write/DV commit's churn is delta-sized by construction
(O(churned files) per version, batch or streaming). The batch feed
reads the same planned parts, sliced by Spark into at most
``defaultParallelism`` tasks instead of one task per part. Planning
opens only the range's commit files unless a CDF diff needs the
deletion-vector state below its commit, which is resolved once, at the
first such commit — so per-batch planning of an append stream does not
grow with the log's age.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from change_data_capture_spark.sources import txlog


class _CdfInsert(InputPartition):
    """One file added by an append commit — the stream's unit of
    executor parallelism for appends in every stance (the batch feed
    slices its parts into at most ``defaultParallelism`` tasks): pure
    ``insert`` rows in CDF mode, plain data rows otherwise (``dv_dir``
    set when the action carries a deletion vector, e.g. a restored DV
    action re-entering as an add; only the CDF stance plans such a
    file)."""

    def __init__(self, path: str, version: int, op: str | None, dv_dir: str | None):
        self.path = path
        self.version = version
        self.op = op
        self.dv_dir = dv_dir


class _CdfDiff(InputPartition):
    """CDF mode: one data-changing commit — ``pre``/``post`` are
    ``(path, dv_dir | None)`` pairs (the remove side under the PREVIOUS
    version's DV state, the add side under this version's), diffed on
    ``key`` executor-side."""

    def __init__(
        self,
        version: int,
        op: str | None,
        key: str,
        pre: list[tuple[str, str | None]],
        post: list[tuple[str, str | None]],
    ):
        self.version = version
        self.op = op
        self.key = key
        self.pre = pre
        self.post = post


def _check_not_vacuumed(paths, start_v: int, end_v: int) -> None:
    """Pinned boundary contract: a micro-batch whose commits reference
    data files (or DV sidecars) that :func:`txlog.vacuum` has already
    reclaimed fails AT PLANNING with a guided error, not as an executor
    FileNotFound stack trace — the stream's start (or its lag) is behind
    the table's retention horizon, and the fix is a retained start or a
    longer retention, which the message says. Driver-side, one ``stat``
    per planned file — bounded by the batch's churn, metadata-scale at
    any table size."""
    missing = sorted({p for p in paths if not os.path.exists(p)})
    if missing:
        raise ValueError(
            f"cdc_txlog source: {len(missing)} file(s) referenced by "
            f"commits ({start_v}, {end_v}] no longer exist (vacuumed "
            f"past this read's position), e.g. {missing[0]} — restart "
            "from a retained version (startingVersion) or raise vacuum "
            "retention_versions"
        )


def _parse_bytes(v) -> int:
    """A byte budget the way Delta spells it: a plain integer, or a
    ``k``/``m``/``g`` suffixed string (``"10g"``). Garbage raises — a
    typo'd cap must never silently become an uncapped stream."""
    s = str(v).strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(s[-1:], 1)
    digits = s[:-1] if mult != 1 else s
    try:
        return int(digits) * mult
    except ValueError:
        raise ValueError(
            f"cdc_txlog source: maxBytesPerTrigger must be an integer "
            f"byte count or a k/m/g-suffixed string, got {v!r}"
        ) from None


def _add_size(action) -> int:
    """Byte size of one add action's data file, for byte-budget
    admission: the action's own ``size`` field when the writer recorded
    it (:func:`txlog.write_files` with stats — Delta's required
    ``add.size``, making the admission walk pure KB-JSON), else one
    driver-side ``stat`` (a ``{"path"}``-only action from a stats-less
    writer; same metadata cost class as the vacuumed-horizon check). A
    vacuumed file reads as 0 — admission must keep advancing so planning
    can raise its guided error rather than the walk dying on a stat."""
    if action.get("size") is not None:
        return int(action["size"])
    try:
        return os.path.getsize(action["path"])
    except OSError:
        return 0


def _opt(options: dict, name: str, default=None):
    """Spark SQL option keys are case-insensitive and may arrive
    lowercased through the DataSource API — accept either spelling."""
    return options.get(name.lower(), options.get(name, default))


def _read_data_file(path: str, fields) -> "pyarrow.Table":  # noqa: F821
    """One columnar read of a data file projected to the feed's
    ``(logical name, physical name, arrow type)`` fields — columns a
    pre-evolution file lacks are null-filled (the log-governed schema
    rule, arrow-side), and under column mapping each physical column is
    served under its logical name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as f:
        avail = set(f.schema_arrow.names)
        tbl = f.read(columns=[p for _, p, _ in fields if p in avail])
    return pa.table(
        {
            n: tbl.column(p).cast(t) if p in avail else pa.nulls(len(tbl), t)
            for n, p, t in fields
        }
    )


def _apply_dv(tbl, path: str, dv_dir: str | None):
    """Drop a data file's deletion-vector positions from its arrow
    table — the arrow twin of the broadcast anti-join in
    :func:`txlog._scan_files` (row index IS arrow row order:
    ``_read_data_file`` reads the whole file in file order). Sidecar rows
    name their file by the URI Spark recorded; they are matched through
    :func:`txlog._local_path`, the same normalization the DML probe
    uses."""
    if not dv_dir:
        return tbl
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dv = pq.read_table(dv_dir, columns=["file", "pos"])
    local = os.path.abspath(path)
    uris = [
        u
        for u in pc.unique(dv.column("file")).to_pylist()
        if txlog._local_path(u) == local
    ]
    positions = dv.filter(
        pc.is_in(dv.column("file"), value_set=pa.array(uris, pa.string()))
    ).column("pos").to_pylist()
    if not positions:
        # a dv descriptor is only ever attached to a file the sidecar
        # holds >= 1 position for (delete_where routes a file to the DV
        # class only when it has matching rows, and every kept action
        # unions its own prior positions) — zero hits therefore means the
        # sidecar's URIs and this path disagree. Silently returning the
        # table would RE-EMIT deleted rows into the feed; fail loud.
        raise ValueError(
            f"deletion-vector sidecar {dv_dir} holds no positions for "
            f"{local!r}: no recorded file URI maps to this path — "
            "refusing to serve rows a deletion vector may have removed"
        )
    mask = np.ones(len(tbl), dtype=bool)
    mask[positions] = False
    return tbl.filter(pa.array(mask))


def _read_side(parts, fields):
    """Concatenate the DV-applied reads of one diff side."""
    import pyarrow as pa

    tables = [_apply_dv(_read_data_file(p, fields), p, dv) for p, dv in parts]
    if not tables:
        return pa.table(
            {n: pa.nulls(0, t) for n, _, t in fields}
        )
    return pa.concat_tables(tables)


def _guard_keys(tbl, key: str, version: int, side: str) -> None:
    """The feed's duplicate-key discipline: a duplicated non-NULL key on
    either side of a diffed commit would cross-product into a wrong
    feed — fail loud. NULL keys are exempt (they never join; handled as
    unpaired delete/insert)."""
    import pyarrow.compute as pc

    k = tbl.column(key).drop_null()
    if len(k) != len(pc.unique(k)):
        raise ValueError(
            f"change feed: key {key!r} is duplicated within commit "
            f"{version} ({side} side) — the per-version diff would "
            "cross-product into a wrong feed; diff on a key (cdfKey / "
            "table_changes key=) that uniquely identifies rows the way "
            "the table's DML did"
        )


def _with_meta(tbl, fields, change_type: str, version: int, op: str | None):
    """Append the CDF meta columns (:data:`txlog._CDF_META_FIELDS`) to a
    data table."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    n = len(tbl)
    out = {name: tbl.column(name) for name, _, _ in fields}
    for (name, t), v in zip(txlog._CDF_META_FIELDS, (change_type, version, op)):
        out[name] = pa.array([v] * n, to_arrow_type(t))
    return pa.table(out)


def _eq_null_safe(a, b):
    """Column-wise equality matching Spark's ``eqNullSafe`` binary
    comparison semantics, for the unchanged-copy drop: NULL <=> NULL is
    TRUE, NaN <=> NaN is TRUE (Spark's comparator, unlike IEEE), nested
    types compare structurally. Arrow's ``pc.equal`` gives IEEE NaN semantics and has
    no nested-type kernel, so floats get an explicit both-NaN term and
    nested columns fall back to a per-row python structural compare
    (bounded by the commit's churn — the unit this partition already
    co-locates)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = a.type if hasattr(a, "type") else a.chunk(0).type
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    if pa.types.is_floating(t):
        both_nan = pc.and_kleene(
            pc.coalesce(pc.is_nan(a), pa.scalar(False)),
            pc.coalesce(pc.is_nan(b), pa.scalar(False)),
        )
        return pc.or_(
            pc.or_(both_null, both_nan),
            pc.coalesce(pc.equal(a, b), pa.scalar(False)),
        )
    if pa.types.is_nested(t):
        def deep_eq(x, y):
            if isinstance(x, float) and isinstance(y, float):
                return x == y or (x != x and y != y)  # NaN <=> NaN
            if isinstance(x, dict) and isinstance(y, dict):
                return x.keys() == y.keys() and all(
                    deep_eq(x[k], y[k]) for k in x
                )
            if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
                return len(x) == len(y) and all(
                    deep_eq(i, j) for i, j in zip(x, y)
                )
            return x == y
        return pa.array(
            [deep_eq(x, y) for x, y in zip(a.to_pylist(), b.to_pylist())],
            pa.bool_(),
        )
    return pc.or_(both_null, pc.coalesce(pc.equal(a, b), pa.scalar(False)))


def _diff_commit(part: _CdfDiff, fields):
    """Executor-side per-commit CDF diff — the one change-feed diff,
    served to the stream and to :func:`txlog.table_changes` alike, and
    the only place ``update_preimage`` rows are built: full-outer on the
    key (index-only: side presence = index validity, so key nullness never
    classifies and payload columns never ride the hash join), unchanged
    copies carried by whole-file rewrites are dropped by Spark-semantics
    null-safe image equality (:func:`_eq_null_safe` — NaN <=> NaN true,
    nested structural), NULL-key rows bypass the join as unpaired
    delete/insert (arrow join null-match semantics never get a vote)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    key = part.key
    pre = _read_side(part.pre, fields)
    post = _read_side(part.post, fields)
    _guard_keys(pre, key, part.version, "pre")
    _guard_keys(post, key, part.version, "post")
    out = []
    # NULL-key rows: never equi-join — faithful unpaired emission
    null_pre = pre.filter(pc.is_null(pre.column(key)))
    null_post = post.filter(pc.is_null(post.column(key)))
    if len(null_pre):
        out.append(_with_meta(null_pre, fields, "delete", part.version, part.op))
    if len(null_post):
        out.append(_with_meta(null_post, fields, "insert", part.version, part.op))
    pre_nn = pre.filter(pc.is_valid(pre.column(key)))
    post_nn = post.filter(pc.is_valid(post.column(key)))
    # join ONLY (key, row index): acero carries no payload (nested types
    # are not joinable non-key fields, and wide images would be copied
    # through the hash join for nothing); images materialize afterwards
    # with take() from the original side tables
    pre_k = pa.table(
        {key: pre_nn.column(key), "_b_idx": pa.array(range(len(pre_nn)), pa.int64())}
    )
    post_k = pa.table(
        {key: post_nn.column(key), "_a_idx": pa.array(range(len(post_nn)), pa.int64())}
    )
    joined = pre_k.join(post_k, keys=[key], join_type="full outer")
    b_here = pc.is_valid(joined.column("_b_idx"))
    a_here = pc.is_valid(joined.column("_a_idx"))
    data_cols = [n for n, _, _ in fields if n != key]
    deletes = pre_nn.take(
        joined.filter(pc.and_(b_here, pc.invert(a_here))).column("_b_idx")
    )
    inserts = post_nn.take(
        joined.filter(pc.and_(a_here, pc.invert(b_here))).column("_a_idx")
    )
    matched = joined.filter(pc.and_(b_here, a_here))
    mb = pre_nn.take(matched.column("_b_idx"))
    ma = post_nn.take(matched.column("_a_idx"))
    differ = pa.array([False] * len(matched), pa.bool_())
    for c in data_cols:
        differ = pc.or_(
            differ, pc.invert(_eq_null_safe(mb.column(c), ma.column(c)))
        )
    if len(deletes):
        out.append(_with_meta(deletes, fields, "delete", part.version, part.op))
    if len(inserts):
        out.append(_with_meta(inserts, fields, "insert", part.version, part.op))
    if len(matched) and pc.any(differ).as_py():
        out.append(_with_meta(mb.filter(differ), fields, "update_preimage", part.version, part.op))
        out.append(_with_meta(ma.filter(differ), fields, "update_postimage", part.version, part.op))
    if not out:  # no row changed: the typed empty feed
        return _with_meta(pre.slice(0, 0), fields, "insert", part.version, part.op)
    return pa.concat_tables(out)


def _sides(part) -> list[tuple[str, str | None]]:
    """The ``(data file, DV sidecar | None)`` pairs a part reads."""
    if isinstance(part, _CdfInsert):
        return [(part.path, part.dv_dir)]
    return part.pre + part.post


def _dv_path(action) -> str | None:
    """The deletion-vector sidecar an add action carries, or None."""
    dv = action.get("dv")
    return dv["path"] if dv else None


def _cdf_partitions(
    table_dir: str, start_v: int, end_v: int, key: str, changes: str = "feed"
) -> list[InputPartition]:
    """Plan commits ``(start_v .. end_v]`` — the one planner of every
    ``cdc_txlog`` read: the stream in each stance and the batch change
    feed behind :func:`txlog.table_changes`. An append plans one
    :class:`_CdfInsert` per added file, a metadata-only commit nothing.
    OPTIMIZE commits plan nothing either: they move rows and change none
    (Delta marks them ``dataChange=false``), and diffing one would load
    the whole table into one task. A CHANGE commit — one with removes, or
    an add carrying a deletion vector (it re-references rows already
    served) — follows the ``changes`` stance: ``"feed"`` (the change
    feed) plans a data-changing commit as ONE :class:`_CdfDiff` carrying
    its churn, ``"skip"`` (``skipChangeCommits``) drops the commit whole,
    and ``"raise"`` (the append-only stream) refuses it.

    Each side of a diff reads under ITS version's deletion-vector state
    (the remove side before the commit, the add side after it), so a DV
    DELETE — the same file re-referenced with a bigger vector — feeds
    exactly its newly-deleted rows. An add takes its DV from its own
    action; the snapshot below a commit is resolved, and folded on from
    there, only when the first remove side needs it, so an append range
    opens only its own commit files. Files vacuum already reclaimed fail
    here, at planning (:func:`_check_not_vacuumed`) — after the stance,
    so a skipped commit's files are never stat'ed."""
    state: dict | None = None  # {path: action}, seeded at the first remove side
    parts: list[InputPartition] = []
    for c in txlog._commits(table_dir, start_v + 1, end_v):
        v, op = c["version"], c.get("operation")
        adds = c.get("add") or ()
        removes = c.get("remove") or ()
        change = bool(removes) or any(map(_dv_path, adds))
        if op == "OPTIMIZE" or (change and changes == "skip"):
            pass
        elif change and changes == "raise":
            raise ValueError(
                f"txlog stream source: commit {v} rewrites data "
                "(remove actions or deletion-vector re-references "
                "present); the streaming source is "
                "append-only — compact/merge on a downstream copy, "
                "restart the stream from the rewritten snapshot, opt "
                "into .option('skipChangeCommits', 'true'), or read "
                "the change rows with .option('readChangeFeed', 'true')"
            )
        elif removes:
            if state is None:
                state = {
                    txlog._action_path(a): a
                    for a in (txlog._resolve(table_dir, v - 1).actions if v else ())
                }
            pre = [(p, _dv_path(state.get(p))) for p in removes]
            post = [(txlog._action_path(a), _dv_path(a)) for a in adds]
            parts.append(_CdfDiff(v, op, key, pre, post))
        else:
            parts.extend(
                _CdfInsert(txlog._action_path(a), v, op, _dv_path(a))
                for a in adds
            )
        if state is not None:
            txlog._fold(state, c)
    _check_not_vacuumed(
        [x for part in parts for pair in _sides(part) for x in pair if x],
        start_v,
        end_v,
    )
    return parts


def _data_fields(schema: StructType, meta: dict | None, change_feed: bool):
    """``(logical, physical, arrow type)`` of the DATA columns of
    ``schema``, read under ``meta``'s column mapping (in change-feed mode
    the meta columns are excluded — :func:`_read_part` appends them)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    reserved = {n for n, _ in txlog._CDF_META_FIELDS} if change_feed else ()
    mapped = txlog._mapping_of(meta)
    return [
        (f.name, txlog._physical_name(meta, f.name) if mapped else f.name, f.type)
        for f in to_arrow_schema(schema)
        if f.name not in reserved
    ]


def _check_key(key: str, fields) -> None:
    """The diff key must be a data column of the feed — refused up front,
    on the driver, instead of serving an append range undiffed and
    failing a rewrite commit's task with a raw arrow ``KeyError``."""
    names = [n for n, _, _ in fields]
    if key not in names:
        raise ValueError(
            f"change feed: diff key {key!r} is not a data column of the "
            f"feed {names} — pass a key (cdfKey / table_changes key=) "
            "that names one"
        )


def _read_part(part, fields, change_feed: bool):
    """One planned part as an arrow table — the one per-part read, run on
    an executor by the stream's ``read`` and by the batch feed's
    ``mapInArrow``: a diff part through :func:`_diff_commit`, an added
    file as change-feed ``insert`` rows or as plain data rows."""
    if isinstance(part, _CdfDiff):
        return _diff_commit(part, fields)
    tbl = _apply_dv(_read_data_file(part.path, fields), part.path, part.dv_dir)
    if change_feed:
        return _with_meta(tbl, fields, "insert", part.version, part.op)
    return tbl


class TxlogStreamReader(DataSourceStreamReader):
    """Offsets are log versions: ``{"version": N}`` means commits
    ``0..N`` are consumed. Planning (``latestOffset``/``partitions``) is
    driver-side metadata; ``read`` runs on executors, one file per
    partition (one commit per partition for CDF diffs). See the module
    docstring for the contract."""

    def __init__(self, schema: StructType, options: dict):
        self.table_dir = _required_path(options)
        # one resolution serves the mapping check, the feed's fields and
        # the startingVersion bound (a table with no commits yet is the
        # initial snapshot: no metadata, tip -1)
        snap = txlog._resolve(self.table_dir)
        tip = snap.version
        meta = snap.meta or {}
        # column mapping: a table whose columns were RENAMED or DROPPED
        # is refused up front, Delta's own restriction ("streaming reads
        # from a table with column mapping changes are unsupported") — a
        # rename would change the columns a running query serves. An
        # identity mapping (enabled, nothing renamed yet) is harmless and
        # allowed.
        mapping = meta.get("column_mapping") or {}
        if any(l != p for l, p in mapping.items()) or meta.get(
            "dropped_physical"
        ):
            raise ValueError(
                "cdc_txlog source: streaming over a column-mapped table "
                "whose columns were renamed or dropped is unsupported "
                "(Delta's own streaming restriction) — consume a "
                "snapshot read instead, or restart the pipeline on a "
                "rewritten copy"
            )
        skip = str(_opt(options, "skipChangeCommits", "false")).lower() == "true"
        self.read_change_feed = (
            str(_opt(options, "readChangeFeed", "false")).lower() == "true"
        )
        if self.read_change_feed and skip:
            raise ValueError(
                "cdc_txlog source: readChangeFeed and skipChangeCommits "
                "are mutually exclusive — the CDF reader FORWARDS change "
                "commits, skipChangeCommits drops them"
            )
        self.changes = (
            "feed" if self.read_change_feed else "skip" if skip else "raise"
        )
        self.cdf_key = _opt(options, "cdfKey", "id")
        #: ``(logical, physical, arrow type)`` of the data columns read
        self.fields = _data_fields(schema, meta, self.read_change_feed)
        if self.read_change_feed:
            _check_key(self.cdf_key, self.fields)
        sv = _opt(options, "startingVersion")
        st = _opt(options, "startingTimestamp")
        if sv is not None and st is not None:
            raise ValueError(
                "cdc_txlog source: startingVersion and startingTimestamp "
                "are mutually exclusive — two spellings of the same start"
            )
        if st is not None:
            # Delta's startingTimestamp: first version committed at or
            # after the timestamp. Parse FIRST (a garbage option must
            # raise, not silently start at the tip), then resolve; a
            # timestamp past the tip starts AFTER it — a stream waits
            # for future commits instead of refusing (Delta's streaming
            # behavior, unlike table_changes' raise).
            ts = txlog._ts_seconds(st)
            stamps = txlog.commit_timestamps(self.table_dir)
            if stamps and ts <= stamps[-1]:
                self.starting_version = txlog.version_at_timestamp(
                    self.table_dir, ts, mode="at_or_after", stamps=stamps
                )
            else:
                self.starting_version = len(stamps)
        else:
            self.starting_version = int(sv) if sv is not None else 0
        # pinned boundary contract (both modes): startingVersion may be
        # any committed version, or tip+1 (a future-only stream — the
        # same stance as a past-tip startingTimestamp); anything beyond
        # is a typo'd version, refused at construction like Delta's
        # "provided version is greater than the latest" error.
        if self.starting_version > tip + 1:
            raise ValueError(
                f"cdc_txlog source: startingVersion "
                f"{self.starting_version} is past the log tip ({tip}); "
                f"use a committed version, or {tip + 1} to stream only "
                "future commits"
            )
        mft = _opt(options, "maxFilesPerTrigger")
        self.max_files = int(mft) if mft is not None else 0
        if mft is not None and self.max_files < 1:
            raise ValueError(
                f"cdc_txlog source: maxFilesPerTrigger must be >= 1, got {mft}"
            )
        mbt = _opt(options, "maxBytesPerTrigger")
        self.max_bytes = _parse_bytes(mbt) if mbt is not None else 0
        if mbt is not None and self.max_bytes < 1:
            raise ValueError(
                f"cdc_txlog source: maxBytesPerTrigger must be >= 1 byte, "
                f"got {mbt}"
            )
        # highest version THIS RUN knows is consumed — the admission-
        # control base. None until initialOffset/partitions/commit binds
        # it; the engine asks for latestOffset BEFORE any of those on a
        # fresh run or clean restart, so that first trigger is uncapped
        # (documented best-effort — the module docstring has the full
        # contract).
        self._consumed: int | None = None

    def initialOffset(self) -> dict:
        self._consumed = self.starting_version - 1
        return {"version": self._consumed}

    def latestOffset(self) -> dict:
        tip = txlog.latest_version(self.table_dir)
        capped = self.max_files > 0 or self.max_bytes > 0
        if not capped or self._consumed is None or tip <= self._consumed:
            return {"version": tip}
        # advance version by version until the cumulative added-file
        # count OR byte volume would exceed its cap (both set = both
        # apply, whichever binds first — Delta's combined-knob rule);
        # always include >= 1 version so the stream makes progress past
        # any single oversized commit
        v, count, size = self._consumed, 0, 0
        for c in txlog._commits(self.table_dir, v + 1, tip):
            adds = c.get("add") or ()
            n = len(adds)
            sz = sum(_add_size(a) for a in adds) if self.max_bytes else 0
            if (count or size) and (
                (self.max_files and count + n > self.max_files)
                or (self.max_bytes and size + sz > self.max_bytes)
            ):
                break
            count += n
            size += sz
            v += 1
        return {"version": v}

    def partitions(self, start: dict, end: dict):
        start_v, end_v = int(start["version"]), int(end["version"])
        # bind the admission-control base to the batch being planned:
        # the next latestOffset caps relative to this batch's end
        self._consumed = end_v
        return _cdf_partitions(
            self.table_dir, start_v, end_v, self.cdf_key, self.changes
        )

    def commit(self, end: dict) -> None:
        # offsets are derived from the immutable log; nothing to release,
        # but the committed end re-binds the admission-control base
        self._consumed = int(end["version"])

    def read(self, partition):
        yield from _read_part(
            partition, self.fields, self.read_change_feed
        ).to_batches()


class TxlogStreamDataSource(DataSource):
    """``readStream.format("cdc_txlog").option("path", table_dir)`` —
    register with ``spark.dataSource.register(TxlogStreamDataSource)``.
    The source is stream-only: the batch change feed is
    :func:`txlog.table_changes` (same planner, same per-part read, no
    source), and snapshot reads go through :func:`txlog.read_version`.

    SELF-DESCRIBING like the Delta source it models: ``schema()`` is the
    tip's :func:`txlog._table_schema` — the committed ``metaData``
    declaration, else the footer schema of one of the tip's live files,
    the schema :func:`txlog.read_version` plans with — so ``.load()``
    works without an explicit ``.schema()`` call; a caller-supplied
    schema still overrides (Spark only calls ``schema()`` when none was
    given). In ``readChangeFeed`` mode the resolved schema gains the CDF
    meta columns (``_change_type``, ``_commit_version``, ``_operation``)
    — and refuses a table whose data already uses one of those reserved
    names, the batch feed's collision rule."""

    @classmethod
    def name(cls) -> str:
        return "cdc_txlog"

    def schema(self):
        # NOTE: this runs in a session-less Python worker — DDL strings
        # must stay strings (StructType.fromDDL needs an active session)
        table_dir = _required_path(self.options)
        snap = txlog._resolve(table_dir)
        base = txlog._table_schema(snap, txlog._files_in(snap))
        if base is None:
            raise ValueError(
                f"cdc_txlog source: table {table_dir} has no committed "
                "metadata and no data files to infer a schema from; pass "
                ".schema(...) explicitly or commit table metadata"
            )
        # a DDL string is accepted by the DataSource API
        if str(_opt(self.options, "readChangeFeed", "false")).lower() == "true":
            return txlog._cdf_schema(base)
        return base

    def streamReader(self, schema: StructType):
        return TxlogStreamReader(schema, self.options)


def _required_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError(
            "cdc_txlog source: the 'path' option (table directory) is "
            "required — readStream.format('cdc_txlog').option('path', dir)"
        )
    return path
