"""Transactional commit log over plain parquet (Delta-protocol-style).

The reference's production stack names Delta as its sink table format
("Structured Streaming + Kafka + Delta"); no delta-spark jar ships in
this environment, so this module implements the three protocol pieces
the engine actually relies on directly over parquet + a JSON commit
log — the same public design as Delta Lake's PROTOCOL.md (an ordered
log of add/remove file actions, folded into a snapshot):

- **Atomic commits.** Version ``N`` commits by writing the FULL
  payload to a private temp file and publishing it via
  ``os.link(tmp, _txlog/<N>.json)`` — ``link`` is both atomic and
  exclusive on POSIX, so the filesystem arbitrates concurrent writers
  (the loser sees ``FileExistsError`` and either retries on top of the
  new log tip — blind appends — or surfaces
  :class:`ConcurrentCommitError` for rewrites, whose read-set is stale
  the moment another commit lands) AND a commit file is only ever
  observable with its complete serialized content — a reader can never
  see a created-but-empty or half-written entry. Data files are fully
  written *before* the commit and invisible until it lands, so readers
  never observe a partial write.

  **Object-store caveat (production deployments).** This arbitration
  is FILESYSTEM-only: POSIX ``link``/``O_EXCL`` have no equivalent on
  eventually-listed object stores — S3 offers no atomic
  create-if-absent across writers (S3 conditional writes / If-None-
  Match narrow but do not close this on all stores), which is exactly
  why Delta Lake's public design routes object-store commits through a
  LogStore / commit-coordinator service (DynamoDB-arbitrated S3
  LogStore, or a single-writer coordination process) that serializes
  "who owns version N". A production deployment of this module on
  s3a:// MUST substitute such a coordinator for the ``os.link`` step;
  everything else (immutable data files, snapshot fold, checkpoints)
  carries over unchanged.
- **Snapshot isolation + time travel.** A snapshot is the fold of
  add/remove actions over commits ``0..N``. Rewrites are copy-on-write:
  a ``remove`` action drops a file from the *snapshot*, never from
  disk, so a resolved file list keeps reading version ``N``
  consistently while later versions commit (and ``version=`` pins any
  historical snapshot).
- **Idempotent streaming appends.** A commit may carry an
  ``(app_id, batch_id)`` txn marker; ``foreachBatch`` sinks check
  :func:`last_txn` before applying, so the at-least-once replay Spark
  gives after a failure (or a checkpoint reset) becomes a no-op — the
  Delta ``txn`` action that upgrades foreachBatch to exactly-once.
- **Log checkpoints.** :func:`write_checkpoint` materializes the fold
  at version ``N`` (Delta's ``_last_checkpoint``); later snapshot
  resolutions start from the newest checkpoint at or below the target
  version and replay only the tail, so the driver-side fold stays
  O(commits since last checkpoint) no matter how long the table lives.
- **File-level data skipping.** An ``add`` action may carry per-file
  min/max column stats and a row count (Delta's ``stats`` field),
  decoded by :func:`write_files` from the footers of the parquet files
  it just wrote — no pass re-reads them; :func:`snapshot_files` with a
  ``predicate_range`` prunes non-overlapping files DRIVER-SIDE, before
  Spark ever lists them — the metadata-only pruning that turns a
  100 TB scan into a few-file read when the data is range-clustered.
  Stats are a property of the table, not of a call: a rewrite (MERGE,
  UPDATE, DELETE, :func:`optimize`) keeps the stats columns of the files
  it replaces (:func:`_write_files_checked`), so a DML never costs the
  table its skipping or its metadata-only :func:`count_rows`.
- **Deletion vectors (merge-on-read DML).** An ``add`` action may carry
  a ``dv`` descriptor — a parquet sidecar of ``(file, row position)``
  rows plus its cardinality (Delta's ``deletionVector`` field).
  :func:`delete_where` writes one instead of rewriting when a touched
  file's deleted fraction is small (``dv_fraction_threshold``), making
  trickle deletes O(deleted rows) of sidecar instead of O(touched
  files) of rewrite; every snapshot and DML scan applies the vectors
  with one broadcast anti-join (:func:`_scan_files`), the change feed
  drops their positions from each arrow file read
  (``txlog_stream._apply_dv``), any rewrite (DML, :func:`optimize`)
  reconciles them into plain files, and :func:`vacuum` reclaims
  unreferenced sidecars like data files.
- **OPTIMIZE (compaction and Z-order clustering).** Every streaming
  trigger commits its own small files. :func:`optimize` rewrites the
  tip's live files into target-sized files, optionally range-clustered
  on the :func:`zorder_value` Morton key so stats prune on every
  clustered column, as ONE rewrite commit that changes no row.

One log walk: :func:`_commits` is the only reader of commit files, and
:func:`_fold` the only step that applies a commit — its removes, then
its adds — to a dict keyed by action path (a re-added live path is one
file, as in Delta). Snapshot resolution, :func:`history`,
:func:`commit_timestamps`, :func:`vacuum`, :func:`table_changes` and
the streaming source (``sources.txlog_stream``) all go through the pair.
:func:`_resolve` returns a named :class:`Snapshot` (``actions``,
``txns``, ``meta``, ``version``) and reads the tip and the newest
checkpoint from ONE listing of ``_txlog/`` (:func:`_log_listing`,
which :func:`latest_version` shares). Every
operation resolves once and commits on ``snap.version + 1`` without
listing the tip first. A table with no commits resolves to the initial
snapshot (version -1, no actions, no txns, no metadata), so no caller
special-cases an empty table, and every logged add action is a dict
(:func:`commit` wraps a bare path as ``{"path": ...}``).
A rewrite resolves its snapshot once and hands it to the stats prune
(:func:`_files_in`), the touched-file probe (:func:`_touched_files`,
one function for every rewrite) and its scans (:func:`_scan_files`,
which also plans every :func:`read_version` and :func:`optimize` scan).

One table schema: the log governs it. Every scan, the change feed and
the streaming source are typed by :func:`_table_schema` before they are
planned — the snapshot's declared ``metaData`` schema, or, for a table
that never declared one, the Spark schema recorded in one data file's
footer, read on the driver with no Spark job — so no txlog read launches
a parquet schema-inference job.

Scale: the log is metadata — KB-sized JSON per commit, folded
driver-side in O(tail since checkpoint), each commit once. The data
path stays fully distributed: a snapshot read is one parquet scan of the
resolved file list, with normal pushdown/pruning below the file-level
skip.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import pickle
import urllib.parse
import uuid
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

_LOG_SUBDIR = "_txlog"

#: a ``*.tmp`` file in ``_txlog/`` older than this is a crashed
#: committer's leftover, which :func:`vacuum` sweeps
_TMP_GRACE_SECONDS = 600.0

#: the change feed's meta columns, appended to the table's own columns by
#: :func:`table_changes` and the streaming source's readChangeFeed mode
_CDF_META_FIELDS = (
    ("_change_type", StringType()),
    ("_commit_version", IntegerType()),
    ("_operation", StringType()),
)


#: the deletion-vector sidecar's schema (:func:`_write_deletion_vectors`
#: writes it), so a DV-aware scan plans its sidecar read without inference
_DV_SCHEMA = "file STRING, pos BIGINT"


def _cdf_schema(base):
    """The change feed's schema: ``base`` (a DDL string or a
    ``StructType``) with :data:`_CDF_META_FIELDS` appended. A base whose
    data already uses a reserved name would duplicate an output name —
    refused up front."""
    names = (
        [n for n, _ in _ddl_fields(base)]
        if isinstance(base, str)
        else base.fieldNames()
    )
    clash = {n for n, _ in _CDF_META_FIELDS} & set(names)
    if clash:
        raise ValueError(
            f"the change feed reserves column names {sorted(clash)}; the "
            "table's data already uses them — rename before reading the "
            "feed"
        )
    if isinstance(base, str):
        return base + "".join(
            f", {n} {t.simpleString()}" for n, t in _CDF_META_FIELDS
        )
    return StructType(
        list(base.fields) + [StructField(n, t) for n, t in _CDF_META_FIELDS]
    )


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this commit was based on."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG_SUBDIR)


def _log_listing(table_dir: str) -> tuple[int, list[int]]:
    """``(tip, checkpoint versions)`` from ONE listing of ``_txlog/`` —
    the listing every snapshot resolution and :func:`latest_version`
    read (:func:`vacuum`'s temp-file sweep is the only other); the tip
    is -1 for an empty or absent log. A ``_last_checkpoint`` pointer
    would replace this listing."""
    ldir = _log_dir(table_dir)
    if not os.path.isdir(ldir):
        return -1, []
    tip, ckpts = -1, []
    for f in os.listdir(ldir):
        if f.endswith(".checkpoint.json"):
            ckpts.append(int(f[: -len(".checkpoint.json")]))
        elif f.endswith(".json"):
            tip = max(tip, int(f[: -len(".json")]))
    return tip, ckpts


def latest_version(table_dir: str) -> int:
    """Highest committed version, or -1 for an empty/absent log."""
    return _log_listing(table_dir)[0]


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.json")


def _action_path(action) -> str:
    """The data file of an ``add`` action: a logged action is a
    ``{"path": ..., ...}`` dict; a bare path string (stats-less
    :func:`write_files` output, before :func:`commit` wraps it) is its
    own path."""
    return action if isinstance(action, str) else action["path"]


def commit(
    table_dir: str,
    add: list,
    remove: list[str] | None = None,
    txn: dict | None = None,
    expected_version: int | None = None,
    metadata: dict | None = None,
    operation: str | None = None,
    timestamp: float | None = None,
) -> int:
    """Atomically commit the next log version.

    ``add`` entries are data files entering the snapshot — bare paths,
    or ``{"path", "stats"}`` dicts when the writer collected per-file
    min/max column stats (see :func:`write_files`). This is the one
    place a bare path becomes an action: it is logged as
    ``{"path": p}``, so the log, its checkpoints and every
    :class:`Snapshot` hold only dict actions; ``remove`` entries
    are paths leaving it; ``txn`` is an optional
    ``{"app_id": ..., "batch_id": ...}`` marker; ``operation`` is the
    Delta ``commitInfo.operation`` twin — the DML entry points record
    their names (``WRITE``/``UPDATE``/``DELETE``/``MERGE``) so
    :func:`history` can report WHAT each version did, not just its
    add/remove shape; ``metadata`` is an
    optional Delta-style ``metaData`` action — the table's declared
    schema (``{"schema": <DDL string>}``) and/or CHECK constraints
    (``{"constraints": {name: sql_predicate}}``); the LATEST metadata
    in the log governs (schema evolution = commit new metadata).
    With ``expected_version`` set (rewrites: the caller's remove-set was
    computed against ``expected_version - 1``), a lost race raises
    :class:`ConcurrentCommitError` instead of silently clobbering the
    other writer's effect; blind appends (no ``expected_version``)
    retry on top of the new tip, which is always safe for add-only
    commits.

    ``timestamp`` (unix seconds) is the optional IN-COMMIT timestamp —
    Delta's in-commit-timestamps table feature: when provided it is
    recorded in the payload and governs timestamp-based time travel
    (:func:`version_at_timestamp`) for this version, making
    ``TIMESTAMP AS OF`` deterministic and immune to file-copy/mtime
    drift; without it the commit FILE's modification time serves
    (Delta's classic behavior), and the payload stays byte-identical to
    the pre-timestamp format.
    """
    add = [a if isinstance(a, dict) else {"path": a} for a in add]
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    while True:
        version = latest_version(table_dir) + 1
        if expected_version is not None and version != expected_version:
            raise ConcurrentCommitError(
                f"expected to commit version {expected_version}, log tip "
                f"is already {version - 1}"
            )
        payload = {
            "version": version,
            "add": add,
            "remove": list(remove or ()),
            "txn": txn,
            "metadata": metadata,
            "operation": operation,
        }
        if timestamp is not None:
            payload["timestamp"] = float(timestamp)
        # Serialize BEFORE touching the log: a json TypeError here leaves
        # no trace on disk, and the published entry always carries its
        # full content (readers can never observe an empty/partial file).
        body = json.dumps(payload)
        path = _commit_path(table_dir, version)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            _write_synced(tmp, body)
            try:
                os.link(tmp, path)  # atomic + exclusive, full content
                won = True
            except OSError as e:
                # NFS caveat: a retransmitted LINK request can report
                # failure (EEXIST among others) for a link that actually
                # succeeded. st_nlink == 2 on the private temp file is the
                # classic lockfile probe — only OUR link target can be the
                # second name, so 2 means we won regardless of the errno.
                # A vanished tmp (a concurrent vacuum swept it after a stall
                # past _TMP_GRACE_SECONDS) leaves the race UNDECIDABLE by
                # nlink — and guessing either way is wrong: "won" when we
                # lost publishes nothing; "lost" when we actually won makes
                # the append path re-commit the same payload at the next
                # version (duplicated add actions → duplicated rows). The
                # content of the published entry decides it exactly: only
                # OUR link carries OUR body (identical bodies from two
                # writers commute — then it genuinely doesn't matter who
                # won).
                try:
                    won = os.stat(tmp).st_nlink == 2
                except FileNotFoundError:
                    try:
                        with open(path) as pf:
                            won = pf.read() == body
                    except FileNotFoundError:
                        won = False
                if not won:
                    if isinstance(e, FileExistsError):
                        if expected_version is not None:
                            raise ConcurrentCommitError(
                                f"lost the commit race for version {version}"
                            ) from None
                        continue  # append: rebase on the new tip and retry
                    raise  # EPERM/EXDEV/...: surface, finally sweeps tmp
            _sync_dir(_log_dir(table_dir))
            return version
        finally:
            # every exit path (publish, lost race retry, serialization or
            # link error) removes the private temp file; a hard crash can
            # still strand one, which vacuum() sweeps from _txlog/
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)


def _write_synced(path: str, body: str) -> None:
    """Write ``body`` to a private temp file and fsync it, so the name a
    caller publishes next can never point at empty or partial content."""
    with open(path, "w") as f:
        f.write(body)
        f.flush()
        os.fsync(f.fileno())


def _sync_dir(path: str) -> None:
    """fsync a directory, so a name just published in it (not only the
    file's content) survives power loss — without this a crash can
    silently lose an entry its writer already reported."""
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _checkpoint_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.checkpoint.json")


def _commits(table_dir: str, start: int, end: int):
    """Commit payloads of versions ``start..end``, in version order — the
    one reader of commit files. Lazy: a caller that stops early opens no
    later commit."""
    for v in range(start, end + 1):
        with open(_commit_path(table_dir, v)) as f:
            yield json.load(f)


def _fold(live: dict, payload: dict) -> None:
    """Apply one commit to ``live`` (``{action path: action}``): its
    removes, then its adds. The path is the key, as in Delta: re-adding a
    live path replaces its action, and a path removed and re-added in one
    commit moves to the end, so insertion order is snapshot order."""
    for p in payload.get("remove") or ():
        live.pop(p, None)
    for a in payload.get("add") or ():
        live[_action_path(a)] = a


class Snapshot(NamedTuple):
    """A table as of one version: its live add actions (snapshot order;
    each a ``{"path", ...}`` dict), the per-app txn high-water marks, the
    governing metaData action (None if the table never declared one) and
    the version itself. A table with no commits is the initial snapshot
    ``Snapshot([], {}, None, -1)``."""

    actions: list
    txns: dict
    meta: dict | None
    version: int


def _resolve(table_dir: str, version: int | None = None) -> Snapshot:
    """The :class:`Snapshot` as of ``version`` (default: the tip). The
    tip and the newest checkpoint at or below the target come from one
    :func:`_log_listing`; the fold starts from that checkpoint and
    replays only the tail commits. The default on a log with no commits
    is the initial snapshot at version -1; an explicit version outside
    ``[0, tip]`` raises ``not in log``."""
    tip, ckpts = _log_listing(table_dir)
    if version is None:
        version = tip
    elif not 0 <= version <= tip:
        raise ValueError(
            f"version {version} not in log: outside the log's committed "
            f"range [0, {tip}]"
        )
    # checkpoints never replace commits: time travel below the newest one
    # replays from an older checkpoint, or from version 0
    best = max((c for c in ckpts if c <= version), default=None)
    ckpt = {"version": -1, "actions": [], "txn_app_versions": {}}
    if best is not None:
        with open(_checkpoint_path(table_dir, best)) as f:
            ckpt = json.load(f)
    live = {_action_path(a): a for a in ckpt["actions"]}
    txns = dict(ckpt["txn_app_versions"])
    meta = ckpt.get("metadata")
    for c in _commits(table_dir, ckpt["version"] + 1, version):
        _fold(live, c)
        t = c.get("txn")
        if t:
            prev = txns.get(t["app_id"])
            b = int(t["batch_id"])
            if prev is None or b > int(prev):
                txns[t["app_id"]] = b
        if c.get("metadata") is not None:
            meta = c["metadata"]
    return Snapshot(list(live.values()), txns, meta, version)


def write_checkpoint(table_dir: str, version: int | None = None) -> int:
    """Materialize the fold at ``version`` (default: tip) as
    ``<version>.checkpoint.json`` — Delta's ``_last_checkpoint``. Later
    resolutions for any target ≥ this version replay only the commits
    after it, keeping the driver-side fold O(tail) for long-lived tables.
    Also carries the per-app txn high-water marks and the table
    metadata so :func:`last_txn` / :func:`table_metadata` stay
    checkpoint-compatible. The initial snapshot of a table with no
    commits has nothing to materialize: refused, no file written."""
    snap = _resolve(table_dir, version)
    if snap.version < 0:
        raise ValueError(f"{table_dir} has no commits to checkpoint")
    path = _checkpoint_path(table_dir, snap.version)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    body = json.dumps(
        {
            "version": snap.version,
            "actions": snap.actions,
            "txn_app_versions": snap.txns,
            "metadata": snap.meta,
        }
    )
    _write_synced(tmp, body)
    os.rename(tmp, path)  # atomic publish; idempotent (same fold content)
    _sync_dir(_log_dir(table_dir))
    return snap.version


def _ts_seconds(ts) -> float:
    """Normalize a caller-supplied timestamp to unix SECONDS (float).
    Accepts a number, a ``datetime`` (naive = UTC — the repo-wide
    timestamp discipline; an aware one converts exactly), or a string
    (ISO-8601, same naive-is-UTC rule; plain numeric strings pass
    through — the form stream options arrive in)."""
    import datetime

    import math

    if isinstance(ts, (int, float)) and not isinstance(ts, bool):
        if not math.isfinite(ts):
            raise ValueError(f"timestamp must be finite, got {ts!r}")
        return float(ts)
    if isinstance(ts, str):
        try:
            v = float(ts)
        except ValueError:
            ts = datetime.datetime.fromisoformat(ts)
        else:
            # 'nan'/'inf' parse as floats but are not instants — silently
            # accepting them would turn a typo'd option into a stream that
            # skips the whole log (nan compares False everywhere)
            if not math.isfinite(v):
                raise ValueError(f"timestamp must be finite, got {ts!r}")
            return v
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp()
    if isinstance(ts, datetime.date):
        return datetime.datetime(
            ts.year, ts.month, ts.day, tzinfo=datetime.timezone.utc
        ).timestamp()
    raise TypeError(f"unsupported timestamp value {ts!r}")


def commit_timestamps(table_dir: str) -> list[float]:
    """Effective commit timestamp (unix seconds) per version ``0..tip``,
    made MONOTONE NON-DECREASING by a running max — Delta's rule: a
    commit whose raw timestamp regresses (mtime drift after a file copy,
    writer clock skew) is served AT its predecessor's timestamp, so
    timestamp travel always resolves a contiguous history. The raw value
    per version is the in-commit ``timestamp`` when the writer recorded
    one (:func:`commit`), else the commit FILE's modification time —
    Delta's classic source. O(commits) driver-side, KB JSON + one stat
    each."""
    out: list[float] = []
    running = float("-inf")
    for v, c in enumerate(_commits(table_dir, 0, latest_version(table_dir))):
        raw = c.get("timestamp")
        path = _commit_path(table_dir, v)
        eff = float(raw) if raw is not None else os.stat(path).st_mtime
        running = max(running, eff)
        out.append(running)
    return out


def version_at_timestamp(
    table_dir: str, ts, mode: str = "at_or_before", stamps: list | None = None
) -> int:
    """Resolve a timestamp to a log version — the fold behind every
    timestamp-based travel surface (``TIMESTAMP AS OF`` reads,
    timestamp RESTORE, CDF ``startingTimestamp``/``endingTimestamp``,
    the streaming source's ``startingTimestamp``).

    - ``mode="at_or_before"`` (snapshot semantics — ``TIMESTAMP AS
      OF``): the LAST version whose effective commit timestamp is
      ``<= ts``. A ``ts`` before the first commit raises (there was no
      table then); a ``ts`` at or past the tip's timestamp resolves to
      the tip (the table as of tomorrow IS today's tip — note Delta
      refuses future timestamps instead, guarding cross-host clock
      skew; this engine's in-commit timestamps make the resolution
      deterministic, so the friendlier clamp is safe).
    - ``mode="at_or_after"`` (change-feed START semantics — Delta's
      ``startingTimestamp``): the FIRST version whose effective
      timestamp is ``>= ts``. A ``ts`` before the first commit resolves
      to version 0; a ``ts`` past the tip's timestamp raises (there are
      no changes at or after it — Delta's own refusal).

    Effective timestamps come from :func:`commit_timestamps` (in-commit
    value when recorded, else commit-file mtime, monotone-folded);
    callers that already hold that list pass it via ``stamps`` so a
    two-ended range (or the streaming start) walks the log once, not
    per resolution."""
    ts = _ts_seconds(ts)
    if stamps is None:
        stamps = commit_timestamps(table_dir)
    if not stamps:
        raise ValueError(f"{table_dir} has no commits to resolve {ts} against")
    if mode == "at_or_before":
        if ts < stamps[0]:
            raise ValueError(
                f"timestamp {ts} is before {table_dir}'s first commit "
                f"({stamps[0]}); the table did not exist yet"
            )
        # last version with eff <= ts (ties: later version wins — the
        # state AT that instant includes every commit stamped with it)
        v = max(i for i, s in enumerate(stamps) if s <= ts)
        return v
    if mode == "at_or_after":
        for i, s in enumerate(stamps):
            if s >= ts:
                return i
        raise ValueError(
            f"timestamp {ts} is after {table_dir}'s latest commit "
            f"({stamps[-1]}); no changes exist at or after it"
        )
    raise ValueError(f"unknown resolution mode {mode!r}")


def _resolve_travel(
    table_dir: str, version: int | None, timestamp, what: str
) -> int | None:
    """Shared version/timestamp argument arbitration for the travel
    surfaces: exactly one axis may be given; a timestamp resolves
    through :func:`version_at_timestamp` snapshot semantics."""
    if timestamp is None:
        return version
    if version is not None:
        raise ValueError(
            f"{what}: pass version= or timestamp=, not both — they are "
            "two spellings of the same travel axis"
        )
    return version_at_timestamp(table_dir, timestamp)


def snapshot_files(
    table_dir: str,
    version: int | None = None,
    predicate_range: tuple[str, object, object] | None = None,
) -> list[str]:
    """Data files of the snapshot as of ``version`` (default: log tip) —
    the fold of add/remove actions over commits ``0..version``.

    ``predicate_range=(col, lo, hi)`` applies file-level data skipping:
    files whose committed ``stats[col]`` range does not overlap
    ``[lo, hi]`` are pruned HERE, driver-side, from metadata alone —
    Spark never lists or opens them. Files committed without stats for
    ``col`` are conservatively kept (skipping is an optimization, never
    a filter — callers still apply the row-level predicate). ``col`` is
    a LOGICAL name; under column mapping it is translated to the
    physical name the per-file stats are keyed by (stats are collected
    over the written, physical-named frame), so skipping keeps working
    across renames."""
    return _files_in(_resolve(table_dir, version), predicate_range)


def _files_in(snap, predicate_range=None) -> list[str]:
    """:func:`snapshot_files` of an already resolved :class:`Snapshot`,
    so a rewrite walks the log once."""
    if predicate_range is None:
        return [_action_path(a) for a in snap.actions]
    col, lo, hi = predicate_range
    if _mapping_of(snap.meta):
        col = _physical_name(snap.meta, col)
    # normalize the caller's bounds the same way the stats were encoded
    # (dates→ISO strings, decimals→outward-widened floats) so the
    # comparison is type-consistent and conservatively widened
    lo, hi = _prune_bound(lo, "lo"), _prune_bound(hi, "hi")
    keep = []
    for a in snap.actions:
        stats = a.get("stats", {})
        if col in stats:
            mn, mx = stats[col]
            if mn is not None and mx is not None and (mx < lo or mn > hi):
                continue
        keep.append(_action_path(a))
    return keep


def read_version(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    predicate_range: tuple[str, object, object] | None = None,
    timestamp=None,
) -> DataFrame:
    """Snapshot read: one distributed parquet scan of the resolved file
    list (time travel via ``version=`` — Delta ``VERSION AS OF`` — or
    ``timestamp=`` — Delta ``TIMESTAMP AS OF``, resolved to the last
    version committed at or before it by :func:`version_at_timestamp`;
    the two are mutually exclusive — and file-level data skipping via
    ``predicate_range`` — see :func:`snapshot_files`). The resolution is
    immune to commits that land after it — copy-on-write never deletes
    data files. A predicate that prunes EVERY file returns a typed empty
    DataFrame (zero rows read), not a schema-inference error.

    **The log's declared schema governs the read** (Delta semantics: the
    metaData action, not the parquet footers, is the table's schema).
    Every scan is planned with an explicit schema (:func:`_table_schema`):
    the snapshot's declaration, or for a table that never declared one
    the footer schema of one live file, read without a Spark job. With a
    declaration — after a schema evolution
    (``validated_write(evolve=True)`` + a metadata commit) files written
    under the OLD schema are read with the evolved shape, missing
    columns null-filled per file, with no ``mergeSchema`` footer sweep
    (which at 100 TB would read every footer; the log already knows the
    answer). Time travel to a pre-evolution version reads with THAT
    version's schema — each snapshot is self-consistent. Deletion
    vectors are applied per snapshot too: a version reads under its OWN
    DV state, so time travel before a merge-on-read DELETE still sees
    the rows and a restore across one resurrects them."""
    version = _resolve_travel(table_dir, version, timestamp, "read_version")
    return _read_snapshot(
        spark, table_dir, _resolve(table_dir, version), predicate_range
    )


def _read_snapshot(
    spark: SparkSession, table_dir: str, snap, predicate_range=None
) -> DataFrame:
    """:func:`read_version` of an already resolved :class:`Snapshot`, so
    a DML that holds one walks the log once. A snapshot whose files are
    all pruned reads as an empty frame of :func:`_table_schema` over its
    live files; with no file and no declaration it raises."""
    files = _files_in(snap, predicate_range)
    if files:
        return _scan_files(spark, snap, files)
    schema = _table_schema(snap, _files_in(snap))
    if schema is not None:
        return spark.createDataFrame([], schema)
    # zero files AND no declared schema: there is nothing to type the
    # frame with — raise the real reason, not a parquet inference error
    raise ValueError(
        f"snapshot v{snap.version} of {table_dir} has no data files and no "
        "declared schema; commit table metadata to make empty "
        "snapshots readable"
    )


def _local_path(p: str) -> str:
    """Normalize a scanned file URI to a comparable local path (strip
    the ``file:`` scheme, undo the URL encoding Spark applies to
    ``_metadata.file_path`` — a space is recorded as ``%20`` — and
    absolutize) — the ONE place this logic lives; touched-file discovery
    (:func:`_touched_files`), the stats keying in :func:`write_files` and
    the change feed's deletion-vector match must agree on it exactly."""
    if p.startswith("file:"):
        p = urllib.parse.unquote(p[len("file:"):])
    return os.path.abspath(p)


def _stat_bound(v, side: str):
    """JSON-safe, ORDER-PRESERVING encoding of a per-file stat bound
    (actions are serialized with ``json.dumps``; ``datetime.date`` /
    ``Decimal`` would TypeError at commit time otherwise):

    - date/datetime → ISO-8601 string (lexicographic order == temporal
      order, so pruning comparisons stay exact);
    - Decimal → float, WIDENED one ulp outward (min down, max up) so the
      lossy conversion can never tighten a bound — skipping must stay
      conservative (prune only what provably cannot match);
    - everything else (int/float/str/bool/None) passes through.

    :func:`_prune_bound` applies the matching normalization to
    caller-supplied predicate ranges at compare time."""
    import datetime
    import decimal
    import math

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return math.nextafter(f, -math.inf) if side == "min" else math.nextafter(f, math.inf)
    return v


def _prune_bound(v, side: str):
    """Normalize a caller-supplied predicate bound the same way
    :func:`_stat_bound` normalized the stored stats, widened OUTWARD
    (lo down, hi up) where conversion is lossy — so data skipping
    against encoded stats can only keep extra files, never drop a
    matching one."""
    return _stat_bound(v, "min" if side == "lo" else "max")


def write_files(
    df: DataFrame, table_dir: str, stats_cols: list[str] | None = None
) -> list:
    """Write ``df`` as immutable parquet data files under ``table_dir``
    (a uniquely-named subdir, so concurrent writers never collide) and
    return their add actions — NOT yet part of any snapshot until a
    :func:`commit` references them.

    Without ``stats_cols`` each action is the file's bare path, which
    :func:`commit` logs as ``{"path": p}``. With ``stats_cols``, each
    action is a ``{"path", "size", "stats", "num_rows"}`` dict carrying the file's byte size (Delta's required
    ``add.size`` field — what byte-budget stream admission reads from
    the LOG instead of re-statting the filesystem every trigger),
    per-file min/max for those columns (enables ``predicate_range``
    skipping) and the file's row count (enables metadata-only
    :func:`count_rows` — Delta's ``numRecords``). Stats are lifted from
    the PARQUET FOOTERS of the files just written — exactly what a
    production Delta writer does — a driver-side metadata read bounded
    by file count, never row count, and no Spark job of its own
    (:func:`_footer_stats`)."""
    out = os.path.join(table_dir, "data", uuid.uuid4().hex)
    df.write.parquet(out)
    paths = sorted(
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )
    if not stats_cols:
        return paths
    return stats_actions_for(paths, stats_cols)


def stats_actions_for(paths: list[str], stats_cols: list[str]) -> list:
    """Add actions (``path``/``size``/``stats``/``num_rows``) for
    ALREADY-WRITTEN parquet files, from their footers
    (:func:`_footer_stats`) — shared by :func:`write_files` and writers
    that land several commits' files in one pass and split the actions
    per commit afterwards."""
    acts = []
    for p in paths:
        stats, num_rows = _footer_stats(p, stats_cols)
        acts.append(
            {
                "path": p,
                "size": os.path.getsize(p),
                "stats": stats,
                "num_rows": num_rows,
            }
        )
    return acts


def _footer_stats(path: str, stats_cols: list[str]) -> tuple[dict, int]:
    """``({col: [min, max]}, row count)`` of one parquet file, decoded
    from its footer's typed column statistics — the only source of
    per-file stats. Row groups whose values are all null are skipped; a
    column absent from the file, all null, or with a row group whose
    footer holds no min/max (Spark's default INT96 timestamps, oversized
    strings) records ``[None, None]``, the encoding that never prunes. A
    stats column that exists only as a nested leaf raises, and so does a
    footer that cannot be read: the file was just written."""
    import decimal

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    # key leaves by their FULL dotted path, not the bare leaf name: a
    # nested leaf like payload.id reports name 'id' and would shadow (or
    # stand in for) the top-level column — footer stats of the wrong leaf
    # drive predicate_range pruning, i.e. silently wrong results
    leaves = {}
    names = set()
    for j in range(len(md.schema)):
        col = md.schema.column(j)
        leaves[col.path] = (j, col)
        names.add(col.name)
    stats: dict[str, list] = {}
    for c in stats_cols:
        stats[c] = [None, None]
        if c not in leaves:
            if c in names:
                raise ValueError(
                    f"stats column {c!r} of {path} exists only as a nested "
                    "field; per-file stats cover top-level columns"
                )
            continue  # absent from this file (pre-evolution vintage)
        j, col = leaves[c]
        chunks = (
            md.row_group(g).column(j).statistics
            for g in range(md.num_row_groups)
        )
        # skip row groups whose values are all null
        groups = [st for st in chunks if st is None or st.num_values]
        if not groups or any(st is None or not st.has_min_max for st in groups):
            continue
        if col.logical_type.type == "DECIMAL" and col.physical_type in (
            "INT32",
            "INT64",
        ):
            # pyarrow does not decode integer-backed decimal bounds
            exp = -col.scale
            lows = [decimal.Decimal(st.min_raw).scaleb(exp) for st in groups]
            highs = [decimal.Decimal(st.max_raw).scaleb(exp) for st in groups]
        else:
            lows = [st.min for st in groups]
            highs = [st.max for st in groups]
        # across row groups NaN sorts above every number, as in Spark
        stats[c] = [
            _stat_bound(min(lows, key=lambda v: (v != v, v)), "min"),
            _stat_bound(max(highs, key=lambda v: (v != v, v)), "max"),
        ]
    return stats, md.num_rows


def _dv_map(actions) -> dict[str, dict]:
    """``{abs data-file path: dv descriptor}`` for every action carrying
    a deletion vector. A descriptor is ``{"path": <sidecar parquet dir>,
    "cardinality": <deleted row count>}`` — Delta's ``deletionVector``
    add-action field, expressed as a parquet sidecar of
    ``(file, pos)`` rows (``file`` = the verbatim ``_metadata.file_path``
    URI of the data file, ``pos`` = its 0-based parquet row index)."""
    return {
        os.path.abspath(a["path"]): a["dv"]
        for a in actions
        if a.get("dv")
    }


def _table_schema(snap, files):
    """The schema a read of ``snap`` is planned with: the log's declared
    DDL string when the snapshot has one, else the Spark schema recorded
    in the footer of ``min(files)`` (a collection of data-file paths) —
    the file Spark's own inference would open — read on the driver, with
    no session and no job. A file written without Spark's row metadata
    is typed from its arrow schema. A footer schema is returned as its
    nullable copy, as Spark's file scans type it, so a pruned-empty
    read, a scan, the change feed and the stream source agree. None
    only when there is no declaration and no file."""
    declared = (snap.meta or {}).get("schema")
    if declared is not None or not files:
        return declared
    import pyarrow.parquet as pq

    path = min(files)
    spark_json = (pq.read_metadata(path).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if spark_json is not None:
        return _nullability_norm(StructType.fromJson(json.loads(spark_json)))
    from pyspark.sql.pandas.types import from_arrow_schema

    return _nullability_norm(from_arrow_schema(pq.read_schema(path)))


def _scan_files(
    spark: SparkSession, snap, files: list[str], with_meta: bool = False
):
    """Scan specific data files of a resolved :class:`Snapshot` under
    its :func:`_table_schema` (so the scan plans without an inference
    job) with its deletion vectors applied — the read primitive every
    DML path (touched-file discovery, rewrite reads) shares with
    :func:`read_version` and :func:`optimize`, so no path can resurrect
    merge-on-read-deleted rows by reading a data file raw. Rows listed in
    a file's deletion vector are removed by ONE broadcast anti-join on
    ``(_metadata.file_path, _metadata.row_index)`` against the union of
    the referenced sidecars, read under :data:`_DV_SCHEMA`; files without
    a DV and ``with_meta=False`` keep the plain parquet scan.
    ``with_meta`` keeps ``__txlog_file``/``__txlog_pos`` provenance
    columns (reserved scratch names — a table using them fails analysis
    loudly). Under column mapping the scan is planned physical and
    projected to logical names (scan-meta scratch columns pass through),
    so DML predicates — written over logical names — resolve against any
    file vintage.

    Scale: the DV relation is bounded by the deleted-row count of the
    files being read — trickle-delete-sized by construction
    (:func:`delete_where` only routes small per-file fractions to a DV;
    :func:`optimize` reconciles accumulated DVs into rewrites, the same
    escape Delta documents when DVs grow)."""
    from pyspark.sql import functions as F

    meta = snap.meta
    mapping = _mapping_of(meta)
    schema = _table_schema(snap, files)
    if mapping:
        schema = _physical_ddl(schema, meta)
    dv_by_path = _dv_map(snap.actions)
    dv_dirs = sorted(
        {
            dv_by_path[p]["path"]
            for p in map(os.path.abspath, files)
            if p in dv_by_path
        }
    )
    scan = spark.read.schema(schema).parquet(*files)
    prov = ("__txlog_file", "__txlog_pos")
    if dv_dirs or with_meta:
        scan = scan.select(
            "*",
            F.col("_metadata.file_path").alias(prov[0]),
            F.col("_metadata.row_index").alias(prov[1]),
        )
    if dv_dirs:
        dv_rel = spark.read.schema(_DV_SCHEMA).parquet(*dv_dirs).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        scan = scan.join(
            F.broadcast(dv_rel),
            (F.col(prov[0]) == F.col("__dv_file"))
            & (F.col(prov[1]) == F.col("__dv_pos")),
            "left_anti",
        )
        if not with_meta:
            scan = scan.drop(*prov)
    if mapping:
        scan = _project_logical(scan, meta, keep=prov if with_meta else ())
    return scan


def _touched_files(
    spark: SparkSession, snap, files: list[str], match
) -> dict[str, tuple[str, int]]:
    """Touched-file discovery, shared by every rewrite: ``{path: (file
    URI, matching rows)}`` for the ``files`` (in their order) holding at
    least one row of ``match(scan)``, where ``match`` keeps the scan's
    matching rows. One DV-aware scan (rows a deletion vector removed can
    neither match nor keep a file touched) with the file name projected AT
    THE SCAN — post-filter provenance IS the scan row's provenance — and
    one per-file count: per-FILE metadata, bounded by file count."""
    from pyspark.sql import functions as F

    if not files:
        return {}
    scan = _scan_files(spark, snap, files, with_meta=True)
    rows = (
        match(scan)
        .groupBy("__txlog_file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hits = {_local_path(f): (f, n) for f, n in rows}
    return {
        p: hits[os.path.abspath(p)] for p in files if os.path.abspath(p) in hits
    }


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
) -> tuple[int, list[str]]:
    """Delta-style ``MERGE INTO`` (``WHEN MATCHED THEN UPDATE SET * /
    WHEN NOT MATCHED THEN INSERT *``) as a file-pruned copy-on-write
    rewrite. Returns ``(committed_version, touched_file_paths)``.

    The two-pass shape is Delta's own (PROTOCOL.md merge semantics over
    add/remove actions):

    1. **Touched-file discovery.** The source's key range prunes the
       snapshot via per-file stats (files that cannot contain a source
       key are never listed), then one semi join of the surviving
       files against the broadcast source keys finds the files holding
       a source key (:func:`_touched_files`). Files without a match are
       never rewritten.
    2. **Rewrite.** One full-outer join of the touched files' rows with
       the source on ``key``: matched rows take the source image
       (``UPDATE SET *`` — including nulls, which is why this is a
       side-indicator select, not a COALESCE), unmatched target rows
       pass through, source-only rows are the inserts (a source key
       that matches anywhere matches in a touched file BY DEFINITION,
       so anti-join-against-touched is exact, not approximate). The
       result commits as add(new files) + remove(touched files) under
       an ``expected_version`` guard. The new files carry stats on the
       table's stats columns (:func:`_write_files_checked`).

    Scale: the rewrite cost is O(touched files + source), never
    O(table) — on a range-clustered 100 TB table a delta-sized upsert
    rewrites a handful of files. The full-outer join shuffles only
    touched-rows ∪ source (both delta-sized); untouched files keep
    their add actions (and stats) unchanged in the snapshot.
    """
    from pyspark.sql import functions as F

    snap = _resolve(table_dir)
    cols = _read_snapshot(spark, table_dir, snap).columns
    src = source.select(*cols)

    # pass 1: prune by the source's key envelope, then find touched files
    # (row count, duplicate-key detection and the envelope share ONE
    # aggregation job: non-null count == distinct count iff no non-null
    # key repeats, so the common no-duplicates MERGE never launches the
    # separate dup-key probe job the pre-r13 form ran per call)
    n_src, n_key, n_key_distinct, lo, hi = src.agg(
        F.count(F.lit(1)),
        F.count(F.col(key)),
        F.count_distinct(F.col(key)),
        F.min(key),
        F.max(key),
    ).collect()[0]
    if n_src == 0:
        # empty source (a common CDC micro-batch): metadata-only no-op,
        # NO commit — same contract as delete_where/update_where, so
        # empty batches never grow the snapshot's action list
        return snap.version, []
    cand = (
        _files_in(snap, predicate_range=(key, lo, hi))
        if lo is not None
        else []  # only-NULL-key source: no file can be touched
    )
    # a key whose only occurrence is a merge-on-read-deleted row must NOT
    # touch the file (the key is absent from the table — a plain insert)
    keys = F.broadcast(src.select(key).distinct())
    touched = list(
        _touched_files(
            spark, snap, cand, lambda s: s.join(keys, key, "left_semi")
        )
    )

    # Delta MERGE semantics for duplicate source keys: duplicates that
    # match NO target row are plain multi-row inserts (allowed — the
    # full-outer join below emits each), but a TARGET row matched by
    # more than one source row is ambiguous (which image wins?) and
    # Delta fails the command — so do we, before any file is written.
    # Cost: rides the envelope aggregation above + (only when duplicates
    # exist at all) one semi probe of the touched files.
    if touched and n_key != n_key_distinct:
        # explicit alias: .count() would collide with a merge key that
        # is itself named "count" (ambiguous-reference AnalysisException)
        dup_keys = (
            src.where(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("__merge_key_n"))
            .where(F.col("__merge_key_n") > 1)
            .select(key)
        )
        clash = (
            _scan_files(spark, snap, touched)
            .join(F.broadcast(dup_keys), key, "left_semi")
            .select(key)
            .limit(1)
            .collect()
        )
        if clash:
            raise ValueError(
                f"MERGE source has multiple rows for key "
                f"{clash[0][key]!r}, which matches an existing target "
                "row — ambiguous UPDATE (Delta: 'multiple source rows "
                "matched'); de-duplicate the source first"
            )

    # pass 2: rewrite touched rows ∪ source in ONE full-outer join; the
    # __txlog_modified flag marks rows the MERGE actually changed
    # (source-image rows: matched updates + inserts) so constraint
    # enforcement can scope to them — a carried-along target row the
    # MERGE did not touch cannot INTRODUCE a violation, and refusing DML
    # over a legacy violation it didn't create would brick repair writes
    # (:func:`add_constraints` is the Delta ADD-CONSTRAINT-shaped guard
    # that keeps legacy violations out in the first place)
    marked = src.select(
        F.col(key),
        *[F.col(c).alias(f"__s_{c}") for c in cols if c != key],
        F.lit(True).alias("__src"),
    )
    if touched:
        # DV-aware rewrite read: raw file rows that a deletion vector
        # already removed must not be carried along (resurrection)
        tgt = _scan_files(spark, snap, touched)
        joined = tgt.join(marked, key, "full_outer")
        merged = joined.select(
            F.col(key),
            *[
                F.when(F.col("__src").isNotNull(), F.col(f"__s_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in cols
                if c != key
            ],
            F.col("__src").isNotNull().alias("__txlog_modified"),
        ).select(*cols, "__txlog_modified")
    else:
        # nothing matched anywhere: pure insert, every row is new
        merged = src.withColumn("__txlog_modified", F.lit(True))
    new_actions = _write_files_checked(
        merged, table_dir, snap.meta, live=snap.actions
    )
    version = commit(
        table_dir, add=new_actions, remove=touched,
        expected_version=snap.version + 1, operation="MERGE",
    )
    return version, touched


def delete_where(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    prune_range: tuple[str, object, object] | None = None,
    dv_fraction_threshold: float = 0.0,
) -> tuple[int, list[str]]:
    """Delta-style ``DELETE FROM table WHERE predicate`` as a file-pruned
    rewrite — copy-on-write by default, MERGE-ON-READ (deletion vectors)
    per touched file when the deleted fraction is small. Returns
    ``(committed_version, touched_files)`` — ``touched_files`` empty
    (and NO commit made) when nothing matched.

    Same two-pass shape as :func:`merge_into`:

    1. **Touched-file discovery.** ``prune_range=(col, lo, hi)`` first
       skips files whose committed stats cannot contain a matching row
       (driver-side, metadata only); one distributed DV-AWARE scan of
       the survivors then aggregates the per-file count of rows where
       the predicate is TRUE (rows an earlier DV already deleted can
       neither match nor keep a file touched) — per-FILE metadata,
       bounded by file count. Files with no match keep their add
       actions (and stats) untouched.
    2. **Per-file routing + rewrite.** With ``dv_fraction_threshold=f``
       (Delta's deletion-vector DML): a touched file whose matching
       fraction of LIVE rows is ≤ ``f`` gets a DELETION VECTOR instead
       of a rewrite — a parquet sidecar of ``(file, row position)``
       rows, merged with the file's existing DV and attached to its
       re-committed add action as ``{"dv": {"path", "cardinality"}}``;
       the data file is NOT rewritten, and every reader anti-joins the
       DV at scan time (:func:`_scan_files`). Files above the
       threshold (or without a recorded ``num_rows`` to judge by, or
       with ``f=0.0`` — the default, pure copy-on-write) are rewritten
       WITHOUT the matching rows (SQL DELETE semantics: a row is
       removed only when the predicate is TRUE — NULL keeps it, hence
       the ``coalesce`` guard) into new files that carry stats on the
       table's stats columns (:func:`_write_files_checked`), so the
       next DELETE can still route them. Both classes commit together as
       add(new/re-referenced) + remove(touched) under an
       ``expected_version`` guard.

    Scale: copy-on-write is O(touched files) DATA per commit; a
    deletion vector is O(deleted rows) — at 100 TB with trickle deletes
    (the GDPR erasure pattern: a few rows per file, daily) that is the
    difference between KB of sidecar and GB of rewrite per commit.
    Accumulated DVs are reconciled by compaction/OPTIMIZE (any rewrite
    through :func:`read_version` materializes the net rows and drops
    the DV with the replaced action) and their pre-images by
    :func:`vacuum`, which reclaims unreferenced sidecars like data
    files. Time travel and :func:`table_changes` see DV commits
    exactly: each version reads under its own DV state."""
    from pyspark.sql import functions as F

    snap = _resolve(table_dir)
    cand = _files_in(snap, predicate_range=prune_range)
    if not cand:
        return snap.version, []
    by_path = {_action_path(a): a for a in snap.actions}
    cond = F.coalesce(F.expr(predicate), F.lit(False))
    # the per-file match COUNT feeds the DV-vs-rewrite routing below
    hits = _touched_files(spark, snap, cand, lambda s: s.where(cond))
    if not hits:
        return snap.version, []  # no matching row anywhere: metadata-only no-op
    touched = list(hits)
    dv_class: list[str] = []
    rw_class: list[str] = []
    for p, (_, n) in hits.items():
        a = by_path[p]
        num_rows = a.get("num_rows")
        if dv_fraction_threshold > 0 and num_rows:
            old_card = ((a.get("dv") or {}).get("cardinality")) or 0
            live = int(num_rows) - int(old_card)
            if live > 0 and n / live <= dv_fraction_threshold:
                dv_class.append(p)
                continue
        rw_class.append(p)
    new_actions: list = []
    if rw_class:
        kept = _scan_files(spark, snap, rw_class).where(~cond)
        new_actions.extend(
            _write_files_checked(kept, table_dir, snap.meta, live=snap.actions)
        )
    if dv_class:
        new_actions.extend(
            _write_deletion_vectors(
                spark, table_dir, snap, dv_class, cond, by_path, hits
            )
        )
    version = commit(
        table_dir, add=new_actions, remove=touched,
        expected_version=snap.version + 1, operation="DELETE",
    )
    return version, touched


def _write_deletion_vectors(
    spark: SparkSession,
    table_dir: str,
    snap,
    files: list[str],
    cond,
    by_path: dict,
    hits: dict[str, tuple[str, int]],
) -> list[dict]:
    """Materialize ONE deletion-vector sidecar (parquet dir of
    ``(file, pos)`` rows) for a DELETE's dv-routed files and return
    their re-referenced add actions. The newly matching positions come
    from a DV-aware scan (so they are disjoint from the files' existing
    DVs by construction) and are UNIONED with the existing DV rows OF
    THESE FILES — Delta semantics: a file's new DV wholly replaces its
    old one, carrying all deletions to date. Rows the old sidecars hold
    for OTHER files are not copied (a shared sidecar stays referenced by
    those files' own actions; copying would leak stale positions across
    a later RESTORE). Per-file cardinality is counted by an
    :class:`~pyspark.sql.Observation` on the sidecar write itself, one
    ``count_if`` per file: the write stays one job and nothing is read
    back."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    scan = _scan_files(spark, snap, files, with_meta=True)
    newly = scan.where(cond).select(
        F.col("__txlog_file").alias("file"),
        F.col("__txlog_pos").alias("pos"),
    )
    uris = [hits[p][0] for p in files]
    old_dirs = sorted(
        {by_path[p]["dv"]["path"] for p in files if by_path[p].get("dv")}
    )
    if old_dirs:
        newly = newly.unionByName(
            spark.read.schema(_DV_SCHEMA)
            .parquet(*old_dirs)
            .where(F.col("file").isin(uris))
        )
    out = os.path.join(table_dir, "dv", uuid.uuid4().hex)
    obs = Observation()
    per_file = [
        F.count_if(F.col("file") == u).alias(f"n{i}") for i, u in enumerate(uris)
    ]
    newly.observe(obs, *per_file).write.parquet(out)
    counts = obs.get
    acts = []
    for i, p in enumerate(files):
        new_a = dict(by_path[p])
        new_a["dv"] = {"path": out, "cardinality": int(counts[f"n{i}"])}
        acts.append(new_a)
    return acts


def _nullability_norm(dt):
    """Recursively normalize every nullability flag in a type to True —
    Spark's expression analysis often resolves a literal-built array/
    struct as non-null-elements while the stored column (parquet default)
    is nullable-elements; store assignment must treat those as the SAME
    type (Spark's own ANSI policy ignores nullability for compatibility)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, ArrayType):
        return ArrayType(_nullability_norm(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullability_norm(dt.keyType), _nullability_norm(dt.valueType), True
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _nullability_norm(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _check_update_types(snap, set_exprs: dict[str, str]) -> None:
    """Reject an UPDATE whose SET expression cannot sensibly store into its
    target column — Delta's UPDATE fails analysis on a non-coercible type;
    a silent ``cast`` would turn ``SET price = name`` into NULLs instead.
    Resolution is analysis-only (no job): the expression's type comes from
    the snapshot's analyzed schema. Store-assignment policy (ANSI-shaped):
    exact type match (ignoring nullability at any nesting depth — an
    ``array('x')`` literal stores into an ARRAY<STRING> column), NULL
    literals, numeric→numeric, string→string, and date↔timestamp are
    coercible; everything else raises (including nested ELEMENT-type
    coercions like array<int>→array<long>, deliberately stricter than a
    silent deep cast)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DateType,
        NullType,
        NumericType,
        StringType,
        TimestampType,
    )

    resolved = snap.select(
        *[F.expr(e).alias(c) for c, e in set_exprs.items()]
    ).schema
    for f in resolved:
        src, dst = f.dataType, snap.schema[f.name].dataType
        ok = (
            _nullability_norm(src) == _nullability_norm(dst)
            or isinstance(src, NullType)
            or (isinstance(src, NumericType) and isinstance(dst, NumericType))
            or (isinstance(src, StringType) and isinstance(dst, StringType))
            or (
                isinstance(src, (DateType, TimestampType))
                and isinstance(dst, (DateType, TimestampType))
            )
        )
        if not ok:
            raise ValueError(
                f"UPDATE SET {f.name} = {set_exprs[f.name]!r}: expression "
                f"type {src.simpleString()} cannot store into column type "
                f"{dst.simpleString()}"
            )


def update_where(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    set_exprs: dict[str, str],
    prune_range: tuple[str, object, object] | None = None,
) -> tuple[int, list[str]]:
    """Delta-style ``UPDATE table SET col = expr, ... WHERE predicate``
    as a file-pruned copy-on-write rewrite. Returns
    ``(committed_version, touched_files)`` — ``touched_files`` empty
    (and NO commit made) when nothing matched.

    Same two-pass shape as :func:`delete_where`:

    1. **Touched-file discovery.** ``prune_range`` skips files whose
       committed stats cannot contain a matching row (driver-side,
       metadata only); one DV-aware scan of the survivors finds the
       files holding at least one row where the predicate is TRUE
       (:func:`_touched_files`).
    2. **Rewrite.** Touched files are rewritten with the SET
       expressions applied to matching rows ONLY (SQL UPDATE
       semantics: a NULL predicate leaves the row unchanged, hence the
       ``coalesce`` guard; every SET expression is evaluated against
       the PRE-update row image, so ``SET a = b, b = a`` swaps — one
       side-indicator select, not sequential assignment) and committed
       as add(new) + remove(touched) under an ``expected_version``
       guard. The new files carry stats on the table's stats columns
       (:func:`_write_files_checked`); untouched files keep their add
       actions (and stats) byte-unchanged.

    ``set_exprs`` maps existing column names to SQL expressions over
    the table's columns; an unknown column raises (UPDATE never adds
    columns — that is schema evolution's job), and a SET expression
    whose resolved type cannot store into the target column raises at
    analysis time (:func:`_check_update_types`) instead of silently
    NULLing data through a cast.

    Scale: O(touched files), never O(table) — repricing one key range
    of a range-clustered 100 TB table rewrites only the files whose
    stats envelope admits the predicate AND that actually contain a
    matching row. Pre-images stay time-travelable until
    :func:`vacuum`."""
    from pyspark.sql import functions as F

    snap = _resolve(table_dir)
    cand = _files_in(snap, predicate_range=prune_range)
    cur = _read_snapshot(spark, table_dir, snap)
    cols = cur.columns
    unknown = set(set_exprs) - set(cols)
    if unknown:
        raise ValueError(
            f"UPDATE SET references non-existent column(s) {sorted(unknown)}; "
            f"table columns are {cols}"
        )
    _check_update_types(cur, set_exprs)
    cond = F.coalesce(F.expr(predicate), F.lit(False))
    touched = list(
        _touched_files(spark, snap, cand, lambda s: s.where(cond))
    )
    if not touched:
        return snap.version, []  # no matching row anywhere: metadata-only no-op
    tgt = _scan_files(spark, snap, touched)
    # one select over the old row image: all SET expressions (and the
    # predicate) see pre-update values, and each output keeps the
    # column's original type (UPDATE never changes the schema). The
    # __txlog_modified flag marks the rows the predicate matched so
    # constraint enforcement scopes to rows this UPDATE actually changed
    # (a carried-along row cannot introduce a violation; see merge_into)
    updated = tgt.select(
        *[
            F.when(cond, F.expr(set_exprs[c]).cast(tgt.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else F.col(c)
            for c in cols
        ],
        cond.alias("__txlog_modified"),
    )
    new_actions = _write_files_checked(
        updated, table_dir, snap.meta, live=snap.actions
    )
    version = commit(
        table_dir, add=new_actions, remove=touched,
        expected_version=snap.version + 1, operation="UPDATE",
    )
    return version, touched


def zorder_value(
    cols: list[Column], mins: list[Column], maxs: list[Column], bits: int = 16
) -> Column:
    """Morton (Z-order) key: each column min-max normalized onto a
    2^bits grid, then bit-interleaved. Pure JVM bit arithmetic (shifts and
    ORs inside whole-stage codegen) — no UDF.

    The interleaved key must fit a signed 64-bit long: bits are clamped so
    ``bits * len(cols) <= 63`` (Java shiftleft wraps its distance mod 64, so
    overshooting would silently corrupt sort order rather than error)."""
    from pyspark.sql import functions as F

    bits = min(bits, 63 // len(cols))
    grid = (1 << bits) - 1
    normed = [
        F.when(mx > mn, ((c.cast("double") - mn) / (mx - mn) * grid))
        .otherwise(F.lit(0.0))
        .cast("bigint")
        for c, mn, mx in zip(cols, mins, maxs)
    ]
    z = F.lit(0).cast("bigint")
    n = len(normed)
    for bit in range(bits):
        for j, x in enumerate(normed):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(x, bit).bitwiseAND(F.lit(1)), bit * n + j)
            )
    return z


def optimize(
    spark: SparkSession,
    table_dir: str,
    zorder_by: list[str] | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Delta ``OPTIMIZE [ZORDER BY (cols)]``: rewrite the tip's live files
    into ``max(1, ceil(live bytes / target_file_bytes))`` files as ONE
    rewrite commit (add the new files, remove every live file,
    ``expected_version`` guarded, ``operation="OPTIMIZE"``). Returns the
    committed version; an empty snapshot commits nothing and returns the
    tip.

    The rows come from one DV-aware :func:`_scan_files` scan, so deletion
    vectors are reconciled into plain files (no new action carries a
    ``dv``). Without ``zorder_by`` the rows are bin-packed with a
    ``repartition``; with it they are range-partitioned and sorted on the
    :func:`zorder_value` Morton key of those (logical) columns, so every
    file is a small box in their space and a range predicate on ANY of
    them prunes files. The new files carry stats on the table's stats
    columns plus ``zorder_by`` (:func:`_write_files_checked`).
    ``target_file_bytes`` below 1 raises ``ValueError`` before any read.
    OPTIMIZE moves rows, never changes them: reads
    of the tip, time travel to earlier versions and :func:`table_changes`
    over the OPTIMIZE version (empty) all see that.

    Scale: one scan and one shuffle of the table's live bytes (plus one
    min/max aggregate and the range sampling with ``zorder_by``);
    pre-OPTIMIZE files stay on disk for time travel until
    :func:`vacuum`."""
    from pyspark.sql import functions as F

    if target_file_bytes < 1:
        raise ValueError(
            f"target_file_bytes must be at least 1, got {target_file_bytes}"
        )
    snap = _resolve(table_dir)
    meta = snap.meta
    files = _files_in(snap)
    if not files:
        return snap.version
    live_bytes = sum(os.path.getsize(p) for p in files)
    n_files = max(1, -(-live_bytes // target_file_bytes))
    rows = _scan_files(spark, snap, files)
    if zorder_by:
        k = len(zorder_by)
        bounds = rows.agg(
            *[F.min(c) for c in zorder_by], *[F.max(c) for c in zorder_by]
        ).first()
        z = zorder_value(
            [F.col(c) for c in zorder_by],
            [F.lit(b) for b in bounds[:k]],
            [F.lit(b) for b in bounds[k:]],
        )
        rows = (
            rows.withColumn("__z", z)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        rows = rows.repartition(n_files)
    return commit(
        table_dir,
        add=_write_files_checked(
            rows,
            table_dir,
            meta,
            _physical_stats_cols(zorder_by, meta),
            live=snap.actions,
        ),
        remove=files,
        expected_version=snap.version + 1,
        operation="OPTIMIZE",
    )


def rewrite_with_retry(
    table_dir: str,
    rewrite,
    max_attempts: int = 5,
    backoff_seconds: float = 0.05,
) -> int:
    """Run a guarded copy-on-write rewrite under optimistic concurrency
    (Delta's commit loop): ``rewrite(tip)`` computes the rewrite AGAINST
    the given tip and returns ``(add, remove)``; this helper commits it
    as ``tip + 1``. When a concurrent writer lands first, the attempt's
    remove-set was computed against a stale snapshot, so the helper
    backs off (exponential, bounded, jittered — two crash-looping
    writers must not stay phase-locked) and RE-RUNS ``rewrite`` against the new tip —
    re-deriving touched files from current state is the only generally
    safe response to a lost rewrite race (the competing commit may have
    rewritten the very files this attempt planned to remove). After
    ``max_attempts`` lost races the last :class:`ConcurrentCommitError`
    propagates: under that much contention the caller's scheduling — one
    writer per table partition, a queue — is the fix, not more retries.

    Blind appends don't need this: :func:`commit` without
    ``expected_version`` already rebases add-only commits internally.
    Completes the concurrency story pinned by
    ``test_concurrent_writers_arbitrate_through_the_log`` (arbitration)
    with liveness (every writer eventually lands).
    """
    import random
    import time as _time

    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    for attempt in range(max_attempts):
        tip = latest_version(table_dir)
        add, remove = rewrite(tip)
        try:
            return commit(
                table_dir,
                add=add,
                remove=list(remove or ()),
                expected_version=tip + 1,
            )
        except ConcurrentCommitError as e:
            last = e
            _time.sleep(
                backoff_seconds * (2**attempt) * (0.5 + random.random())
            )
    raise last


def restore(table_dir: str, version: int | None = None, timestamp=None) -> int:
    """Delta ``RESTORE TABLE ... VERSION AS OF`` (or ``TIMESTAMP AS
    OF`` via ``timestamp=`` — resolved to the last version committed at
    or before it, mutually exclusive with ``version=``): rewind the TIP
    to an earlier version's snapshot — where time travel READS the past,
    restore makes it the present for every future reader. Implemented as
    one ordinary guarded commit that re-adds the old version's file
    actions (stats included) and removes the current ones; METADATA-ONLY
    — no data file is read, written, or copied, which is what makes
    "undo the bad backfill on the 100 TB table" an O(KB) operation.
    History is preserved: the restore is itself a new version, and the
    pre-restore tip remains time-travelable (pinned in
    ``tests/test_txlog.py``).

    Two Delta-RESTORE safety properties:

    - **Existence check.** Re-added files must still exist — restoring
      past a :func:`vacuum` horizon would otherwise commit a tip whose
      every read throws; Delta's RESTORE fails the command up front and
      so does this (FileNotFoundError naming the missing files; nothing
      is committed).
    - **Metadata travels with the files.** The restore commit carries
      the TARGET version's metadata when it differs from the current
      one, so a restore across a schema evolution reads under the
      restored version's own schema, not the later one. (Metadata can
      only move FORWARD to the target's — a table that declared
      metadata after ``version`` and restores to a version that never
      had any keeps the current metadata: the log's fold cannot unset
      a metaData action, same as Delta where metadata always exists.)"""
    version = _resolve_travel(table_dir, version, timestamp, "restore")
    if version is None:
        raise ValueError("restore: pass version= or timestamp=")
    cur_snap = _resolve(table_dir)
    old_snap = _resolve(table_dir, version)
    # compare whole ACTIONS, not just paths: a path present in both
    # versions under a DIFFERENT action (a deletion vector attached, a
    # stats change) must be removed and re-added with the target
    # version's action, or the restore silently keeps the current
    # descriptor (e.g. rows a later DV DELETE removed stay dead)
    cur = {_action_path(a): a for a in cur_snap.actions}
    old = {_action_path(a): a for a in old_snap.actions}
    # existence must cover deletion-vector sidecars too: restoring a
    # version whose actions reference a vacuumed DV would commit a tip
    # whose every read throws at the anti-join load
    cur_dvs = {d["path"] for d in _dv_map(cur_snap.actions).values()}
    old_dvs = {d["path"] for d in _dv_map(old_snap.actions).values()}
    missing = sorted(
        p for p in old if p not in cur and not os.path.exists(p)
    ) + sorted(
        p for p in old_dvs if p not in cur_dvs and not os.path.exists(p)
    )
    if missing:
        raise FileNotFoundError(
            f"cannot restore {table_dir} to v{version}: {len(missing)} "
            f"data file(s) no longer exist (vacuumed past the restore "
            f"target), e.g. {missing[0]}"
        )
    return commit(
        table_dir,
        add=[a for p, a in old.items() if cur.get(p) != a],
        remove=[p for p, a in cur.items() if old.get(p) != a],
        expected_version=cur_snap.version + 1,
        metadata=old_snap.meta if old_snap.meta not in (None, cur_snap.meta) else None,
        operation="RESTORE",
    )


def table_metadata(table_dir: str, version: int | None = None) -> dict | None:
    """The table's governing metaData action as of ``version`` (default
    tip): ``{"schema": <DDL string>, "constraints": {name: predicate}}``
    — the LATEST metadata commit wins (schema evolution is just a new
    metadata commit). None if the table never declared metadata — which
    includes a FRESH table with no commits at all, whose initial
    snapshot declares nothing (``version=None`` only; asking for an
    explicit version of an empty log still raises), so
    :func:`validated_write` works as a table's first-ever write."""
    return _resolve(table_dir, version).meta


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """Top-level ``(name, type_rest)`` pairs of a ``name TYPE, ...`` DDL
    string, parsed without a Spark session (``<>``/``()`` nesting
    tracked so struct element commas don't split fields; backtick quotes
    stripped from names)."""
    fields: list[tuple[str, str]] = []
    depth, start = 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            part = ddl[start:i].strip()
            if part:
                name, _, rest = part.partition(" ")
                fields.append((name.strip("`"), rest.strip()))
            start = i + 1
    return fields


def _mapping_of(meta: dict | None) -> dict[str, str] | None:
    """The table's logical→physical column mapping, or None when the
    table never enabled one (the byte-identical pre-mapping path)."""
    return (meta or {}).get("column_mapping")


def _physical_name(meta: dict, logical: str) -> str:
    """Physical (on-disk parquet) name of a logical column under the
    metadata's mapping. A field absent from the mapping (added by a
    post-mapping schema evolution that didn't extend it) defaults to
    identity — UNLESS its identity name is tombstoned in
    ``dropped_physical``, where reading it would silently resurrect a
    DROPPED column's bytes: that raises instead (re-adding a dropped
    name needs a fresh physical name in the mapping)."""
    mapping = meta.get("column_mapping") or {}
    if logical in mapping:
        return mapping[logical]
    if logical in (meta.get("dropped_physical") or ()):
        raise ValueError(
            f"column {logical!r} was previously DROPPED and its physical "
            f"name is tombstoned; re-adding it requires a fresh physical "
            "name in column_mapping (old files still hold the dropped "
            "bytes under that name)"
        )
    if logical in set(mapping.values()):
        # the identity default would collide with a RENAMED column's
        # frozen physical name (rename 'a'->'x' freezes physical 'a';
        # re-adding logical 'a' by identity would alias x's bytes and
        # duplicate the physical schema) — fail loud at plan build, the
        # re-add needs a fresh physical name in the mapping (Delta
        # avoids the class entirely with unique col-<id> physicals)
        raise ValueError(
            f"column {logical!r}'s identity physical name is already in "
            "use by a renamed column; map the re-added column to a fresh "
            "physical name in column_mapping"
        )
    return logical


def _physical_ddl(declared: str, meta: dict) -> str:
    """The declared (logical) schema DDL re-keyed to physical names —
    what the parquet scan is planned with under column mapping; the
    logical projection happens after the scan."""
    return ", ".join(
        f"{_physical_name(meta, n)} {t}" for n, t in _ddl_fields(declared)
    )


def _project_logical(df, meta: dict, keep: tuple[str, ...] = ()):
    """Rename a physical-named frame to its logical column names
    (``keep`` names pass through untouched — scan-meta scratch
    columns). The inverse of :func:`_to_physical`."""
    from pyspark.sql import functions as F

    declared = meta["schema"]
    sel = [
        F.col(_physical_name(meta, n)).alias(n)
        for n, _ in _ddl_fields(declared)
    ]
    sel += [F.col(k) for k in keep]
    return df.select(*sel)


def _to_physical(df, meta: dict | None):
    """Rename a logical-named frame to physical column names for the
    parquet write — identity (the frame itself, no projection node)
    when the table has no mapping."""
    if not _mapping_of(meta):
        return df
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(_physical_name(meta, c)) for c in df.columns]
    )


def _physical_stats_cols(
    stats_cols: list[str] | None, meta: dict | None
) -> list[str]:
    """Translate logical stats column names to the physical names the
    written files (and so the committed per-file stats) carry."""
    if not _mapping_of(meta):
        return list(stats_cols or ())
    return [_physical_name(meta, c) for c in stats_cols or ()]


def rename_column(table_dir: str, old: str, new: str) -> int:
    """Delta ``ALTER TABLE ... RENAME COLUMN`` under column mapping
    (name mode): a METADATA-ONLY commit — no data file is read, written,
    or copied, which is what makes renaming a column of a 100 TB table
    an O(KB) operation. The first rename/drop on a table initializes the
    mapping as identity over the declared schema (existing files'
    physical names ARE their logical names at that instant — Delta's
    upgrade rule); physical names are frozen forever after, so every
    file ever written stays readable through the mapping, and time
    travel to pre-rename versions reads under THAT version's own names
    (each snapshot's metadata is self-consistent).

    Refuses: tables without a declared schema (the mapping is keyed by
    it), unknown/colliding names, and columns referenced by a CHECK
    constraint (the predicate text would silently stop matching —
    Delta's own DEPENDENT_COLUMN refusal).

    Cite: Delta Lake column mapping (PROTOCOL.md "Column Mapping",
    public docs "Rename and drop columns with Delta Lake column
    mapping"); the reference's production sink names Delta as its table
    format (repo:BASELINE.json)."""
    snap = _resolve(table_dir)
    meta = dict(snap.meta or {})
    declared = meta.get("schema")
    if declared is None:
        raise ValueError(
            "rename_column requires a declared table schema (commit "
            "metadata first) — the column mapping is keyed by it"
        )
    fields = _ddl_fields(declared)
    names = [n for n, _ in fields]
    if old not in names:
        raise ValueError(f"cannot rename {old!r}: not a table column ({names})")
    if new in names:
        raise ValueError(f"cannot rename {old!r} to {new!r}: name already exists")
    _check_constraint_dependency(meta, old, "rename")
    mapping = dict(
        meta.get("column_mapping") or {n: n for n in names}
    )
    # a column added by post-mapping schema evolution may be absent from
    # the mapping (identity-default on the read/write path) — its frozen
    # physical name IS its logical name
    mapping[new] = mapping.pop(old, old)
    meta["column_mapping"] = mapping
    meta["schema"] = ", ".join(
        f"{new if n == old else n} {t}" for n, t in fields
    )
    return commit(
        table_dir,
        add=[],
        metadata=meta,
        expected_version=snap.version + 1,
        operation="RENAME COLUMN",
    )


def drop_column(table_dir: str, col: str) -> int:
    """Delta ``ALTER TABLE ... DROP COLUMN`` under column mapping: a
    METADATA-ONLY commit that removes the column from the declared
    schema and TOMBSTONES its physical name (``dropped_physical``) — no
    file is rewritten; the bytes stay on disk, invisible to every
    reader, and time travel before the drop still sees them. The
    tombstone is what keeps a later re-add of the same logical name
    from silently resurrecting the dropped bytes
    (:func:`_physical_name` raises unless the re-add maps to a fresh
    physical name). Same refusals as :func:`rename_column`, plus the
    last remaining column (a table must keep a schema)."""
    snap = _resolve(table_dir)
    meta = dict(snap.meta or {})
    declared = meta.get("schema")
    if declared is None:
        raise ValueError(
            "drop_column requires a declared table schema (commit "
            "metadata first) — the column mapping is keyed by it"
        )
    fields = _ddl_fields(declared)
    names = [n for n, _ in fields]
    if col not in names:
        raise ValueError(f"cannot drop {col!r}: not a table column ({names})")
    if len(names) == 1:
        raise ValueError("cannot drop the table's only column")
    _check_constraint_dependency(meta, col, "drop")
    mapping = dict(
        meta.get("column_mapping") or {n: n for n in names}
    )
    # identity-default for evolution-added columns, as in rename_column
    phys = mapping.pop(col, col)
    meta["column_mapping"] = mapping
    meta["dropped_physical"] = sorted(
        set(meta.get("dropped_physical") or ()) | {phys}
    )
    meta["schema"] = ", ".join(f"{n} {t}" for n, t in fields if n != col)
    return commit(
        table_dir,
        add=[],
        metadata=meta,
        expected_version=snap.version + 1,
        operation="DROP COLUMN",
    )


def _check_constraint_dependency(meta: dict, col: str, verb: str) -> None:
    """Refuse renaming/dropping a column a CHECK constraint references —
    the predicate text would silently stop matching rows (Delta fails
    the ALTER the same way). Word-boundary textual match: conservative
    (a same-named identifier inside a string literal also refuses),
    which errs loud, never silent."""
    import re

    pat = re.compile(rf"\b{re.escape(col)}\b")
    for name, pred in (meta.get("constraints") or {}).items():
        if pat.search(pred):
            raise ValueError(
                f"cannot {verb} column {col!r}: CHECK constraint "
                f"{name!r} ({pred}) references it — drop the constraint "
                "first"
            )


class ConstraintViolation(ValueError):
    """A validated write found rows violating a table CHECK constraint."""


class SchemaMismatch(ValueError):
    """A validated write's DataFrame schema differs from the table's."""


def validated_write(
    df: DataFrame,
    table_dir: str,
    stats_cols: list[str] | None = None,
    evolve: bool = False,
) -> list:
    """Schema-enforcing, constraint-checking :func:`write_files` — the
    Delta write path (schema enforcement + CHECK constraints, both
    public table features). Against the table's governing metadata:

    - **Schema enforcement**: the DataFrame's schema DDL must equal the
      declared schema exactly (names, order, types, containing no
      surprise columns — the guard that keeps a 1000-writer lake table
      from silently diverging). ``evolve=True`` widens instead: the
      caller acknowledges the change, and the NEW schema should be
      committed as metadata alongside the files (Delta's
      ``mergeSchema`` handshake).
    - **CHECK constraints**: every declared predicate is evaluated in
      ONE distributed aggregate over the batch (sum of violation
      flags, zero data re-read); any violation raises
      :class:`ConstraintViolation` naming the constraint and the
      violating row count — the files are never written, so nothing
      needs cleanup.

    Returns the add actions exactly like :func:`write_files`; the
    caller still commits them (validation is write-side, atomicity is
    the commit's).

    The write is the DML path's :func:`_write_files_checked` with every
    row flagged modified: with declared constraints the frame is
    PERSISTED across the check and the write, so a constrained append
    evaluates its source plan once and the rows checked are the rows
    written (``persist`` is a cache, not a barrier — see there). Without
    constraints the write is exactly :func:`write_files` — no persist,
    no extra job."""
    meta = table_metadata(table_dir) or {}
    declared = meta.get("schema")
    if declared is not None and not evolve:
        got = df.schema.simpleString()
        want = df.sparkSession.createDataFrame([], declared).schema.simpleString()
        if got != want:
            raise SchemaMismatch(
                f"write schema {got} does not match the table's declared "
                f"schema {want}; pass evolve=True (and commit new "
                "metadata) to change the table's schema deliberately"
            )
    from pyspark.sql import functions as F

    return _write_files_checked(
        df.withColumn("__txlog_modified", F.lit(True)),
        table_dir,
        meta,
        _physical_stats_cols(stats_cols, meta),
    )


def _enforce_constraints(df: DataFrame, meta: dict | None) -> None:
    """Evaluate every declared CHECK constraint against ``df`` in ONE
    distributed aggregate (sum of violation flags); raise
    :class:`ConstraintViolation` naming the constraint and the violating
    row count. Shared by :func:`validated_write`, the fused DML write
    path (:func:`_write_files_checked` — UPDATE/MERGE, scoped to
    modified rows over a persisted frame), and
    :func:`add_constraints`'s existing-data validation — Delta enforces
    CHECK constraints on every write path, so a declared ``price > 0``
    must refuse an UPDATE that drives prices negative exactly as it
    refuses a fresh write. A NULL predicate result counts as satisfied
    (SQL CHECK semantics)."""
    from pyspark.sql import functions as F

    constraints = (meta or {}).get("constraints") or {}
    if not constraints:
        return
    aggs = [
        F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(name)
        for name, pred in constraints.items()
    ]
    row = df.agg(*aggs).collect()[0]
    for name in constraints:
        bad = row[name] or 0
        if bad > 0:
            raise ConstraintViolation(
                f"CHECK constraint '{name}' "
                f"({constraints[name]}) violated by {bad} row(s); "
                "write refused"
            )


def _write_files_checked(
    flagged: DataFrame,
    table_dir: str,
    meta: dict | None,
    stats_cols=(),
    live=(),
) -> list:
    """The one write step of every rewrite (MERGE, UPDATE, DELETE's
    rewrite class, :func:`optimize`) and of :func:`validated_write`:
    write ``flagged`` under the table's physical column names
    (:func:`_to_physical`) and return the add actions. It owns four
    things:

    - **Stats.** The new files carry stats on every column any of
      ``live`` has stats for, plus ``stats_cols`` (physical names — the
      seeding list of :func:`validated_write`, ``zorder_by`` for
      OPTIMIZE). A rewrite passes its resolved snapshot's live actions,
      so it keeps the table's stats columns: no caller restates them,
      and a table without stats gets none (Delta's
      ``dataSkippingStatsColumns`` is a table property too).
    - **The physical-name filter.** Logged stats keys are already
      physical names; a kept one must still be a column of the physical
      frame — a DROPPED column's key names no column any more.
    - **The write.** :func:`write_files` of the physical frame; stats
      come from the new files' footers, no job of their own.
    - **The modified-rows CHECK.** A frame carrying a boolean
      ``__txlog_modified`` column marks the rows the command actually
      changed; with declared constraints, :func:`_enforce_constraints`
      runs over those rows only (a carried-along row cannot INTRODUCE a
      violation — legacy violations are :func:`add_constraints`'s job
      to keep out, Delta's own split) and a violation refuses the whole
      command, nothing written. A frame without the column (a DELETE's
      surviving rows, OPTIMIZE's moved rows) changes no row and is not
      checked.

    With a check the frame is persisted across it and the write, so the
    touched∪source input is SCANNED ONCE per DML, and with a
    non-deterministic MERGE source the rows checked are the rows
    written. Without one the write is exactly :func:`write_files`: no
    persist, no extra job.

    CAVEAT — ``persist`` is a cache, not a barrier: a lost or evicted
    cached partition is RECOMPUTED from the source plan, so under
    executor loss a non-deterministic MERGE source could still produce
    written rows that differ from the rows the aggregate validated.
    Spark's reliable barriers (``localCheckpoint(eager=True)`` /
    ``checkpoint``) close that window at the cost of always
    materializing; callers with genuinely non-deterministic sources
    should checkpoint the source themselves before the DML — the common
    case (sources that are reads of immutable data) is exact under
    plain persist, which is why the default stays the cheap one."""
    from pyspark.sql import functions as F

    check = bool((meta or {}).get("constraints")) and (
        "__txlog_modified" in flagged.columns
    )
    if check:
        flagged = flagged.persist()
    try:
        if check:
            _enforce_constraints(
                flagged.where(F.col("__txlog_modified")), meta
            )
        out = _to_physical(flagged.drop("__txlog_modified"), meta)
        phys = out.columns
        had = dict.fromkeys(c for a in live for c in a.get("stats", {}))
        cols = [c for c in had if c in phys] + list(stats_cols)
        return write_files(out, table_dir, stats_cols=list(dict.fromkeys(cols)))
    finally:
        if check:
            flagged.unpersist()


def add_constraints(
    spark: SparkSession, table_dir: str, constraints: dict[str, str]
) -> int:
    """Delta ``ALTER TABLE ... ADD CONSTRAINT``: validate the EXISTING
    tip data against the new predicates (one distributed aggregate over
    the current snapshot — Delta's ADD CONSTRAINT does exactly this full
    validation scan), then commit the merged constraint set as table
    metadata under an ``expected_version`` guard (a writer landing
    between the validation and the commit could introduce a violation
    the scan never saw — the lost race re-raises as
    :class:`ConcurrentCommitError` and the caller re-runs).

    This is the declared-time half of the enforcement split: DML
    enforcement scopes to the rows a command actually modified, which is
    only sound because this entry point refuses to DECLARE a constraint
    over data that already violates it. A raw ``commit(metadata=...)``
    can still declare unvalidated constraints (the protocol layer stays
    policy-free), accepting that legacy violations then live outside any
    DML's responsibility."""
    snap = _resolve(table_dir)
    meta = dict(snap.meta or {})
    if snap.actions:
        _enforce_constraints(
            _read_snapshot(spark, table_dir, snap), {"constraints": constraints}
        )
    merged = dict(meta.get("constraints") or {})
    merged.update(constraints)
    meta["constraints"] = merged
    return commit(
        table_dir,
        add=[],
        metadata=meta,
        expected_version=snap.version + 1,
        operation="ADD CONSTRAINT",
    )


def count_rows(table_dir: str, version: int | None = None) -> int | None:
    """Metadata-only ``COUNT(*)`` (Delta answers unfiltered counts from
    per-file ``numRecords`` in the log): sum the ``num_rows`` every
    stats-collecting writer recorded per file. Returns None — refusing,
    not guessing — if ANY live file lacks a recorded count (e.g. it was
    added by a stats-less writer); callers then fall back to a scan. A
    fresh table with no commits (the initial snapshot) has nothing to
    count: also None (``version=None`` only; an explicit version still
    raises). O(actions) driver-side fold, zero data read."""
    snap = _resolve(table_dir, version)
    if snap.version < 0:
        return None
    total = 0
    for a in snap.actions:
        if "num_rows" not in a:
            return None
        dv = a.get("dv") or {}
        if dv and dv.get("cardinality") is None:
            return None  # a DV of unknown size makes the count unknowable
        # merge-on-read: the file's live count is rows minus its
        # deletion vector's cardinality (Delta nets numRecords the same)
        total += int(a["num_rows"]) - int(dv.get("cardinality") or 0)
    return total


def history(table_dir: str) -> list[dict]:
    """Delta ``DESCRIBE HISTORY`` twin: one audit row per committed
    version, oldest first — the recorded ``operation`` (falling back to
    an add/remove-shape classification for commits that predate the
    field), file counts, rows added (when every add action carries
    ``num_rows``; None otherwise — refusing, not guessing, same contract
    as :func:`count_rows`), the txn app id, and whether the commit
    changed table metadata. Pure driver-side log fold, O(commits),
    KB-sized JSON each — the log IS the audit trail, no data read.

    Reference parity: the reference's own sink is the Aiven S3
    connector writing JSONL (``/root/reference/connectors/s3-sink.json:10``);
    the Delta-parity justification is ``repo:BASELINE.json``'s approach
    line ("Structured Streaming + Kafka + Delta"), whose Delta sink
    exposes DESCRIBE HISTORY for exactly this "what changed the table,
    when" audit."""
    rows: list[dict] = []
    for v, payload in enumerate(_commits(table_dir, 0, latest_version(table_dir))):
        add = payload.get("add") or []
        remove = payload.get("remove") or []
        meta = payload.get("metadata")
        op = payload.get("operation")
        if op is None:  # legacy commits: classify by action shape
            if add and remove:
                op = "REWRITE"
            elif add:
                op = "WRITE"
            elif remove:
                op = "DELETE"
            elif meta is not None:
                op = "SET METADATA"
            else:
                op = "EMPTY"
        rows_added = None
        if add and all("num_rows" in a for a in add):
            rows_added = sum(int(a["num_rows"]) for a in add)
        rows.append(
            {
                "version": v,
                "operation": op,
                "n_add": len(add),
                "n_remove": len(remove),
                "rows_added": rows_added,
                "txn_app_id": (payload.get("txn") or {}).get("app_id"),
                "metadata_changed": meta is not None,
            }
        )
    return rows


def vacuum(
    table_dir: str,
    dry_run: bool = False,
    retention_versions: int = 0,
    data_grace_seconds: float = 600.0,
) -> list[str]:
    """Delete data files referenced by NO retained snapshot and return
    their paths (Delta ``VACUUM``). ``retention_versions=N`` keeps every
    file live in ANY of the newest ``N+1`` snapshots
    (``tip-N .. tip``) — the version-granular twin of Delta's
    ``RETAIN n HOURS``, so concurrent readers of recent versions finish
    even while vacuum runs (pinned in ``tests/test_txlog.py``); the
    default ``0`` reclaims everything outside the tip.

    Copy-on-write rewrites (compaction, MERGE, deletes) strand their
    pre-images on disk for time travel; vacuum is the explicit,
    destructive end of that window. After it runs, reads of any RETAINED
    version are bit-identical (vacuum never touches their files) and
    time travel past the horizon fails loudly at read time — pinned in
    ``tests/test_txlog.py``. ``dry_run=True`` lists without deleting.
    The walk is metadata-only: one pass over the log, reading each
    commit once, plus O(files on disk); no data read.

    **Uncommitted-writer safety**: a concurrent writer's
    :func:`write_files` output sits on disk referenced by NO commit
    until its :func:`commit` lands. Files the log has NEVER referenced
    are therefore reclaimed only when older than ``data_grace_seconds``
    (default 10 min — ample for the write→commit gap): without the
    grace, vacuuming during a live write deletes files the writer is
    about to commit and the new tip is permanently unreadable — the same
    in-flight-transaction hazard behind Delta VACUUM's refusal of
    short retention windows. **The grace is a deadline, not a proof**:
    ``data_grace_seconds`` must exceed the longest expected write→commit
    gap on the cluster (a large distributed write, a stalled executor,
    writer/vacuum-host clock skew) — a writer slower than the grace can
    still lose its pending files and its upcoming tip with them. Delta
    defaults the equivalent window to 7 DAYS for exactly this reason;
    the 10-min default here suits the single-host test profile, so
    raise it for production fleets. To make breaches auditable, every
    reclaimed never-referenced file (old-but-uncommitted — the only
    class the hazard applies to) is logged at WARNING with its age,
    separately from stranded pre-images, which are the normal,
    log-governed case. Files that SOME commit did reference
    (stranded pre-images of rewrites) are governed purely by
    ``retention_versions`` — age-irrelevant, reclaimed immediately when
    outside the retained window, exactly as before.

    Also sweeps ``*.tmp`` files stranded in ``_txlog/`` by a writer that
    crashed between publishing and unlinking its private temp file
    (harmless to readers — the log listing only folds ``*.json`` — but
    they accumulate). Temp files younger than :data:`_TMP_GRACE_SECONDS`
    are kept: an IN-FLIGHT committer holds its tmp only for the
    instants between fsync and ``os.link``, so the grace window makes
    sweeping safe against live writers. Swept tmp files are NOT part of
    the return value — the returned list means reclaimed DATA files
    only, so reclaim accounting stays byte-meaningful.

    Deletion-vector sidecars are governed identically (they are row
    data: deleted positions): a sidecar DIR referenced by a retained
    action stays, one referenced only by reclaimed versions is swept
    with them (its part files appear in the returned list), and a
    never-referenced young sidecar gets the same in-flight grace —
    :func:`delete_where` writes the sidecar before its commit lands.
    """
    import time as _time

    now = _time.time()
    tip = latest_version(table_dir)
    keep_from = max(0, tip - max(0, retention_versions))
    # ONE forward pass over the log. The actions live in any retained
    # snapshot (tip-N .. tip) are the snapshot at tip-N plus every later
    # add. ``ever`` holds every action ANY commit added: a data file it
    # never names was never committed — either garbage from a crashed
    # writer (old) or an IN-FLIGHT writer's pending output (young,
    # protected below). Deletion-vector sidecar DIRS are tracked the same
    # way: a sidecar is row data (deleted positions) whose lifecycle
    # follows its actions.
    snap: dict = {}
    retained: list = []
    ever: list = []
    for v, c in enumerate(_commits(table_dir, 0, tip)):
        _fold(snap, c)
        ever.extend(c.get("add") or ())
        if v == keep_from:
            retained = list(snap.values())
        elif v > keep_from:
            retained.extend(c.get("add") or ())

    def refs(acts) -> tuple[set[str], set[str]]:
        """(data file paths, deletion-vector sidecar dirs) of actions —
        per ACTION, not through the path-keyed :func:`_dv_map`: two
        retained actions on one data file can carry different sidecars,
        and both stay referenced."""
        return (
            {os.path.abspath(_action_path(a)) for a in acts},
            {
                os.path.abspath(a["dv"]["path"])
                for a in acts
                if a.get("dv")
            },
        )

    def stale(p: str, warning: str) -> bool:
        """Whether never-committed ``p`` is past the in-flight grace. A
        path that vanished or is younger than ``data_grace_seconds``
        (likely an in-flight writer's pending output) is kept; an old
        one — the one class the in-flight-writer hazard applies to — is
        logged with ``warning`` so operators can audit whether
        ``data_grace_seconds`` is shorter than real writes."""
        try:
            age = now - os.stat(p).st_mtime
        except FileNotFoundError:
            return False  # vanished concurrently: nothing to reclaim
        if age <= data_grace_seconds:
            return False
        logging.getLogger(__name__).warning(
            warning,
            "would reclaim (dry run)" if dry_run else "reclaiming",
            p,
            age,
            data_grace_seconds,
        )
        return True

    live, live_dv = refs(retained)
    ever_referenced, ever_dv = refs(ever)
    victims = []
    for dirpath, _, files in os.walk(os.path.join(table_dir, "data")):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.abspath(os.path.join(dirpath, f))
            if p in live:
                continue
            if p not in ever_referenced and not stale(
                p,
                "vacuum %s never-committed file %s (age %.0fs > "
                "data_grace_seconds=%.0fs); if a live writer is "
                "slower than the grace, raise data_grace_seconds",
            ):
                continue
            victims.append(p)
    # deletion-vector sidecars: the retention unit is the sidecar DIR
    # (one descriptor path = one spark write: part files + _SUCCESS
    # markers), removed WHOLE so a later restore's existence probe sees
    # the truth — its parquet part files join the returned victims
    dv_rm_dirs: list[str] = []
    dv_root = os.path.join(table_dir, "dv")
    if os.path.isdir(dv_root):
        for entry in sorted(os.listdir(dv_root)):
            d = os.path.abspath(os.path.join(dv_root, entry))
            if not os.path.isdir(d) or d in live_dv:
                continue
            if d not in ever_dv and not stale(
                d,
                "vacuum %s never-committed deletion-vector sidecar %s "
                "(age %.0fs > data_grace_seconds=%.0fs)",
            ):
                continue
            dv_rm_dirs.append(d)
            for dp, _, fs in os.walk(d):
                victims.extend(
                    os.path.abspath(os.path.join(dp, f))
                    for f in fs
                    if f.endswith(".parquet")
                )
    ldir = _log_dir(table_dir)
    tmp_sweeps: list[str] = []
    if os.path.isdir(ldir):
        for f in os.listdir(ldir):
            if not f.endswith(".tmp"):
                continue
            p = os.path.abspath(os.path.join(ldir, f))
            with contextlib.suppress(FileNotFoundError):
                if now - os.stat(p).st_mtime > _TMP_GRACE_SECONDS:
                    tmp_sweeps.append(p)
    if not dry_run:
        import shutil

        for p in victims + tmp_sweeps:
            with contextlib.suppress(FileNotFoundError, IsADirectoryError):
                os.remove(p)
        for d in dv_rm_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return sorted(victims)


def last_txn(table_dir: str, app_id: str) -> int | None:
    """Highest ``batch_id`` committed under ``app_id``, or None — the
    foreachBatch idempotence check (skip when ``batch_id <= last_txn``)."""
    b = _resolve(table_dir).txns.get(app_id)
    return int(b) if b is not None else None


def table_changes(
    spark: SparkSession,
    table_dir: str,
    start_version: int | None = None,
    end_version: int | None = None,
    key: str = "id",
    starting_timestamp=None,
    ending_timestamp=None,
) -> DataFrame:
    """Per-commit change-data rows for versions ``start..end`` — the
    Delta ``table_changes`` (Change Data Feed) read, reconstructed from
    the commit metadata the DML entry points already leave behind:
    every copy-on-write commit names exactly WHICH files entered
    (``add``) and left (``remove``) the snapshot, and its stamped
    ``operation`` says what the writer meant. Emits one row per changed
    row image with ``_change_type`` in ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage``, plus the commit's
    ``_commit_version`` and stamped ``_operation`` (underscore-prefixed
    like Delta's own CDF meta columns, keeping the feed out of the user
    namespace; a table whose data already uses a reserved meta name
    raises at plan build instead of silently colliding).

    The range is planned once, on the driver, by the planner the
    streaming ``readChangeFeed`` runs (``sources.txlog_stream``); one row
    per planned part goes into a local DataFrame, and ``mapInArrow``
    reads each part through the stream's own per-part read and arrow
    diff, so batch and streaming feeds cannot drift. Per version the
    feed is a key diff of the REMOVED files (the pre-image side) against
    the ADDED files (the post-image side):

    - add-only commit (append / initial WRITE): every added row is an
      ``insert`` — no diff;
    - rewrite commit: full-outer on ``key``; a key only in the post side
      is an ``insert``, only in the pre side a ``delete``, in both with a
      changed image an ``update_preimage`` + ``update_postimage`` pair,
      and in both with an IDENTICAL image (Spark ``eqNullSafe``
      semantics: NaN equals NaN, nested types compare structurally) an
      unchanged copy the rewrite carried along — dropped, it is not a
      change;
    - OPTIMIZE commit: nothing — it moves rows and changes none (Delta
      marks it ``dataChange=false``).

    Deletion-vector commits diff the same way — each side reads under
    ITS version's DV state, so a DV DELETE feeds exactly the
    newly-deleted rows. Cost per version is O(churned files), never
    O(table): an append plans one part per added file, a rewrite one
    part carrying its churn, and Spark slices the parts into at most
    ``defaultParallelism`` tasks.

    The feed is served in the END version's declared schema (Delta CDF
    semantics: files written before an evolution null-fill the new
    columns; under column mapping, files of every vintage read through
    the END version's physical names). A table without a declared
    schema is typed from one footer (:func:`_table_schema`) of the
    range's part files, or of END's live files when the range plans no
    part — the schema :func:`read_version` plans with.

    ``key`` must be a data column of the feed (anything else raises
    when the feed is built) and must UNIQUELY identify rows within every
    DIFFED (rewrite) commit the way the table's DML used it (the same
    contract :func:`merge_into` places on its ``key``); a duplicated
    non-NULL key on either side of a diffed commit would cross-product
    into a silently wrong feed, so the read FAILS LOUD when that
    commit's task runs. Building the feed runs no job; a deliberately partial
    evaluation (``limit(1)`` satisfied by another version) can finish
    without reaching the offending commit. NULL keys are exempt because
    NULL never equi-joins: a NULL-key row's pre and post images can
    never pair, so a rewrite that carries one along (even UNCHANGED)
    emits a faithful-but-unpaired ``delete`` + ``insert`` instead of an
    update pair or a drop — net-equivalent to any downstream applier,
    just not minimal (pinned in ``tests/test_txlog.py``).

    A range that plans no change — metadata-only or OPTIMIZE commits —
    returns an EMPTY feed in the end-version schema (Delta's
    ``table_changes`` contract — pollers distinguish "no changes" from a
    bad call by row count, not by catching errors); only a range outside
    the log raises.

    The range can be given on the TIMESTAMP axis instead (Delta pairs
    every CDF version argument with a timestamp form):
    ``starting_timestamp`` resolves to the FIRST version committed at
    or after it (raising when it lies past the tip — no changes exist
    there) and ``ending_timestamp`` to the LAST version committed at or
    before it, both through :func:`version_at_timestamp`; each axis is
    mutually exclusive with its version twin.

    Reference parity: the reference's downstream consumers
    read per-operation change rows off the wire log
    (``/root/reference/README.md:86-125``); this is the same feed
    recovered from the TABLE's own history, no wire log needed."""
    from change_data_capture_spark.sources import txlog_stream

    ts_stamps = (
        commit_timestamps(table_dir)
        if starting_timestamp is not None or ending_timestamp is not None
        else None
    )
    if starting_timestamp is not None:
        if start_version is not None:
            raise ValueError(
                "table_changes: pass start_version= or "
                "starting_timestamp=, not both"
            )
        start_version = version_at_timestamp(
            table_dir, starting_timestamp, mode="at_or_after", stamps=ts_stamps
        )
    if start_version is None:
        raise ValueError(
            "table_changes: a range start is required — start_version= "
            "or starting_timestamp="
        )
    if ending_timestamp is not None:
        if end_version is not None:
            raise ValueError(
                "table_changes: pass end_version= or ending_timestamp=, "
                "not both"
            )
        end_version = version_at_timestamp(
            table_dir, ending_timestamp, stamps=ts_stamps
        )
    # END's snapshot types the feed and bounds the range: one listing
    snap = _resolve(table_dir, end_version)
    end = snap.version
    if not 0 <= start_version <= end:
        raise ValueError(
            f"table_changes range [{start_version}, {end}] outside the "
            f"log's committed range (start must lie in [0, {end}])"
        )
    parts = txlog_stream._cdf_partitions(table_dir, start_version - 1, end, key)
    # the feed's meta columns live in the Delta-style underscore
    # namespace (:func:`_cdf_schema` refuses a table whose data uses one).
    # The feed is typed like every txlog read (:func:`_table_schema`): the
    # declaration when END has one (no file opened), else one footer of
    # the range's part files, or of END's live files for a range that
    # plans no part
    paths = {p for part in parts for p, _ in txlog_stream._sides(part)}
    base = _table_schema(snap, paths or _files_in(snap))
    if base is None:
        raise ValueError(
            f"table_changes range [{start_version}, {end}] of "
            f"{table_dir} has no row changes, and the table has no "
            "data files or declared schema to type an empty feed with"
        )
    schema = _cdf_schema(base)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    fields = txlog_stream._data_fields(schema, snap.meta, True)
    txlog_stream._check_key(key, fields)

    def read(batches):
        for b in batches:
            for blob in b.column(0).to_pylist():
                part = pickle.loads(blob)
                yield from txlog_stream._read_part(part, fields, True).to_batches()

    # one row per planned part, in at most defaultParallelism slices and
    # never more slices than rows: an empty slice still costs a Python
    # worker round trip. Zero rows read as the typed empty feed.
    sc = spark.sparkContext
    rows = sc.parallelize(
        [(pickle.dumps(p),) for p in parts],
        min(len(parts), sc.defaultParallelism) or 1,
    )
    return spark.createDataFrame(rows, "part BINARY").mapInArrow(read, schema)
