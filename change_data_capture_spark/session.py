"""SparkSession construction and runtime configuration.

Two entry points:

- ``get_spark()``            — build a tuned local session (tests / bench).
- ``ensure_runtime_confs()`` — idempotently apply the runtime-settable confs
  this engine depends on to an *externally owned* session (the driver harness
  builds its own ``SparkSession`` and hands it to ``__spark_entry__`` — we must
  not assume it was built with our builder).

Why each conf matters at 100 TB:

- ``spark.sql.adaptive.enabled`` + skew-join: runtime re-planning fixes
  mis-estimated shuffle sizes and splits skewed partitions (CDC keys are
  naturally skewed — hot rows update often).
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics;
  the DuckDB oracle computes naive/UTC wall-times.
- ``spark.sql.legacy.parquet.nanosAsLong=true``: the driver fixtures store
  ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark 4 otherwise refuses
  to read; we read the raw int64 nanos and convert precisely (see
  ``sources.tables``).
- shuffle partitions sized to cores for local runs; on a real cluster AQE
  coalesces post-shuffle partitions so a larger initial number is safe.
- ``spark.sql.optimizer.nestedSchemaPruning.enabled``: a parquet or ORC scan
  reads only the struct fields a query references. A JSON scan gets no
  such pruning, so the envelope readers pass the decoded fields'
  projection themselves (``schemas.envelope_read_schema``).
- ``spark.python.sql.dataFrameDebugging.enabled=false`` (builder only — a
  static conf, so a host session keeps its own error context): PySpark
  otherwise captures the Python call site on every ``Column`` method and
  ``F.col``, several py4j round trips each. Building
  ``scd2(decode_envelope(read_envelope_ndjson(...)))`` takes 843 round
  trips with capture on and 232 with it off (``change_log``: 739 → 179).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs that are settable on a live session (SQL confs). Applied by every
#: public query entry point so the engine works inside any host session.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # nested-schema pruning for struct columns at parquet and ORC scans
    # (JSON scans are not pruned: the envelope readers pass a projection)
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
}


def _shuffle_partitions_for(spark: SparkSession) -> str:
    """Initial shuffle parallelism DERIVED from the session's actual
    parallelism (``sparkContext.defaultParallelism`` — the core count in
    local mode, total executor cores on a cluster), overridable via
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``. The stock 200 only multiplies
    task overhead at fixture scales; a constant (the pre-r13 hardcoded
    32) mis-sizes every session that is NOT local[32] — including the
    bench's lower-core-count scaling runs. AQE partition coalescing
    remains the scale lever below this initial number either way."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        return env
    try:
        return str(max(1, spark.sparkContext.defaultParallelism))
    except Exception:
        return "32"


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs idempotently; safe on sessions we don't own.

    Caveat: ``spark.sql.shuffle.partitions == 200`` is indistinguishable
    from the stock default, so a session that deliberately configured
    exactly 200 gets the parallelism-derived value instead; set
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS=200`` to pin it."""
    confs = dict(_RUNTIME_CONFS)
    try:
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
    except Exception:
        current = "200"
    if current == "200":
        # only replace the stock default — a session that configured its
        # own shuffle parallelism (get_spark callers, the bench, external
        # deployments) keeps it
        confs["spark.sql.shuffle.partitions"] = _shuffle_partitions_for(spark)
    for k, v in confs.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # non-settable in this deployment — leave the session as-is
            pass
    return spark


def get_spark(
    app_name: str = "change_data_capture_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession for local development.

    ``SPARK_GRAFT_CPUS`` (bench contract) controls local parallelism.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
