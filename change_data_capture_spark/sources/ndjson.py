"""NDJSON change-log readers/writers — Spark-native replacement for the
reference's object-store JSONL log (SURVEY.md S1/S2/S6/S7).

The reference's sink writes 20-record JSONL objects under
``/{topic}/yyyy-MM-dd/HH/{partition}-{start_offset}.json``
(``/root/reference/connectors/s3-sink.json:13-14``) and DuckDB re-infers the
schema per query (``README.md:104,216``). Here the envelope schema is pinned
(schemas.envelope_schema, read through its decoded-field projection
schemas.envelope_read_schema) and the layout is real ``partitionBy`` directories
(``ingest_date``/``ingest_hour``), so engines get partition pruning instead of
path-glob convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from change_data_capture_spark.schemas import PRODUCTS_ENVELOPE_READ
from change_data_capture_spark.session import ensure_runtime_confs


def read_envelope_ndjson(
    spark: SparkSession,
    path: str,
    schema: StructType = PRODUCTS_ENVELOPE_READ,
    streaming: bool = False,
    options: dict | None = None,
) -> DataFrame:
    """S1: scan NDJSON event files into the typed envelope.

    ``spark.read.schema(...).json`` — explicit schema, so no inference pass
    over 100 TB of text. The default ``schema`` is the envelope's read
    projection (``schemas.PRODUCTS_ENVELOPE_READ``): the JSON scan parses
    only the fields the decode reads, because Catalyst does not prune
    nested fields at a JSON scan; every byte is still read, but the other
    wire fields are skipped at parse time, and selecting one of them (say
    ``value.transaction``) fails analysis. Pass
    ``schemas.PRODUCTS_ENVELOPE`` to parse the whole wire shape.
    ``streaming=True`` returns the ``readStream`` twin (same schema, same
    downstream code — the batch/stream unification Spark gives for free);
    ``options`` forwards extra reader options (e.g.
    ``maxFilesPerTrigger``) so callers never rebuild the reader by hand
    and silently lose the explicit PERMISSIVE poison-pill contract.
    """
    ensure_runtime_confs(spark)
    reader = spark.readStream if streaming else spark.read
    # PERMISSIVE (explicit): a malformed line yields a null envelope row
    # instead of failing the task — poison pills are inevitable in a 100 TB
    # log, and the decode's lsn-not-null gate drops the nulls downstream.
    reader = reader.schema(schema).option("mode", "PERMISSIVE")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_json_auto(spark: SparkSession, path: str) -> DataFrame:
    """S2: bare ``SELECT * FROM 'file.json'`` equivalent — schema inference
    for ad-hoc exploration only (never in the pipeline path)."""
    ensure_runtime_confs(spark)
    return spark.read.json(path)


def write_envelope_ndjson(df: DataFrame, path: str) -> None:
    """Write envelope rows as time-partitioned NDJSON — the reference's S3
    layout (S7) as real partition directories. Date/hour derive from the
    event time (source.ts_ms)."""
    (
        df.withColumn("_ts", F.timestamp_millis(F.col("value.source.ts_ms")))
        .withColumn("ingest_date", F.date_format("_ts", "yyyy-MM-dd"))
        .withColumn("ingest_hour", F.date_format("_ts", "HH"))
        .drop("_ts")
        .write.mode("overwrite")
        .partitionBy("ingest_date", "ingest_hour")
        .json(path)
    )
