"""Explicit schemas — the engine never relies on schema-on-read inference.

The reference lets DuckDB infer JSON shapes at query time
(``/root/reference/README.md:104,216-218`` — ``read_ndjson_objects`` yields one
untyped ``json`` column). We invert that: the Debezium envelope is a stable,
published contract (sample event at ``/root/reference/README.md:214``), so we
pin it as a ``StructType`` — deterministic under Spark. Readers parse only
its decoded fields (:func:`envelope_read_schema`): Catalyst prunes nested
fields at parquet and ORC scans, but not at a JSON scan, which parses every
field of the schema it is given.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Debezium envelope (reference: README.md:214; row shape init.sql:9-21)
# ---------------------------------------------------------------------------

#: products row image (postgres/init.sql:9-14). ``price`` is pinned to
#: DECIMAL(10,2) end-to-end (SURVEY.md §1.2 — the base64 "precise decimal"
#: wart is documented out of scope).
PRODUCT_ROW = StructType(
    [
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("description", StringType()),
        StructField("price", DecimalType(10, 2)),
    ]
)

#: users row image (postgres/init.sql:17-21)
USER_ROW = StructType(
    [
        StructField("id", LongType()),
        StructField("username", StringType()),
        StructField("password", StringType()),
    ]
)

#: provenance block; ``lsn`` is the total order within a key
#: (README.md:101, window ORDER BY at README.md:120), ``ts_ms`` the event time.
SOURCE_BLOCK = StructType(
    [
        StructField("version", StringType()),
        StructField("connector", StringType()),
        StructField("name", StringType()),
        StructField("ts_ms", LongType()),
        StructField("snapshot", StringType()),
        StructField("db", StringType()),
        StructField("sequence", StringType()),
        StructField("schema", StringType()),
        StructField("table", StringType()),
        StructField("txId", LongType()),
        StructField("lsn", LongType()),
        StructField("xmin", LongType()),
    ]
)


def envelope_schema(row: StructType = PRODUCT_ROW) -> StructType:
    """Debezium envelope wrapped by the sink in an outer ``value`` object
    (the Aiven S3 sink shape, reference: README.md:214)."""
    return StructType(
        [
            StructField(
                "value",
                StructType(
                    [
                        StructField("before", row),
                        StructField("after", row),
                        StructField("source", SOURCE_BLOCK),
                        StructField("op", StringType()),
                        StructField("ts_ms", LongType()),
                        StructField("transaction", StringType()),
                    ]
                ),
            )
        ]
    )


def envelope_read_schema(row: StructType = PRODUCT_ROW) -> StructType:
    """The read projection of :func:`envelope_schema`: ``value.before``,
    ``value.after``, ``value.op``, ``value.source.ts_ms`` and
    ``value.source.lsn`` — the paths ``decode_envelope`` and
    ``decode_user_envelope`` read, 11 leaves of the products envelope's
    23. A JSON scan parses every field of its schema (Spark prunes nested
    fields only for parquet and ORC), so the envelope readers pass this
    projection; the other wire fields are skipped at parse time, and a
    read of one fails analysis instead of returning nulls. Built from the
    wire schema, so its types cannot drift from it."""
    value = envelope_schema(row)["value"].dataType
    source = StructType([value["source"].dataType[n] for n in ("ts_ms", "lsn")])
    kept = [value["before"], value["after"], StructField("source", source), value["op"]]
    return StructType([StructField("value", StructType(kept))])


#: wire shapes: generators, writers, the Python data source, and any
#: reader that passes them explicitly
PRODUCTS_ENVELOPE = envelope_schema(PRODUCT_ROW)
USERS_ENVELOPE = envelope_schema(USER_ROW)
#: what ``read_envelope_ndjson`` and ``kafka_envelope_stream`` parse
PRODUCTS_ENVELOPE_READ = envelope_read_schema(PRODUCT_ROW)

# ---------------------------------------------------------------------------
# Driver fixture tables (/root/testdata/sf*/ — FIXTURES.md §B)
# ---------------------------------------------------------------------------

#: canonical (post-load) Spark schemas. ``events.ts`` is stored as parquet
#: TIMESTAMP(NANOS) and ``o_orderdate``/``l_shipdate`` as TIMESTAMP_NTZ; the
#: loader (sources.tables) normalizes all of them to TimestampType under a
#: UTC session so every downstream operator sees one timestamp kind.
FIXTURE_SCHEMAS: dict[str, StructType] = {
    "region": StructType(
        [
            StructField("r_regionkey", IntegerType()),
            StructField("r_name", StringType()),
        ]
    ),
    "nation": StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            StructField("c_custkey", LongType()),
            StructField("c_name", StringType()),
            StructField("c_nationkey", IntegerType()),
            StructField("c_acctbal", DoubleType()),
            StructField("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            StructField("s_suppkey", LongType()),
            StructField("s_name", StringType()),
            StructField("s_nationkey", IntegerType()),
            StructField("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            StructField("p_partkey", LongType()),
            StructField("p_name", StringType()),
            StructField("p_brand", StringType()),
            StructField("p_type", StringType()),
            StructField("p_size", IntegerType()),
            StructField("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            StructField("o_orderkey", LongType()),
            StructField("o_custkey", LongType()),
            StructField("o_orderstatus", StringType()),
            StructField("o_totalprice", DoubleType()),
            StructField("o_orderdate", TimestampType()),
            StructField("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_partkey", LongType()),
            StructField("l_suppkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_extendedprice", DoubleType()),
            StructField("l_discount", DoubleType()),
            StructField("l_tax", DoubleType()),
            StructField("l_returnflag", StringType()),
            StructField("l_linestatus", StringType()),
            StructField("l_shipdate", TimestampType()),
        ]
    ),
    "events": StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    ),
}

TABLES = tuple(FIXTURE_SCHEMAS)
