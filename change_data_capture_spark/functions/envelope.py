"""Debezium-envelope decoding expressions.

Everything here is a built-in-function projection over the typed envelope
struct (schemas.envelope_schema) — the Spark equivalent of the reference's
ad-hoc JSON path chains ``json->'value'->'after'->…``
(reference README.md:90-102). The readers parse the envelope through its
read projection (``schemas.envelope_read_schema``), which holds exactly the
paths read here — Catalyst prunes nested fields only at parquet and ORC
scans, not at the JSON scan — and the whole decode is a zero-shuffle,
codegen'd projection at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def decode_debezium_decimal(col: Column, scale: int) -> Column:
    """Decode a Debezium `decimal.handling.mode=precise` value.

    Debezium's default wire format for Postgres NUMERIC/DECIMAL is the
    base64 rendering of the java.math.BigDecimal *unscaled value* as
    minimal-length big-endian two's-complement bytes — the reference's
    sample event carries ``"price": "DOQ="`` (reference README.md:214),
    bytes ``0x0C 0xE4`` = 3300 unscaled, scale 2 → 33.00.

    Pure built-in projection (unbase64 → hex → sign-extend to 64 bits →
    conv base-16 → fixed-point divide), fully codegen'd — no UDF, valid for
    values up to 8 bytes (|unscaled| < 2^63, i.e. any DECIMAL(18,s)).
    Returns DECIMAL(18, scale); NULL in → NULL out.
    """
    hx = F.hex(F.unbase64(col))
    msb_set = F.substring(hx, 1, 1) >= "8"  # hex() is uppercase: '8'<'A'<'F'
    h16 = F.when(msb_set, F.lpad(hx, 16, "F")).otherwise(F.lpad(hx, 16, "0"))
    unsigned = F.conv(h16, 16, 10).cast("decimal(20,0)")
    signed = F.when(
        msb_set, unsigned - F.lit("18446744073709551616").cast("decimal(20,0)")
    ).otherwise(unsigned)
    return (signed / F.lit(10**scale)).cast(f"decimal(18,{scale})")


def encode_debezium_decimal(dec: Column, scale: int) -> Column:
    """Inverse of :func:`decode_debezium_decimal` for non-negative values:
    base64 of the minimal big-endian unscaled bytes (used by the test
    generator to emit reference-shaped envelopes; Debezium itself is the
    producer in production)."""
    hx = F.hex((dec * F.lit(10**scale)).cast("bigint"))
    hx = F.when(F.length(hx) % 2 == 1, F.concat(F.lit("0"), hx)).otherwise(hx)
    # a set msb on the leading byte would read as negative: prepend 0x00,
    # exactly as BigDecimal.toBigInteger().toByteArray() does
    hx = F.when(F.substring(hx, 1, 1) >= "8", F.concat(F.lit("00"), hx)).otherwise(hx)
    return F.base64(F.unhex(hx))


def op_label(op: Column) -> Column:
    """Decode the Debezium op code (reference README.md:94-100)."""
    return (
        F.when(op == "c", "CREATE")
        .when(op == "d", "DELETE")
        .when(op == "u", "UPDATE")
        .when(op == "r", "SNAPSHOT")
        .otherwise("INVALID")
    )


def decode_user_envelope(env: DataFrame) -> DataFrame:
    """Flatten the users-topic envelope (row shape init.sql:17-21)."""
    v = F.col("value")
    return env.select(
        F.coalesce(v["after"]["id"], v["before"]["id"]).alias("id"),
        v["op"].alias("op"),
        op_label(v["op"]).alias("op_label"),
        v["source"]["lsn"].alias("lsn"),
        v["source"]["ts_ms"].alias("ts_ms"),
        F.timestamp_millis(v["source"]["ts_ms"]).alias("source_ts"),
        v["after"]["username"].alias("username"),
        v["after"]["password"].alias("password"),
    )


def decode_envelope(env: DataFrame) -> DataFrame:
    """Flatten the envelope into the columns the analytic queries consume.

    Mirrors the projection at reference README.md:90-102:
    - ``id``: COALESCE(after.id, before.id) — DELETE events have after=NULL
    - row image columns from ``after`` (NULL on DELETE, as in the reference)
    - ``lsn``: total order within a key; ``ts_ms``: event time (source.ts_ms)
    """
    v = F.col("value")
    return env.select(
        F.coalesce(v["after"]["id"], v["before"]["id"]).alias("id"),
        v["op"].alias("op"),
        op_label(v["op"]).alias("op_label"),
        v["source"]["lsn"].alias("lsn"),
        v["source"]["ts_ms"].alias("ts_ms"),
        F.timestamp_millis(v["source"]["ts_ms"]).alias("source_ts"),
        v["after"]["name"].alias("name"),
        v["after"]["description"].alias("description"),
        v["after"]["price"].alias("price"),
        v["before"]["name"].alias("before_name"),
        v["before"]["price"].alias("before_price"),
    )
