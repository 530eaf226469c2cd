"""The envelope read parses and plans only what the decode reads: the JSON
scan is given the envelope's read projection (Spark prunes nested fields
only at parquet and ORC scans), and a plan is built without per-call
Python stack capture."""

from __future__ import annotations

import re

import pytest

from change_data_capture_spark.functions.envelope import decode_envelope
from change_data_capture_spark.operators.scd2 import scd2
from change_data_capture_spark.plans import plan_stats
from change_data_capture_spark.sources.ndjson import read_envelope_ndjson


def _leaves(struct_string: str) -> list[str]:
    """Leaf field names of a ``struct<...>`` type string, in order."""
    return re.findall(r"(\w+):(?!struct<)", struct_string)


@pytest.fixture(scope="module")
def log_dir(spark, sf_dir, tmp_path_factory):
    from change_data_capture_spark.sources.cdc_generator import product_change_events

    path = str(tmp_path_factory.mktemp("envelope_log"))
    product_change_events(spark, sf_dir).repartition(2).write.mode(
        "overwrite"
    ).json(path)
    return path


def test_envelope_scan_reads_only_the_decoded_fields(spark, log_dir):
    """The JSON scan's ReadSchema is the read projection: the 11 leaves of
    ``value.before``, ``value.after``, ``value.source.ts_ms``,
    ``value.source.lsn`` and ``value.op``, not the wire envelope's 23."""
    from change_data_capture_spark.schemas import PRODUCTS_ENVELOPE

    text = plan_stats(scd2(decode_envelope(read_envelope_ndjson(spark, log_dir)))).text
    scan = text[text.index("(1) Scan json"):]
    read_schema = re.search(r"^ReadSchema: (.*)$", scan, re.M).group(1)
    image = ["id", "name", "description", "price"]
    assert _leaves(read_schema) == [*image, *image, "ts_ms", "lsn", "op"]
    assert len(_leaves(PRODUCTS_ENVELOPE.simpleString())) == 23


def test_read_projection_decodes_like_the_wire_schema(spark, log_dir):
    """Parsing through the projection changes no decoded value: the decode
    over it equals the decode over the whole wire envelope."""
    from change_data_capture_spark.schemas import PRODUCTS_ENVELOPE

    projected = decode_envelope(read_envelope_ndjson(spark, log_dir))
    wire = decode_envelope(
        read_envelope_ndjson(spark, log_dir, schema=PRODUCTS_ENVELOPE)
    )
    assert projected.schema == wire.schema
    assert projected.count() == wire.count() > 0
    assert projected.exceptAll(wire).isEmpty() and wire.exceptAll(projected).isEmpty()


def test_read_projection_keeps_the_wire_types():
    """Every path of the projection has the wire schema's type, for both
    row images."""
    from change_data_capture_spark.schemas import (
        PRODUCT_ROW,
        USER_ROW,
        envelope_read_schema,
        envelope_schema,
    )

    for row in (PRODUCT_ROW, USER_ROW):
        wire = envelope_schema(row)["value"].dataType
        read = envelope_read_schema(row)["value"].dataType
        assert read.fieldNames() == ["before", "after", "source", "op"]
        for name in ("before", "after", "op"):
            assert read[name] == wire[name]
        source = read["source"].dataType
        assert source.fieldNames() == ["ts_ms", "lsn"]
        for name in source.fieldNames():
            assert source[name] == wire["source"].dataType[name]


def test_unprojected_envelope_field_fails_analysis(spark, log_dir):
    """A field the projection leaves out is not silently null: selecting
    it fails analysis, and the wire schema, passed explicitly, reads it."""
    from pyspark.errors import AnalysisException

    from change_data_capture_spark.schemas import PRODUCTS_ENVELOPE

    with pytest.raises(AnalysisException, match="transaction"):
        read_envelope_ndjson(spark, log_dir).select("value.transaction")
    wire = read_envelope_ndjson(spark, log_dir, schema=PRODUCTS_ENVELOPE)
    assert wire.select("value.transaction", "value.source.txId").columns == [
        "transaction",
        "txId",
    ]


def test_scd2_plan_builds_in_few_py4j_round_trips(spark, log_dir, count_py4j):
    """The engine's session captures no Python call site per Column call,
    so building the flagship plan takes a few hundred py4j round trips
    (843 with capture on)."""
    trips, _ = count_py4j(
        lambda: scd2(decode_envelope(read_envelope_ndjson(spark, log_dir)))
    )
    assert trips <= 300, trips
