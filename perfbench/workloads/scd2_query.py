"""``scd2_query``: batch SCD2 and change-log queries over a large seeded
NDJSON change log. Nearly all work is the NDJSON scan, the JSON parse, the
envelope decode and the one-shuffle window plan; there is no streaming and
no txlog. One client alternates ``scd2`` and ``change_log``, each written
to the ``noop`` sink.

Correctness: for a seeded key subset both queries must equal DuckDB
running the reference's SQL over the same files (SCD2 works per key, so a
key subset stays exact).

A traced run also makes one checked dedup pass (see ``dedup_probe``), so
the dedup layer is measured without a workload of its own.
"""

from __future__ import annotations

import os
import statistics
import sys

from gen import write_cdc_log
from harness import Op
from workloads.base import Workload

N_KEYS_MOD = 16

#: the reference's extraction CTE over the raw NDJSON objects
_EVENTS_SQL = """
CREATE TABLE events AS
SELECT
    COALESCE(CAST(json->'value'->'after'->>'id' AS BIGINT),
             CAST(json->'value'->'before'->>'id' AS BIGINT)) AS id,
    json->'value'->'after' AS after_row_value,
    CASE json->'value'->>'op'
        WHEN 'c' THEN 'CREATE' WHEN 'd' THEN 'DELETE'
        WHEN 'u' THEN 'UPDATE' WHEN 'r' THEN 'SNAPSHOT' ELSE 'INVALID' END
        AS operation_type,
    CAST(json->'value'->'source'->>'lsn' AS BIGINT) AS log_seq_num,
    epoch_ms(CAST(json->'value'->'source'->>'ts_ms' AS BIGINT)) AS source_timestamp
FROM read_ndjson_objects('{glob}')
"""

#: the reference's SCD2 query, with the engine's two documented
#: deviations: replayed (id, lsn) copies are dropped before counting, and
#: the open-interval sentinel is 2260-01-01
_SCD2_SQL = """
WITH products_create_update_delete AS (
    SELECT * FROM events
    WHERE log_seq_num IS NOT NULL AND id % {mod} = {rem}
    QUALIFY row_number() OVER (PARTITION BY id, log_seq_num) = 1
)
SELECT id,
       after_row_value->>'name' AS name,
       after_row_value->>'description' AS description,
       CAST(CAST(after_row_value->>'price' AS DECIMAL(10, 2)) AS VARCHAR) AS price,
       epoch_ms(source_timestamp) AS row_valid_start_ms,
       epoch_ms(COALESCE(LEAD(source_timestamp, 1) OVER lead_txn_timestamp,
                         TIMESTAMP '2260-01-01')) AS row_valid_expiration_ms
FROM products_create_update_delete
WHERE id IN (SELECT id FROM products_create_update_delete GROUP BY id HAVING COUNT(*) > 1)
WINDOW lead_txn_timestamp AS (PARTITION BY id ORDER BY log_seq_num)
"""

#: the reference's change-log exploration query
_CHANGE_LOG_SQL = """
SELECT id, log_seq_num, operation_type,
       epoch_ms(source_timestamp) AS row_valid_start_ms,
       epoch_ms(COALESCE(LEAD(source_timestamp, 1) OVER w,
                         TIMESTAMP '2260-01-01')) AS row_valid_expiration_ms,
       ROW_NUMBER() OVER w AS op_order
FROM events
WHERE log_seq_num IS NOT NULL AND id % {mod} = {rem}
WINDOW w AS (PARTITION BY id ORDER BY log_seq_num)
"""


def _sorted(rows) -> list[tuple]:
    """Rows in a total order that tolerates NULLs (deletes carry no image)."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((v is None, "" if v is None else v) for v in r))


class Scd2Query(Workload):
    N_EVENTS = 80_000
    N_FILES = 4
    warmup_ops = 12
    min_ops = 10

    def generate(self) -> None:
        self.probe_ok = True
        self.log_dir = self.ws.dir("log")
        self.n_events = write_cdc_log(self.log_dir, self.seed, self.N_EVENTS, self.N_FILES)
        self.n_ops = 0

    def _plan(self, kind: str):
        from change_data_capture_spark.functions.envelope import decode_envelope
        from change_data_capture_spark.operators.scd2 import change_log, scd2
        from change_data_capture_spark.sources.ndjson import read_envelope_ndjson

        with self.tracer.span("envelope.plan"):
            decoded = decode_envelope(read_envelope_ndjson(self.spark, self.log_dir))
        with self.tracer.span(f"scd2.plan_{kind}"):
            return (scd2 if kind == "scd2" else change_log)(decoded)

    def next_op(self) -> Op:
        kind = "scd2" if self.n_ops % 2 == 0 else "change_log"
        self.n_ops += 1

        def run():
            df = self._plan(kind)
            with self.tracer.span(f"scd2.execute_{kind}"):
                df.write.format("noop").mode("overwrite").save()

        return Op(kind, run, items=self.n_events)

    def _spark_rows(self, kind: str, rem: int) -> list[tuple]:
        from pyspark.sql import functions as F

        df = self._plan(kind).where(F.col("id") % N_KEYS_MOD == rem)
        start = F.unix_millis("row_valid_start_timestamp").alias("s")
        end = F.unix_millis("row_valid_expiration_timestamp").alias("e")
        if kind == "scd2":
            df = df.select("id", "name", "description",
                           F.col("price").cast("string"), start, end)
        else:
            df = df.select("id", "log_seq_num", "operation_type", start, end, "op_order")
        return _sorted(df.collect())

    def final_check(self) -> bool:
        """Both queries equal DuckDB on a seeded key subset (and, in a
        traced run, the dedup probe matched its oracle)."""
        import duckdb

        rem = self.seed % N_KEYS_MOD
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.ws.dir('duckdb')}'")
            con.execute(_EVENTS_SQL.format(glob=os.path.join(self.log_dir, "*.json")))
            ok = True
            for kind, sql in (("scd2", _SCD2_SQL), ("change_log", _CHANGE_LOG_SQL)):
                ref = _sorted(con.execute(sql.format(mod=N_KEYS_MOD, rem=rem)).fetchall())
                got = self._spark_rows(kind, rem)
                if not ref or got != ref:
                    print(f"perfbench: {kind} differs from DuckDB on keys "
                          f"id % {N_KEYS_MOD} = {rem} ({len(got)} vs {len(ref)} rows)",
                          file=sys.stderr)
                    ok = False
        finally:
            con.close()
        return ok and self.probe_ok

    def layer_metrics(self, ops, stages, n_ops) -> dict[str, float]:
        from dedup_probe import dedup_probe

        output_rows = [self._plan(k).count() for k in ("scd2", "change_log")]
        dedup, self.probe_ok = dedup_probe(self.spark, self.ws, self.seed)
        return {
            **dedup,
            "envelope.scan_stage_ms": self.per_op_stage_ms(
                ops, stages, lambda s: s["input_bytes"] > 0),
            "envelope.input_bytes": sum(s["input_bytes"] for s in stages) / max(1, n_ops),
            "scd2.query_ms": statistics.median((o["end"] - o["start"]) * 1000 for o in ops),
            "scd2.window_stage_ms": self.per_op_stage_ms(
                ops, stages, lambda s: s["shuffle_read_bytes"] > 0),
            "scd2.output_rows": sum(output_rows) / 2,
        }
