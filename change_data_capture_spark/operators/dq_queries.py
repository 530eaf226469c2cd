"""Data-quality audit — the constraint/expectation checks a production
pipeline runs before (and after) every load: primary-key uniqueness,
referential integrity, domain ranges, null contracts, derived-column
consistency. The reference stack gets these implicitly from Postgres
constraints (`/root/reference/container/pg/init.sql` declares the PKs);
a lake-side engine has to *audit* them instead — this operator is that
audit, as one query.

Scale shape: every per-table check family collapses into ONE conditional
aggregation over a single scan of that table (no per-check passes), so the
whole audit costs one scan per audited table plus two key-shuffle anti
joins for referential integrity. At 100 TB the anti joins are the only
shuffles, they key on the join columns (partition-prunable, and Spark's
runtime bloom-filter join pruning applies); everything else is map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from change_data_capture_spark.queries import query
from change_data_capture_spark.sources.tables import load_table


def _melt_checks(df: DataFrame) -> DataFrame:
    """One-row wide aggregate -> (check_name, n_bad) long form via stack()."""
    cols = df.columns
    pairs = ", ".join(f"'{c}', `{c}`" for c in cols)
    return df.selectExpr(f"stack({len(cols)}, {pairs}) as (check_name, n_bad)")


_DQ_ORACLE = """
SELECT 'lineitem_dup_pk' AS check_name,
       count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS n_bad FROM lineitem
UNION ALL SELECT 'lineitem_null_key',
       count(*) FILTER (WHERE l_orderkey IS NULL OR l_partkey IS NULL OR l_suppkey IS NULL) FROM lineitem
UNION ALL SELECT 'lineitem_nonpositive_qty',
       count(*) FILTER (WHERE l_quantity <= 0) FROM lineitem
UNION ALL SELECT 'lineitem_negative_price',
       count(*) FILTER (WHERE l_extendedprice < 0) FROM lineitem
UNION ALL SELECT 'lineitem_discount_domain',
       count(*) FILTER (WHERE l_discount < 0 OR l_discount >= 1) FROM lineitem
UNION ALL SELECT 'orders_dup_pk',
       count(*) - count(DISTINCT o_orderkey) FROM orders
UNION ALL SELECT 'orders_bad_status',
       count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) FROM orders
UNION ALL SELECT 'orders_nonpositive_total',
       count(*) FILTER (WHERE o_totalprice <= 0) FROM orders
UNION ALL SELECT 'documents_dup_pk',
       count(*) - count(DISTINCT doc_id) FROM documents
UNION ALL SELECT 'documents_chars_mismatch',
       count(*) FILTER (WHERE n_chars <> length(text)) FROM documents
UNION ALL SELECT 'events_null_required',
       count(*) FILTER (WHERE user_id IS NULL OR event_type IS NULL OR ts IS NULL) FROM events
UNION ALL SELECT 'events_dup_pk',
       count(*) - count(DISTINCT event_id) FROM events
UNION ALL SELECT 'lineitem_orphan_order', count(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL SELECT 'orders_orphan_customer', count(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


@query("dq_audit", oracle=_DQ_ORACLE)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide data-quality audit: (check_name, n_bad) for 14 checks
    across lineitem / orders / documents / events — PK uniqueness, null
    contracts, value domains, derived-column consistency, and two
    referential-integrity anti joins. The fixture data genuinely violates
    one of them (duplicate (l_orderkey, l_linenumber) pairs), so the audit
    exercises both zero and non-zero paths."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    docs = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    li_checks = _melt_checks(
        li.agg(
            (F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")).alias(
                "lineitem_dup_pk"
            ),
            F.count_if(
                F.col("l_orderkey").isNull()
                | F.col("l_partkey").isNull()
                | F.col("l_suppkey").isNull()
            ).alias("lineitem_null_key"),
            F.count_if(F.col("l_quantity") <= 0).alias("lineitem_nonpositive_qty"),
            F.count_if(F.col("l_extendedprice") < 0).alias("lineitem_negative_price"),
            F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") >= 1)).alias(
                "lineitem_discount_domain"
            ),
        )
    )
    ord_checks = _melt_checks(
        orders.agg(
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("orders_dup_pk"),
            F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias(
                "orders_bad_status"
            ),
            F.count_if(F.col("o_totalprice") <= 0).alias("orders_nonpositive_total"),
        )
    )
    doc_checks = _melt_checks(
        docs.agg(
            (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("documents_dup_pk"),
            F.count_if(F.col("n_chars") != F.length("text")).alias(
                "documents_chars_mismatch"
            ),
        )
    )
    ev_checks = _melt_checks(
        events.agg(
            F.count_if(
                F.col("user_id").isNull()
                | F.col("event_type").isNull()
                | F.col("ts").isNull()
            ).alias("events_null_required"),
            (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("events_dup_pk"),
        )
    )
    orphan_li = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .select(F.lit("lineitem_orphan_order").alias("check_name"), "n_bad")
    )
    orphan_ord = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_bad"))
        .select(F.lit("orders_orphan_customer").alias("check_name"), "n_bad")
    )
    return (
        li_checks.unionByName(ord_checks)
        .unionByName(doc_checks)
        .unionByName(ev_checks)
        .unionByName(orphan_li)
        .unionByName(orphan_ord)
    )


# ---------------------------------------------------------------------------
# scan provenance: hidden _metadata file columns (incident forensics)
# ---------------------------------------------------------------------------

# The oracle runs over pre-registered views (no path parameter), so it
# states the fixture-layout invariant directly: every sf dir stores each
# table as ONE parquet file named <table>.parquet — the Spark side must
# therefore report exactly that file name from _metadata.
_PROVENANCE_ORACLE = """
SELECT 'lineitem.parquet' AS file_name,
       count(*) AS n_rows,
       min(l_orderkey) AS min_orderkey,
       max(l_orderkey) AS max_orderkey
FROM lineitem
"""


@query("provenance_file_metadata", oracle=_PROVENANCE_ORACLE)
def provenance_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row→file provenance via Spark's hidden ``_metadata`` column on file
    sources — the forensics primitive behind "which landed object produced
    these rows" (the reference's lexically-ordered object names,
    s3-sink.json:14, exist for exactly this). Zero extra I/O: the metadata
    struct is constant per split. The oracle replays it with DuckDB's
    ``filename=true``. Per-file row counts + key ranges are also the
    inputs a compaction planner works from."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    from change_data_capture_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    return (
        l.select(F.col("_metadata.file_name").alias("file_name"), "l_orderkey")
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
    )
