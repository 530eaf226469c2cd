#!/usr/bin/env python
"""Dump the formatted physical plans of the flagship queries into PLANS.md —
the plan-shape evidence behind BENCH.md's scale claims, regenerable with
``python tools/dump_plans.py`` after any operator change. (The same shapes
are *asserted* by tests/test_plans.py; this file is the human-readable
companion.)"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from change_data_capture_spark.plans import plan_stats  # noqa: E402
from change_data_capture_spark.session import get_spark  # noqa: E402

#: (query, one-line claim being evidenced)
SHOWCASE = [
    ("scd2_products", "flagship SCD2: single shuffle, single scan"),
    ("q5_region_revenue", "star join: all dims broadcast, filter at scan"),
    ("range_join_ship_window", "range join: bucketed equi join, no BNLJ"),
    ("topk_orders_per_customer", "per-group top-k: WindowGroupLimit pushdown"),
    ("dedup_minhash_lsh", "near-dup: banded candidate equi join"),
    ("embedding_cosine_neardup", "ANN threshold: LSH bands, no all-pairs"),
    ("corpus_decontamination", "13-gram overlap: hash equi join on 60-bit gram ids"),
    ("dq_audit", "DQ audit: one conditional-agg pass per table"),
    ("q17_small_quantity_revenue", "correlated AVG: window rewrite, ≤2 exchanges"),
    ("pii_redaction", "PII scrub: zero-shuffle codegen projection"),
    ("events_anomaly_zscore", "expanding z-score: single user_id exchange"),
    ("merge_scd1_customer", "MERGE: key-partitioned full-outer join, no BNLJ"),
    ("timeseries_gapfill_locf", "gap fill: broadcast bounds, one fact shuffle"),
    ("entity_resolution_blocked", "blocked ER: vocabulary-sized equi join"),
    ("histogram_price_buckets", "histogram: map-side partial agg to ≤20 rows"),
    ("interval_union_coverage", "interval union: both windows + both aggs on one suppkey exchange"),
    ("orders_pareto_abc", "Pareto/ABC: bucketed two-phase prefix sum, no global window"),
    ("bpe_pair_counts", "BPE pairs: one agg exchange + TakeOrderedAndProject"),
    ("attribution_last_touch", "last-touch: one user_id window carry, no self-join"),
    ("heavy_hitters_cms", "CMS: constant-size sketch agg, broadcast probe"),
    ("bloom_novelty_probe", "Bloom: set-bit table broadcast, no ref-side shuffle"),
    ("scd3_products", "SCD3: all windows on one id exchange"),
    ("dedup_substring_spans", "substring dedup: 8-byte window hashes before the shuffle, hash-agg + semi join"),
    ("embedding_random_projection", "JL projection: matrix-as-constants, zero shuffles"),
    ("events_ohlc_bars", "OHLC: two row_number windows + agg on one (user,hour) exchange"),
    ("dedup_minhash_incremental", "incremental dedup: delta×corpus band equi join"),
    ("events_mad_robust_zscore", "MAD: dual-position medians, user_id-partitioned windows only"),
    ("text_feature_hashing", "hashing trick: one explode + one conditional-sum exchange"),
    ("corpus_pipeline_end_to_end", "pipeline: filter→dedup→sample→shard in two shuffles"),
    ("ngram_novelty_bloom", "Bloom production path: literal-bitset probe, NO join at all"),
    ("corpus_decontamination_bloom", "Bloom decontamination: eval-side bitset, train side never joined"),
    ("corpus_decontamination_bloom_sharded", "sharded Bloom: per-shard bitsets, one broadcast equi-join route"),
    ("txlog_cdf_ops", "CDF: MapInArrow over local rows, one per planned part (its one scan is that ExistingRDD: no parquet scan), at most defaultParallelism tasks, a rewrite part diffing only its churned files"),
    ("txlog_delete_dv", "deletion vectors: DV'd files anti-join a tiny broadcast sidecar, clean files scan plain"),
    ("txlog_rename_column", "column mapping: physical-named scan + zero-shuffle logical projection, rename costs no rewrite"),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    queries = entry.queries()
    out = [
        "# PLANS — flagship physical plans (generated by tools/dump_plans.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Each section: the claim, the parsed",
        "plan facts, then the full `explain('formatted')` output. The same",
        "facts are pinned by `tests/test_plans.py`.",
        "",
    ]
    for name, claim in SHOWCASE:
        s = plan_stats(queries[name](spark, sf_dir))
        out += [
            f"## {name}",
            "",
            f"**Claim:** {claim}",
            "",
            f"shuffles={s.shuffle_exchanges} broadcasts={s.broadcast_exchanges} "
            f"parquet_scans={s.parquet_scans} cartesian={s.has_cartesian} "
            f"bnlj={s.has_bnlj} window_group_limit={s.has_window_group_limit} "
            f"take_ordered={s.has_take_ordered}",
            "",
            "```",
            s.text.rstrip(),
            "```",
            "",
        ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
