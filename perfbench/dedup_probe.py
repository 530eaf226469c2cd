"""One checked MinHash-LSH near-duplicate pass
(``dedup_queries.dedup_minhash_lsh``) over a seeded ``documents`` corpus
with a planted near-duplicate share: shingling, banded candidate
generation and the verification shuffle, with no CDC layer involved.

``scd2_query``'s traced run makes this pass so the dedup layer is measured
without a workload of its own. The pass must return exactly the pairs the
registered DuckDB oracle finds on the same corpus, checked on a seeded
quarter of the documents: MinHash banding and Jaccard verification are
pair-local, so the oracle on a document subset equals the full result
restricted to pairs inside it."""

from __future__ import annotations

import os
import time

from gen import write_documents
from harness import Workspace

N_DOCS = 600

#: the checked subset: documents whose base id is ``rem`` modulo this
SUBSET_MOD = 4

#: the augmented corpus adds copies with doc_id + 100000 and + 200000
_BASE_ID_MOD = 100_000


def _pairs(rows, rem: int) -> list[tuple]:
    return sorted(
        (int(a), int(b), float(j)) for a, b, j in rows
        if (a % _BASE_ID_MOD) % SUBSET_MOD == rem and (b % _BASE_ID_MOD) % SUBSET_MOD == rem
    )


def _oracle_pairs(ws: Workspace, corpus_dir: str, rem: int) -> list[tuple]:
    import duckdb

    from change_data_capture_spark.operators import dedup_queries
    from change_data_capture_spark.queries import ORACLES

    sql = ORACLES[dedup_queries.dedup_minhash_lsh.__name__]
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{ws.dir('duckdb')}'")
        path = os.path.join(corpus_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}') "
                    f"WHERE doc_id % {SUBSET_MOD} = {rem}")
        return _pairs(con.execute(sql).fetchall(), rem)
    finally:
        con.close()


def dedup_probe(spark, ws: Workspace, seed: int) -> tuple[dict[str, float], bool]:
    """A warm-up pass, then one timed pass. Returns the dedup metrics and
    whether the timed pass matched the oracle."""
    from change_data_capture_spark.operators.dedup_queries import dedup_minhash_lsh

    corpus_dir = ws.dir("corpus")
    write_documents(corpus_dir, seed, N_DOCS)
    rem = seed % SUBSET_MOD
    expected = _oracle_pairs(ws, corpus_dir, rem)
    dedup_minhash_lsh(spark, corpus_dir).collect()
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    got = dedup_minhash_lsh(spark, corpus_dir).collect()
    pass_ms = (time.perf_counter() - t0) * 1000
    spark.catalog.clearCache()
    ok = bool(expected) and _pairs(got, rem) == expected
    return {"dedup.pass_ms": pass_ms, "dedup.output_pairs": len(got)}, ok
