"""Driver-contract smoke: entry() runs on a bare-config session, every
queries() entry has a callable signature, oracle keys are a subset, and a
representative sample — plus every graph, k-NN and k-means query —
hash-matches DuckDB under the parity tool's canonicalizer (the FULL sweep
lives in tools/check_parity.py — this keeps CI fast)."""

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entrymod

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from check_parity import TABLES, frame_signature  # noqa: E402

SAMPLE = [
    "q_pricing_summary",
    "q_join_semi",
    "q_window_topk_per_customer",
    "q_clean_numeric_cast",
    "q_map_values_literal",
    "q_dedup_docs_exact",
    "q_text_tokens",
    "q_events_tumbling",
] + sorted(q for q in entrymod.queries() if q.startswith("q_graph_")) + sorted(
    q for q in entrymod.queries() if q.startswith("q_knn_")
) + ["q_embed_kmeans", "q_semantic_dedup"]


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs)
    # oracle coverage must stay near-total: rows-only checks are weaker
    assert len(oracles) >= len(qs) - 2


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SAMPLE)
def test_sample_oracle_parity(spark, sf_dir, duck, name):
    got = frame_signature(entrymod.queries()[name](spark, sf_dir).toPandas())
    assert got == frame_signature(duck.sql(entrymod.oracle_sql()[name]).df())
