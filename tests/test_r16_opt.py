"""Focused tests for the r16 OPTIMIZATION-round operator changes.

Each optimization here changed an operator's internals while promising
identical results; these tests pin the promise independently of the
registry's oracle gate:

- dedup.prefix_filter_join: the per-doc size that now rides the prefix
  window (count over the doc partition) instead of a separate
  aggregate+join must leave the pair set and jaccard values exactly
  equal to a brute-force reference.
- graph.k_hop_distances: the frontier-BFS rewrite (only newly-reached
  nodes relax) must emit the same (node, dist) set as full relaxation,
  including when max_hops exceeds the graph diameter (empty frontier
  tail) and under multi-seed min-distance competition.
- clean.mad_outliers: the lazily-checkpointed medians row must produce
  the same flags/residuals as a hand-computed median/MAD.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import clean, dedup, graph


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def test_prefix_filter_fused_size_matches_bruteforce(spark):
    texts = {
        1: "alpha beta gamma delta",
        2: "alpha beta gamma epsilon",
        3: "zeta eta theta iota",
        4: "zeta eta theta iota",
        5: "alpha beta",
        6: "completely different words here",
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    t_micro = 500000
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_micro"]
        for r in dedup.prefix_filter_join(
            df, "doc_id", "text", threshold_micro=t_micro, shingle_k=1
        ).collect()
    }
    toks = {i: set(t.split()) for i, t in texts.items()}
    want = {}
    ids = sorted(toks)
    for x in ids:
        for y in ids:
            if x < y:
                j = _jaccard(toks[x], toks[y])
                if int(j * 1_000_000) >= t_micro:
                    want[(x, y)] = int(
                        len(toks[x] & toks[y]) * 1_000_000
                        // len(toks[x] | toks[y])
                    )
    assert got == want


def test_k_hop_frontier_equals_full_relaxation_past_diameter(spark):
    # star + chain + disconnected island; max_hops far past the diameter
    edges = [(0, 1), (1, 2), (2, 3), (0, 4), (4, 5), (7, 8)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        (r["node"], r["dist"])
        for r in graph.k_hop_distances(
            e, seeds, max_hops=10, symmetric=True
        ).collect()
    }
    want = {(0, 0), (1, 1), (4, 1), (2, 2), (5, 2), (3, 3)}
    assert got == want


def test_k_hop_frontier_multi_seed_min_wins(spark):
    # node 2 is reachable from both seeds; the smaller hop must win and
    # the frontier rewrite must not re-emit node 2 at the larger hop
    edges = [(0, 1), (1, 2), (5, 2)]
    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    got = {
        (r["node"], r["dist"])
        for r in graph.k_hop_distances(e, seeds, max_hops=4).collect()
    }
    assert got == {(0, 0), (5, 0), (1, 1), (2, 1)}


def test_mad_outliers_checkpointed_medians_exact(spark):
    vals = [1.0, 2.0, 3.0, 4.0, 100.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {
        (r["x"], r["x__mad_resid"], r["x__is_outlier"])
        for r in clean.mad_outliers(df, ["x"], k=3.5).collect()
    }
    # median of the 5 non-null values = 3.0, residuals |x - 3|,
    # MAD = median(2,1,0,1,97) = 1.0; outlier iff resid > 3.5
    assert (100.0, 97.0, True) in rows
    assert (1.0, 2.0, False) in rows
    assert (None, None, False) in rows
