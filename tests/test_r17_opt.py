"""Focused tests for the r17 OPTIMIZATION-round operator changes.

Each change promised identical results with less work; these tests pin
the promise independently of the registry's oracle gate:

- dedup.near_duplicate_clusters: the seeded label init (min of own id
  and direct neighbors — one propagation step ahead) must produce the
  same clusters as a driver-side union-find on adversarial shapes
  (chains, blocks, singletons, string ids).
- graph.pagerank: every mode — uniform and personalized, symmetric and
  directed, weighted, warm-started, with the delta receipt — must leave
  ranks bit-identical to a driver-side replay of the integer iteration.
- sources.versioned.versioned_upsert: the coalesce-on-write rewrite
  must keep snapshot contents and the change feed identical, and the
  rewrite must still produce real part files.
- embedstats.second_moments (r16 ADVICE #1): the public guarded kernel
  raises on an empty/all-invalid corpus instead of yielding NaN stats.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import dedup, embedstats, graph


def _union_find(pairs, ids):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component minimum
    return {i: find(i) for i in ids}


@pytest.mark.parametrize(
    "pairs, ids",
    [
        # long chain (the pointer-halving stress shape)
        ([(i, i + 1) for i in range(1, 12)], list(range(1, 13))),
        # two dense blocks + a bridge + singletons
        (
            [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
            list(range(1, 16)),
        ),
        # empty pair set: every doc a singleton
        ([], [1, 2, 3]),
    ],
)
def test_cc_seeded_init_matches_union_find(spark, pairs, ids):
    p = spark.createDataFrame(
        pairs or [(None, None)], "id_a bigint, id_b bigint"
    )
    if not pairs:
        p = p.where(F.lit(False))
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    out = dedup.near_duplicate_clusters(p, all_ids, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    want = _union_find(pairs, ids)
    assert got == want
    sizes = {r["doc_id"]: r["cluster_size"] for r in out.collect()}
    from collections import Counter

    csize = Counter(want.values())
    assert sizes == {i: csize[want[i]] for i in ids}


def test_cc_seeded_init_string_ids(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    ids = ["a", "b", "c", "x", "y", "lone"]
    p = spark.createDataFrame(pairs, "id_a string, id_b string")
    all_ids = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    out = dedup.near_duplicate_clusters(p, all_ids, "doc_id")
    got = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "lone": "lone"}


def _pagerank_reference(
    edges, iterations, damping_pct, base, symmetric,
    seeds=None, weights=None, init=None, delta_receipt=False,
):
    """Driver-side replay of the integer iteration, one branch per mode:
    uniform or personalized teleport, sink mass redistributed uniformly
    (directed) or onto the seeds (directed personalized), weighted or
    unweighted contributions, cold or warm start. Returns ``(rank, deg,
    max_delta)``; ``max_delta`` is the max |change| of the last round."""
    ws = {}
    for i, (s, d) in enumerate(edges):
        if s == d:
            continue
        w = weights[i] if weights else 1
        arcs = [(s, d), (d, s)] if symmetric else [(s, d)]
        for a in arcs:
            # parallel arcs: weights sum; unweighted arcs collapse to one
            ws[a] = ws.get(a, 0) + w if weights else 1
    if symmetric:
        nodes = sorted({s for s, _ in ws})
    else:
        nodes = sorted({x for e in ws for x in e})
    deg = {}
    for (s, _), w in ws.items():
        deg[s] = deg.get(s, 0) + w
    rank = {n: base for n in nodes}
    if init:
        rank.update({n: r for n, r in init.items() if n in rank})
    teleport = (100 - damping_pct) * base
    restart = sorted(set(seeds) & set(nodes)) if seeds is not None else None
    if restart is not None:
        seed_tele = teleport * len(nodes) // len(restart)
    prev = rank
    for _ in range(iterations):
        incoming = {n: 0 for n in nodes}
        for (s, d), w in ws.items():
            incoming[d] += rank[s] * w // deg[s]
        sink_sum = sum(rank[n] for n in nodes if n not in deg)
        prev = rank
        if restart is None:
            share = 0 if symmetric else sink_sum // len(nodes)
            rank = {
                n: (teleport + damping_pct * (incoming[n] + share)) // 100
                for n in nodes
            }
        else:
            share = 0 if symmetric else sink_sum // len(restart)
            rank = {
                n: (
                    (seed_tele + damping_pct * share if n in restart else 0)
                    + damping_pct * incoming[n]
                )
                // 100
                for n in nodes
            }
    max_delta = max(abs(rank[n] - prev[n]) for n in nodes)
    return rank, deg, max_delta


# 7 is a pure sink in directed mode; (2, 3) is a parallel edge and
# (4, 4) a self-loop, both collapsed/dropped before iterating
_PR_EDGES = [
    (1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (6, 1), (2, 6),
    (3, 7), (6, 7), (2, 3), (4, 4),
]
_PR_WEIGHTS = [3, 1, 2, 5, 1, 4, 2, 1, 6, 2, 9]
_PR_MODES = {
    "uniform": {},
    "seeded": {"seeds": [1, 5, 99]},
    "weighted": {"weights": _PR_WEIGHTS},
    "warm": {"init": {1: 2_000_000, 2: 500_000, 42: 7}},
    "receipt": {"delta_receipt": True},
}


@pytest.mark.parametrize(
    "symmetric, mode",
    [
        pytest.param(sym, mode, id=str(sym) if mode == "uniform" else f"{mode}-{sym}")
        for mode in _PR_MODES
        for sym in (True, False)
    ],
)
def test_pagerank_r17_shape_matches_reference(spark, symmetric, mode):
    kw = _PR_MODES[mode]
    if "weights" in kw:
        rows = [(s, d, w) for (s, d), w in zip(_PR_EDGES, kw["weights"])]
        e = spark.createDataFrame(rows, "src bigint, dst bigint, w bigint")
    else:
        e = spark.createDataFrame(_PR_EDGES, "src bigint, dst bigint")
    out = graph.pagerank(
        e,
        iterations=5,
        damping_pct=85,
        base=1_000_000,
        symmetric=symmetric,
        seeds=spark.createDataFrame([(s,) for s in kw["seeds"]], "id bigint")
        if "seeds" in kw
        else None,
        weight_col="w" if "weights" in kw else None,
        init_ranks=spark.createDataFrame(list(kw["init"].items()), "node bigint, rank bigint")
        if "init" in kw
        else None,
        delta_receipt=kw.get("delta_receipt", False),
    )
    rank, deg, max_delta = _pagerank_reference(
        _PR_EDGES, 5, 85, 1_000_000, symmetric, **kw
    )
    rows = out.collect()
    got = {r["node"]: (r["rank"], r["degree"]) for r in rows}
    assert got == {n: (rank[n], deg.get(n, 0)) for n in rank}
    if kw.get("delta_receipt"):
        assert {r["max_delta"] for r in rows} == {max_delta}


def test_versioned_upsert_coalesce_contents_and_files(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned

    base = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 101)], "k bigint, val string"
    )
    versioned.versioned_write(df, base, n_files=4)
    upd = spark.createDataFrame(
        [(1, "patched"), (999, "new")], "k bigint, val string"
    )
    v2 = versioned.versioned_upsert(spark, base, upd, ["k"])
    snap = {r["k"]: r["val"] for r in versioned.snapshot_read(spark, base, v2).collect()}
    assert snap[1] == "patched" and snap[999] == "new" and len(snap) == 101
    # the rewrite produced REAL part files and the manifest carries
    # untouched files by reference (count > rewritten set)
    import json
    import os

    mf = json.load(open(os.path.join(base, "_manifests", f"v{v2}.json")))
    assert all(os.path.exists(f) for f in mf["files"])
    new_files = [f for f in mf["files"] if f"/v{v2}/" in f]
    # coalesce may write FEWER files than the touched set, never more
    import pyarrow.parquet as pq

    prev = json.load(open(os.path.join(base, "_manifests", f"v{v2 - 1}.json")))
    touched = [
        f
        for f in prev["files"]
        if {1, 999} & set(pq.read_table(f, columns=["k"]).column("k").to_pylist())
    ]
    assert 1 <= len(new_files) <= max(1, len(touched))
    feed = versioned.change_feed(spark, base, 1, v2, ["k"])
    rows = {(r["k"], r["change_type"]) for r in feed.collect()}
    assert rows == {(1, "update"), (999, "insert")}


def test_second_moments_public_guard(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0],), ([3.0, 4.0],)], "vec array<double>"
    )
    g, s, n = embedstats.second_moments(df, "vec", 2)
    assert n == 2 and s[0] == 4.0 and g[0][0] == 10.0
    empty = df.where(F.lit(False))
    with pytest.raises(ValueError, match="no valid"):
        embedstats.second_moments(empty, "vec", 2)
