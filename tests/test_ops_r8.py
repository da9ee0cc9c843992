"""Round-8 operators: directed PageRank (dangling sinks), degree-ordered
triangle orientation, strategy-applying auto_join, table_diff NULL
encoding + duplicate-key guard, scheme-less URL passthrough."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ai_etl_pipeline_spark.operators import cdc, graph, relational, textstats


# ---------------------------------------------------------------- pagerank

def test_pagerank_directed_emits_pure_sink_nodes(spark):
    # c has only in-edges: it must appear in the output, with degree 0
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], ["src", "dst"]
    )
    rows = {
        r["node"]: r
        for r in graph.pagerank(e, symmetric=False, iterations=4).collect()
    }
    assert set(rows) == {"a", "b", "c"}
    assert rows["c"]["degree"] == 0
    # the sink accumulates the most rank (everything flows into c)
    assert rows["c"]["rank"] > rows["a"]["rank"]
    assert rows["c"]["rank"] > rows["b"]["rank"]


def test_pagerank_directed_redistributes_dangling_mass(spark):
    # two-node chain a->b: without redistribution b's inflow mass would
    # leak every iteration and total rank would collapse toward the
    # teleport floor; with uniform redistribution the total stays near
    # n*base (integer truncation drift only)
    e = spark.createDataFrame([("a", "b")], ["src", "dst"])
    out = graph.pagerank(e, symmetric=False, iterations=8, base=1_000_000)
    total = out.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 2_000_000) < 2_000_000 * 0.01


def test_pagerank_directed_equals_symmetric_on_symmetric_edges(spark):
    # feeding an explicitly symmetrized edge set through the directed
    # mode must reproduce the symmetric mode exactly (no sinks exist,
    # the dangling term is zero)
    base = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    both = base + [(d, s) for s, d in base]
    e_sym = spark.createDataFrame(base, ["src", "dst"])
    e_dir = spark.createDataFrame(both, ["src", "dst"])
    sym = {
        r["node"]: r["rank"]
        for r in graph.pagerank(e_sym, symmetric=True, iterations=5).collect()
    }
    direct = {
        r["node"]: r["rank"]
        for r in graph.pagerank(e_dir, symmetric=False, iterations=5).collect()
    }
    assert sym == direct


# ---------------------------------------------------------------- triangles

def test_triangle_count_star_graph_zero(spark):
    # a pure hub: O(deg^2) wedges under id-ordering, ZERO under degree
    # ordering — and zero triangles either way
    e = spark.createDataFrame([("h", f"s{i}") for i in range(20)], ["src", "dst"])
    row = graph.triangle_count(e).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (21, 20, 0)


def test_triangle_count_hub_with_closures(spark):
    # hub + 3 spokes + 2 spoke-spoke edges -> exactly 2 triangles
    e = spark.createDataFrame(
        [("h", "s0"), ("h", "s1"), ("h", "s2"), ("s0", "s1"), ("s1", "s2")],
        ["src", "dst"],
    )
    row = graph.triangle_count(e).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 5, 2)


def test_triangle_count_k4_and_duplicate_edges(spark):
    # K4 has 4 triangles; duplicate + reversed edges must not change it
    nodes = ["a", "b", "c", "d"]
    edges = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
    noisy = edges + [(y, x) for x, y in edges] + edges
    e = spark.createDataFrame(noisy, ["src", "dst"])
    row = graph.triangle_count(e).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


# ---------------------------------------------------------------- auto_join

def _plain(left, right, key):
    return sorted(
        tuple(r) for r in left.join(right, key).collect()
    )


def test_auto_join_broadcast_branch_matches_plain_join(spark):
    left = spark.createDataFrame([(i, i % 7) for i in range(200)], ["k", "x"])
    right = spark.createDataFrame([(i, f"v{i}") for i in range(50)], ["k", "v"])
    out = relational.auto_join(left, right, "k")  # right under the budget
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in out.collect()) == _plain(left, right, "k")


def test_auto_join_salted_branch_matches_plain_join(spark):
    # both sides over the (tiny) budget; one key owns >20% of the left
    left = spark.createDataFrame(
        [(1, i) for i in range(60)] + [(i, i) for i in range(2, 42)], ["k", "x"]
    )
    right = spark.createDataFrame([(i, f"v{i}") for i in range(1, 42)], ["k", "v"])
    out = relational.auto_join(left, right, "k", broadcast_rows=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # the salted composite key reached the join
    assert sorted(tuple(r) for r in out.collect()) == _plain(left, right, "k")
    with pytest.raises(ValueError):
        relational.auto_join(left, right, "k", how="left", broadcast_rows=10)


def test_auto_join_salts_the_bigger_side_and_restores_columns(spark):
    # skew on the RIGHT side: auto_join swaps, salts, and restores the
    # caller's column order
    left = spark.createDataFrame([(i, f"v{i}") for i in range(1, 42)], ["k", "v"])
    right = spark.createDataFrame(
        [(1, i) for i in range(60)] + [(i, i) for i in range(2, 42)], ["k", "x"]
    )
    out = relational.auto_join(left, right, "k", broadcast_rows=10)
    assert out.columns == ["k", "v", "x"]
    assert sorted(tuple(r) for r in out.collect()) == _plain(left, right, "k")


def test_auto_join_shuffle_branch_no_broadcast(spark):
    left = spark.createDataFrame([(i % 40, i) for i in range(120)], ["k", "x"])
    right = spark.createDataFrame([(i, f"v{i}") for i in range(40)], ["k", "v"])
    out = relational.auto_join(left, right, "k", broadcast_rows=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert sorted(tuple(r) for r in out.collect()) == _plain(left, right, "k")


# ---------------------------------------------------------------- table_diff

def test_table_diff_null_vs_sentinel_string_is_changed(spark):
    # the round-7 encoding hashed NULL as '<NULL>': a cell changing
    # between SQL NULL and the literal string '<NULL>' was classified
    # unchanged. The flag-byte encoding distinguishes them.
    old = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    new = spark.createDataFrame([(1, "<NULL>"), (2, "x")], "k int, v string")
    status = {
        r["k"]: r["diff_status"]
        for r in cdc.table_diff(old, new, ["k"]).collect()
    }
    assert status == {1: "changed", 2: "unchanged"}


def test_table_diff_null_shift_between_columns_is_changed(spark):
    # ('a', NULL) vs (NULL, 'a') must hash differently
    old = spark.createDataFrame([(1, "a", None)], "k int, u string, v string")
    new = spark.createDataFrame([(1, None, "a")], "k int, u string, v string")
    out = cdc.table_diff(old, new, ["k"]).collect()
    assert out[0]["diff_status"] == "changed"


def test_table_diff_check_unique_raises_on_duplicate_keys(spark):
    old = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    new = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(Exception, match="duplicate key"):
        cdc.table_diff(old, new, ["k"], check_unique=True).collect()
    # unique snapshots pass through the guard untouched
    ok = cdc.table_diff(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"),
        spark.createDataFrame([(1, "a"), (2, "c")], "k int, v string"),
        ["k"],
        check_unique=True,
    ).collect()
    assert {r["k"]: r["diff_status"] for r in ok} == {1: "unchanged", 2: "changed"}


# ------------------------------------------------------------ canonicalize_url

def test_canonicalize_url_schemeless_passthrough(spark):
    df = spark.createDataFrame(
        [
            (1, "relative/Path?utm_source=x&id=3#frag"),
            (2, "just some text"),
            (3, "HTTP://Host.Example.COM:80/P?utm_medium=m&a=1#x"),
        ],
        ["k", "url"],
    )
    out = {
        r["k"]: r["canon_url"]
        for r in textstats.canonicalize_url(df, "url").collect()
    }
    # scheme-less rows pass through minus the fragment — NOT '://...'
    assert out[1] == "relative/Path?utm_source=x&id=3"
    assert out[2] == "just some text"
    assert out[3] == "http://host.example.com/P?a=1"


# ---------------------------------------------------------------- JPEG

def test_jpeg_roundtrip_block_constant_exact():
    from ai_etl_pipeline_spark.operators import multimodal as mm

    w, h = 16, 16
    rows = [[(37 * (x // 8) + 91 * (y // 8) + 5) % 256 for x in range(w)] for y in range(h)]
    enc = mm.encode_jpeg_gray8(w, h, rows)
    assert mm.is_jpeg(enc) and not mm.is_png(enc) and not mm.is_gif(enc)
    d = mm.decode_jpeg(enc)
    exp = round(sum(map(sum, rows)) / (w * h), 3)
    assert (d["width"], d["height"], d["bpp"], d["n_pixels"]) == (w, h, 8, 256)
    assert d["mean_r"] == d["mean_g"] == d["mean_b"] == exp


def test_jpeg_lossy_content_close_and_restart_identical():
    import random

    from ai_etl_pipeline_spark.operators import multimodal as mm

    random.seed(7)
    rows = [[random.randrange(256) for _ in range(24)] for _ in range(16)]
    q = [16] * 64
    plain = mm.decode_jpeg(mm.encode_jpeg_gray8(24, 16, rows, quant=q))
    true_mean = sum(map(sum, rows)) / (24 * 16)
    assert abs(plain["mean_r"] - true_mean) < 8  # quantization error bound
    # restart markers reset DC prediction but must not change pixels
    rst = mm.decode_jpeg(
        mm.encode_jpeg_gray8(24, 16, rows, quant=q, restart_interval=2)
    )
    assert rst == plain


def test_jpeg_decoder_rejects_unsupported_variants():
    import pytest as _pytest

    from ai_etl_pipeline_spark.operators import multimodal as mm

    enc = bytearray(mm.encode_jpeg_gray8(8, 8, [[1] * 8 for _ in range(8)]))
    # flip SOF0 (FFC0) to progressive SOF2 (FFC2): as of r9 SOF2 itself
    # is supported, but a baseline-shaped SOS (Ss=0, Se=63) is an
    # ILLEGAL progressive scan band and must be rejected as such
    i = bytes(enc).find(b"\xff\xc0")
    enc[i + 1] = 0xC2
    with _pytest.raises(ValueError, match="invalid progressive JPEG scan band"):
        mm.decode_jpeg(bytes(enc))
    # lossless SOF3 stays out of scope
    enc[i + 1] = 0xC3
    with _pytest.raises(ValueError, match="baseline"):
        mm.decode_jpeg(bytes(enc))
    with _pytest.raises(ValueError, match="not a JPEG"):
        mm.decode_jpeg(b"\x00\x01\x02")


# ---------------------------------------------------------------- k-core

def test_k_core_peels_chains_keeps_cliques(spark):
    # triangle (a,b,c) + a pendant chain c-d-e: the 2-core is exactly
    # the triangle; the chain peels away over two rounds
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        ["src", "dst"],
    )
    from ai_etl_pipeline_spark.operators import graph

    rows = {r["node"]: r["degree"] for r in graph.k_core(e, 2, iterations=4).collect()}
    assert rows == {"a": 2, "b": 2, "c": 2}
    # 3-core of the same graph is empty
    assert graph.k_core(e, 3, iterations=4).count() == 0


def test_k_core_star_is_empty_at_k2(spark):
    from ai_etl_pipeline_spark.operators import graph

    e = spark.createDataFrame([("h", f"s{i}") for i in range(10)], ["src", "dst"])
    assert graph.k_core(e, 2, iterations=3).count() == 0


def test_q_graph_kcore_leaves_no_cached_frame(spark, sf_dir):
    # k_core caches its first edge set for round 1 and releases it
    # before returning: nothing stays in the session's DataFrame cache
    import __spark_entry__ as entry

    spark.catalog.clearCache()
    entry.q_graph_kcore(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------------------- count-min

def test_countmin_rollup_merge_equals_direct_and_overestimates(spark):
    from ai_etl_pipeline_spark.operators import distinct as dst

    rows = [("s1", f"t{i % 7}") for i in range(70)] + [
        ("s2", f"t{i % 3}") for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["source", "item"])
    # merging per-source sketches must equal sketching globally
    merged = dst.countmin_rollup(df, ["source"], [], "item", depth=3, width=64)
    direct = dst.countmin_rollup(df, [], [], "item", depth=3, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
    # estimates are exact here (few distinct items, wide sketch) and
    # never underestimate by construction
    items = df.select("item").distinct()
    est = {
        r["item"]: r["est_count"]
        for r in dst.countmin_estimate(merged, items, "item", depth=3, width=64).collect()
    }
    exact = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(est[k] >= v for k, v in exact.items())
    assert est == exact  # no collisions at 10 items / 64 buckets... deterministic hash
    # absent item probes 0
    ghost = spark.createDataFrame([("zzz",)], ["item"])
    g = dst.countmin_estimate(merged, ghost, "item", depth=3, width=64).collect()
    assert g[0]["est_count"] == 0


# ------------------------------------------------------------ PSI / CMS dot

def test_population_stability_identical_distributions_zero(spark):
    from ai_etl_pipeline_spark.operators import validate

    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
    out = validate.population_stability(df, df, "v", n_bins=5).collect()
    assert len(out) == 5
    assert all(r["psi_term"] == 0.0 for r in out)
    assert out[0]["psi_total"] == 0.0
    # each decile bin holds ~1/5 of the rows
    assert all(abs(r["ref_share"] - 0.2) < 0.05 for r in out)


def test_population_stability_detects_shift(spark):
    from ai_etl_pipeline_spark.operators import validate

    ref = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
    cur = spark.createDataFrame([(float(i) + 60,) for i in range(1, 101)], ["v"])
    out = validate.population_stability(ref, cur, "v", n_bins=5).collect()
    assert out[0]["psi_total"] > 0.25  # major drift


def test_countmin_inner_product_bounds_join_size(spark):
    from ai_etl_pipeline_spark.operators import distinct as dst

    a = spark.createDataFrame([(str(i % 5),) for i in range(50)], ["k"])
    b = spark.createDataFrame([(str(i % 3),) for i in range(30)], ["k"])
    sa = dst.countmin_rollup(a, [], [], "k", depth=4, width=256)
    sb = dst.countmin_rollup(b, [], [], "k", depth=4, width=256)
    est = dst.countmin_inner_product(sa, sb).collect()[0]["est_join_rows"]
    exact = a.join(b, "k").count()
    assert est >= exact
    assert est <= exact * 2  # wide sketch, tiny key space: near-exact


# ---------------------------------------------------------------- bootstrap

def test_poisson_bootstrap_deterministic_and_near_truth(spark):
    from ai_etl_pipeline_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, 100.0 + (i % 50)) for i in range(2000)], ["rid", "v"]
    )
    a = sorted(map(tuple, sampling.poisson_bootstrap(df, "rid", "v", 8).collect()))
    b = sorted(map(tuple, sampling.poisson_bootstrap(df, "rid", "v", 8).collect()))
    assert a == b and len(a) == 8  # deterministic, one row per replicate
    true_mean = 100.0 + sum(i % 50 for i in range(2000)) / 2000
    means = [r[2] for r in a]
    # every replicate mean lands near the truth (Poisson(1) weights,
    # n=2000 -> se ~ sd/sqrt(n) ~ 0.3; allow 5 se)
    assert all(abs(m - true_mean) < 2.0 for m in means)
    # replicate sizes concentrate around n
    sizes = [r[1] for r in a]
    assert all(abs(s - 2000) < 300 for s in sizes)
    # replicates genuinely differ (it's a resample, not a copy)
    assert len(set(means)) > 1


# ------------------------------------------------------- PPR / contamination

def test_personalized_pagerank_concentrates_near_seed(spark):
    from ai_etl_pipeline_spark.operators import graph

    # path graph a-b-c-d-e, seed at a: mass concentrates at the seed
    # END of the path and decays beyond the seed's neighborhood (b may
    # legitimately outrank the degree-1 seed a itself — it receives
    # ALL of a's walk mass — so the monotone claim starts at b)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["src", "dst"]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    rows = {
        r["node"]: r["rank"]
        for r in graph.pagerank(e, iterations=8, seeds=seeds).collect()
    }
    assert rows["b"] > rows["c"] > rows["d"] > rows["e"]
    assert min(rows["a"], rows["b"]) > max(rows["d"], rows["e"])
    # total mass conserved near n*base (integer truncation only)
    assert abs(sum(rows.values()) - 5_000_000) < 5_000_000 * 0.01
    # r9: directed + seeds is now a supported mode (seed-directed
    # dangling re-entry) — see test_ops_r9 for its semantics
    assert graph.pagerank(e, symmetric=False, seeds=seeds, iterations=2).count() == 5


def test_contamination_score_grades_partial_overlap(spark):
    from ai_etl_pipeline_spark.operators import dedup

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),      # contains the benchmark 8-gram
            (2, "z y x w v u t s r q p o"),      # clean
            (3, "a b c d e f g h"),              # IS the benchmark doc
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(99, "a b c d e f g h")], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.contamination_score(corpus, bench, n=8, max_fraction=0.5).collect()
    }
    assert out[3]["contaminated_frac"] == 1.0 and not out[3]["keep"]
    assert out[2]["contaminated_frac"] == 0.0 and out[2]["keep"]
    # doc 1 has 5 8-grams, exactly 1 shared
    assert out[1]["n_grams"] == 5 and out[1]["n_shared"] == 1
    assert out[1]["contaminated_frac"] == 0.2 and out[1]["keep"]
