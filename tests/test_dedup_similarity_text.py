"""Dedup / similarity / text operators on constructed corpora with known
ground truth (the testdata checks live in the oracle parity gate)."""

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import dedup, similarity, textstats


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different text about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "spark engines completely different text about"), # shuffled 2
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(corpus):
    out = dedup.dedup_exact(corpus, ["text"], "doc_id")
    kept = {r["doc_id"] for r in out.collect()}
    assert 0 in kept and 3 not in kept  # min-id winner, deterministic


def test_minhash_lsh_finds_planted_pair(corpus):
    pairs = dedup.minhash_lsh_near_duplicates(
        corpus, "doc_id", "text", shingle_k=3, num_hashes=16, bands=8, threshold=0.4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 3) in found  # exact dup -> jaccard 1.0
    assert (0, 1) in found  # near dup
    assert all(r["jaccard"] >= 0.4 for r in pairs)


def test_ngram_jaccard_exact_values(corpus):
    pairs = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.99)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 3)] == 1.0
    assert got[(2, 4)] == 1.0  # token-SET jaccard ignores order


def test_ngram_jaccard_max_df_prunes_candidates(corpus):
    # dropping grams in >60% of docs removes 'the'-style stop-grams from
    # candidate generation; the (2,4) pair shares only rare grams -> kept
    pairs = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.99, max_df=0.6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (2, 4) in got


def test_simhash_close_for_near_dups(corpus):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(corpus, "doc_id", "text", 16).collect()}
    assert fp[0] == fp[3]  # identical token set -> identical simhash
    assert fp[2] == fp[4]
    ham01 = bin(fp[0] ^ fp[1]).count("1")
    ham02 = bin(fp[0] ^ fp[2]).count("1")
    assert ham01 <= ham02  # near-dup at most as far as unrelated doc


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        angle = (i % 8) / 8 * 2 * math.pi
        jitter = 0.001 * (i // 8)
        rows.append((i, [math.cos(angle) + jitter, math.sin(angle), 0.1, -0.1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_knn_exact(vectors):
    out = similarity.brute_force_knn(vectors, vectors.where(F.col("vec_id") == 0), k=3)
    rows = out.orderBy("rn").collect()
    assert [r["query_id"] for r in rows] == [0, 0, 0]
    # nearest neighbors of vec 0 are the same-angle vectors 8,16,24...
    assert rows[0]["neighbor_id"] in (8, 16, 24, 32)
    assert rows[0]["cosine"] > 0.999


def test_lsh_knn_subset_of_bucket(vectors):
    out = similarity.lsh_knn(vectors, vectors.where(F.col("vec_id") == 0), k=3, num_bits=2)
    rows = out.collect()
    assert 1 <= len(rows) <= 3
    assert all(r["query_id"] == 0 for r in rows)


def test_ivf_knn_high_recall_on_clustered_vectors(vectors):
    # 8 angular clusters, 8 centroids: a same-cluster neighbor is found
    # as long as the query's own cell is probed (nprobe>=1 guarantees it)
    out = similarity.ivf_knn(
        vectors, vectors.where(F.col("vec_id") == 0), k=3, num_centroids=8, nprobe=2
    )
    rows = out.orderBy("rn").collect()
    assert 1 <= len(rows) <= 3
    assert rows[0]["neighbor_id"] in (8, 16, 24, 32)  # same-angle cluster
    assert rows[0]["cosine"] > 0.999


def test_ivf_centroids_deterministic(vectors):
    a = similarity.ivf_centroids(vectors, num_centroids=4).collect()
    b = similarity.ivf_centroids(vectors, num_centroids=4).collect()
    assert [r["centroid_id"] for r in a] == [r["centroid_id"] for r in b]
    assert len(a) == 4


def test_ivf_trained_quantizer_improves_cell_balance(spark):
    """Angularly skewed corpus (quadratic density: most vectors crowd
    near angle 0, a thin tail stretches to π), k=4: the hashed-id
    sample picks centroids where the IDS are — all four land in the
    dense sector, so the tail piles into the widest cell. Lloyd
    updates (kmeans_centroids) pull centroids toward the mass layout
    and the max cell shrinks. Balance is measured with the same
    assignment rule the ivf_knn plan uses (argmax of 6-dp-rounded
    cosine, ties to the smaller centroid id)."""
    import math
    from collections import Counter

    rows = [
        (i, [math.cos((i / 200) ** 2 * math.pi), math.sin((i / 200) ** 2 * math.pi)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    hashed = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in similarity.ivf_centroids(df, num_centroids=4).collect()
    ]
    trained = similarity.kmeans_centroids(df, k=4, iterations=3)

    def max_cell(cents):
        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(dot / (na * nb), 6)

        counts = Counter()
        for _, v in rows:
            best = min(cents, key=lambda c: (-cos(v, c[1]), c[0]))
            counts[best[0]] += 1
        return max(counts.values())

    assert max_cell(trained) < max_cell(hashed), (
        f"trained {max_cell(trained)} vs hashed {max_cell(hashed)}"
    )


def test_pq_encode_shapes_and_knn_recall_vs_exact(spark):
    """PQ tier: codes are m small labels per vector; ADC top-k must
    recover most of the exact top-k on a corpus with real neighbor
    STRUCTURE: 33 planted direction clusters of ~6 members, so each
    query's exact top-5 IS its co-member set (clearly separated from
    every other cluster). Uniform-random vectors — or fine ranking
    WITHIN a tight cluster — are the adversarial cases where the exact
    order is separated only by noise no compressed representation can
    keep, and recall collapses toward chance by construction.
    Deterministic corpus + deterministic training → the recall value
    is fixed; the floor leaves headroom."""
    import math

    from ai_etl_pipeline_spark.operators import similarity as sim

    def vec(i: int) -> list[float]:
        c = i % 33
        return [
            math.cos((c * 64 + d) * 0.7) + 0.05 * math.sin((i * 64 + d) * 1.3)
            for d in range(64)
        ]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(200)], "vec_id long, embedding array<double>"
    )
    books = sim.pq_train(emb, m=4, codebook_k=32, iterations=2)
    assert len(books) == 4 and all(len(b) == 32 for b in books)

    enc = sim.pq_encode(emb, books)
    rows = enc.collect()
    assert len(rows) == 200
    assert all(len(r["pq_codes"]) == 4 for r in rows)
    assert all(0 <= c < 32 for r in rows for c in r["pq_codes"])

    queries = emb.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_knn(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.pq_knn(emb, queries, k=5, codebooks=books).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"PQ recall@5 collapsed: {recall}"


def test_embedding_near_duplicates_blocked(vectors):
    out = dedup.embedding_near_duplicates(vectors, "vec_id", "embedding", threshold=0.999)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 8) in found  # same angle, tiny jitter


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "el gato y la casa de los perros que"),
            (2, "der hund und die katze mit nicht das"),
            (3, "xyzzy plugh qwerty"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textstats.language_id(df, "text").collect()}
    assert got[0] == "en" and got[1] == "es" and got[2] == "de" and got[3] == "und"


def test_quality_and_tokens(spark):
    df = spark.createDataFrame(
        [(0, "the quick brown fox, 42 times!"), (1, "x")], "doc_id long, text string"
    )
    q = {r["doc_id"]: r for r in textstats.quality_score(df, "text").collect()}
    assert q[0]["n_words"] == 6
    assert q[0]["quality"] > q[1]["quality"]  # one-char doc scores lower
    t = {r["doc_id"]: r for r in textstats.token_counts(df, "text").collect()}
    assert t[0]["ws_tokens"] == 6
    assert t[0]["bpe_tokens"] == 8  # words + '42' + ',' + '!'


def test_fingerprint_collides_for_shuffled_docs(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma alpha beta alpha"), (2, "delta")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(df, "text").collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_hash_sample_deterministic_and_nested(spark):
    from ai_etl_pipeline_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.10).collect()}
    s10b = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.10).collect()}
    s05 = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.05).collect()}
    assert s10 == s10b                      # reproducible
    assert s05 <= s10                       # nested (same salt)
    assert 0.06 < len(s10) / 2000 < 0.14    # near the target rate
    other = {r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.10, salt="x").collect()}
    assert other != s10                     # salt changes the sample


def test_stratified_hash_sample_rates(spark):
    from ai_etl_pipeline_spark.operators import sampling

    rows = [(i, "keep" if i % 2 else "drop") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.stratified_hash_sample(
        df, "doc_id", "grp", {"keep": 1.0}, default_fraction=0.0
    ).collect()
    assert len(out) == 1000
    assert all(r["grp"] == "keep" for r in out)


def test_tfidf_known_values(spark):
    from ai_etl_pipeline_spark.operators import textstats
    import math

    df = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "banana cherry")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["term"]): r
        for r in textstats.tf_idf(df, "doc_id", "text").collect()
    }
    # apple: tf=2 in doc0, df=1, N=2 -> 2 * (ln(3/2)+1)
    expect = round(2 * (math.log(3 / 2) + 1), 6)
    assert got[(0, "apple")]["tf"] == 2
    assert got[(0, "apple")]["df"] == 1
    assert abs(got[(0, "apple")]["tfidf"] - expect) < 1e-6
    # banana appears in both docs -> df=2, idf = ln(3/3)+1 = 1
    assert got[(1, "banana")]["tfidf"] == 1.0


def test_near_duplicate_clusters_components(spark):
    """Chain A-B, B-C must merge into one component labeled min(id);
    disconnected pair D-E its own; F (no pairs) is a singleton."""
    from ai_etl_pipeline_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 4)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    out = dd.near_duplicate_clusters(pairs, all_ids, "doc_id")
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}
    assert got == {
        1: (1, 3), 2: (1, 3), 3: (1, 3),   # chain closes transitively
        4: (4, 2), 5: (4, 2),
        6: (6, 1),                          # singleton never enters the loop
    }


def test_near_duplicate_clusters_long_chain_converges(spark):
    """Diameter > 2 exercises multiple propagation rounds."""
    from ai_etl_pipeline_spark.operators import dedup as dd

    chain = [(i, i + 1) for i in range(1, 10)]  # 1-2-3-...-10
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in range(1, 11)], "doc_id long")
    out = dd.near_duplicate_clusters(pairs, all_ids, "doc_id")
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {1}
    assert all(r["cluster_size"] == 10 for r in rows)


def test_near_duplicate_clusters_chain_logarithmic_rounds(spark):
    """Pointer halving makes convergence O(log diameter): a 64-node
    path must close in ≤ 8 rounds (plain min-propagation would need 63
    — max_iter=8 is the discriminator; simulation says exactly 7)."""
    from ai_etl_pipeline_spark.operators import dedup as dd

    chain = [(i, i + 1) for i in range(64 - 1)]  # 0-1-2-...-63
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    out = dd.near_duplicate_clusters(pairs, all_ids, "doc_id", max_iter=8)
    rows = out.collect()
    assert {r["cluster_id"] for r in rows} == {0}
    assert all(r["cluster_size"] == 64 for r in rows)


def test_near_duplicate_clusters_string_ids(spark):
    """String doc ids through a diameter-2 chain: the old decimal-sum
    convergence check cast ids to NULL on both sides and exited after one
    round, leaving 'c' labeled 'b'. The changed-label count is
    type-independent, so the chain must close transitively."""
    from ai_etl_pipeline_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("e", "d")], "id_a string, id_b string"
    )
    all_ids = spark.createDataFrame(
        [(x,) for x in "abcdef"], "doc_id string"
    )
    out = dd.near_duplicate_clusters(pairs, all_ids, "doc_id")
    got = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in out.collect()}
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "d": ("d", 2), "e": ("d", 2),
        "f": ("f", 1),
    }


def test_gopher_flags_rules(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog ran off with food"),  # good prose
            (2, "x y z"),                                   # too few words
            (3, "### ### ### and the of to with for ok"),  # symbol-heavy
            (4, "1 2 3 4 5 6 7 8 9 10 the and"),           # numeric words
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in ts.gopher_quality_flags(df, "doc_id", "text").collect()}
    assert got[1]["keep_gopher"] is True
    assert got[2]["keep_gopher"] is False  # n_words < 5
    assert got[3]["symbol_word_ratio"] > 0.1 and got[3]["keep_gopher"] is False
    assert got[4]["alpha_word_frac"] < 0.8 and got[4]["keep_gopher"] is False
    assert got[1]["stop_hits"] >= 2


def test_token_entropy_bounds(spark):
    import math

    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),      # zero entropy
            (2, "a b c d"),                  # uniform: ln(4)
            (3, "a a b b"),                  # uniform over 2: ln(2)
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["entropy"] for r in ts.token_entropy(df, "doc_id", "text").collect()}
    assert got[1] == 0.0
    assert abs(got[2] - round(math.log(4), 6)) < 1e-9
    assert abs(got[3] - round(math.log(2), 6)) < 1e-9


def test_domain_blocklist_suffix_semantics_and_path_parity(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    rows = [
        (1, "https://a.b.example.com/x?q=1"),     # blocked via example.com
        (2, "http://user@EXAMPLE.com:8080/y"),    # exact, case/userinfo/port
        (3, "https://example.org/"),               # kept
        (4, "ftp://sub.bad.net/z"),                # blocked via bad.net
        (5, "plainhost/path"),                     # no scheme, kept
        (6, "https://notexample.com/"),            # NOT blocked: not a suffix
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = ["example.com", "bad.net"]

    lit_out = ts.domain_blocklist_filter(df, "url", bl)
    assert sorted(r["doc_id"] for r in lit_out.collect()) == [3, 5, 6]
    # literal path is join-free and shuffle-free
    plan = lit_out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    bl_df = spark.createDataFrame([(d,) for d in bl], "domain string")
    df_out = ts.domain_blocklist_filter(df, "url", bl_df)
    assert sorted(r["doc_id"] for r in df_out.collect()) == [3, 5, 6]

    kept = ts.domain_blocklist_filter(df, "url", bl, keep_blocked=True)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 4]
    assert {r["doc_id"]: r["domain"] for r in kept.collect()}[2] == "example.com"

    with pytest.raises(ValueError):
        ts.domain_blocklist_filter(df, "url", ["x"] * 2000)


def test_curation_metrics_fused_entropy_matches_aggregate(spark, documents):
    """include_entropy's in-row rendering must equal token_entropy's
    explode-aggregate rendering bit-for-bit on every real fixture doc
    (same token set, same log formula, same rounding); zero-token docs
    get a NULL-entropy row here vs no row there."""
    from ai_etl_pipeline_spark.operators import textstats as ts

    docs = documents.limit(100)
    fused = {
        r["doc_id"]: (r["n_tokens"], r["entropy"])
        for r in ts.curation_metrics(
            docs, "doc_id", "text", include_entropy=True
        ).collect()
    }
    agg = {
        r["doc_id"]: (r["n_tokens"], r["entropy"])
        for r in ts.token_entropy(docs, "doc_id", "text").collect()
    }
    assert set(agg) <= set(fused)
    for k, v in agg.items():
        assert fused[k] == v
    for k in set(fused) - set(agg):  # zero-token docs
        assert fused[k][0] == 0 and fused[k][1] is None
    # fused stays a single map-only projection: no exchange in the plan
    plan = (
        ts.curation_metrics(docs, "doc_id", "text", include_entropy=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_entropy_rendering_bench(spark, documents):
    """The include_entropy default (single-expression fold over
    array_sort) must be the measured winner against the split
    rendering (separate explode-aggregate token_entropy + join back)
    — performance claims stay tied to numbers (r5 verdict #8).

    Benchmarked WITH a pushed filter on the entropy column: Catalyst
    substitutes the projection's defining expressions into predicates
    it pushes down, so a rendering can look fine projection-only and
    explode under a filter (the round-6 regression: staged withColumn
    intermediates re-evaluated the sort per element after inlining —
    95 s vs 0.16 s at sf0.1). Corpus = the REAL documents fixture with
    each text concatenated 10x (~550 tokens/doc), where the asymptotic
    gap shows; best-of-3, generous tolerance."""
    import time

    from ai_etl_pipeline_spark.operators import textstats as ts

    docs = (
        documents.select(
            "doc_id",
            F.expr("repeat(text || ' ', 10)").alias("text"),
        )
        .repartition(4)
        .localCheckpoint()
    )

    def fused(df):
        return ts.curation_metrics(
            df, "doc_id", "text", min_stop_hits=1, include_entropy=True
        ).where(F.col("entropy") >= 1.0)

    def split(df):
        m = ts.curation_metrics(
            df, "doc_id", "text", min_stop_hits=1, include_entropy=False
        )
        return m.join(ts.token_entropy(df, "doc_id", "text"), "doc_id").where(
            F.col("entropy") >= 1.0
        )

    def run(fn):
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            fn(docs).agg(F.sum("entropy")).collect()
            best = min(best, time.time() - t0)
        return best

    def fused_nofilter(df):
        return ts.curation_metrics(
            df, "doc_id", "text", min_stop_hits=1, include_entropy=True
        )

    # the shipped default must BE the fold-over-sorted rendering (one
    # aggregate over one array_sort, no staged intermediates) ...
    plan = (
        ts.curation_metrics(docs, "doc_id", "text", include_entropy=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "array_sort" in plan, "include_entropy no longer folds over array_sort"
    # ... pushing a filter must cost inlining-CONSTANT work (<= ~2x the
    # bare projection; the staged-intermediate rendering this replaced
    # measured ~600x here) ...
    t_fused, t_nofilter = run(fused), run(fused_nofilter)
    assert t_fused <= t_nofilter * 5 + 0.5, (
        f"filtered fused metrics ({t_fused:.3f}s) blew up vs the bare "
        f"projection ({t_nofilter:.3f}s) — predicate pushdown is "
        f"re-evaluating an inlined intermediate per element"
    )
    # ... and fused must stay in the same band as the split rendering
    # (they trade a shuffle+join for per-row fold CPU; measured within
    # noise of each other at sf0.1 and here — the wide bound catches
    # asymptotic regressions, not scheduler jitter)
    t_split = run(split)
    assert t_fused <= t_split * 3 + 0.5, (
        f"fused fold rendering ({t_fused:.3f}s) lost badly to the split "
        f"explode+join rendering ({t_split:.3f}s) — re-measure the default"
    )
def test_normalize_and_quantize_embeddings(spark):
    from ai_etl_pipeline_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, [-1.27, 0.635])],
        "vec_id long, embedding array<double>",
    )
    u = {r["vec_id"]: r["unit_vec"] for r in sim.normalize_embeddings(df).collect()}
    assert [round(x, 6) for x in u[1]] == [0.6, 0.8]
    assert u[2] == [0.0, 0.0]  # zero vector passes through
    q = {r["vec_id"]: (r["q_vec"], r["q_scale"]) for r in
         sim.quantize_embeddings_int8(df).collect()}
    assert q[1][0] == [95, 127]  # 3/ (4/127) = 95.25 -> 95
    assert q[2] == ([0, 0], 0.0)
    assert q[3][0] == [-127, 64]  # scale=0.01, -1.27/0.01=-127; 63.5 rounds half-up
    # dequantization error bounded by scale/2 per component
    assert abs(q[1][0][0] * q[1][1] - 3.0) <= q[1][1] / 2 + 1e-12


def test_repetition_stats_duplicate_lines(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "header\nbody one\nheader\n\nheader"),  # 4 non-empty, 2 distinct
            (2, "all\nunique\nlines"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_lines"], r["dup_line_frac"]) for r in
           ts.repetition_stats(df, "doc_id", "text").collect()}
    assert got[1] == (4, 0.5)
    assert got[2] == (3, 0.0)


def test_redact_pii_order_and_counts(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "a@b.io b@c.net"),                      # two emails, adjacent
            (2, "ip 1.2.3.4 ends line 10.20.30.40"),
            (3, "call +49 30 901820 today"),
            (4, "edge: x@y.zz"),                         # 2-char TLD boundary
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ts.redact_pii(df, "text").collect()}
    assert out[1]["text"] == "<EMAIL> <EMAIL>" and out[1]["n_email"] == 2
    assert out[2]["text"] == "ip <IPV4> ends line <IPV4>" and out[2]["n_ipv4"] == 2
    assert out[3]["text"] == "call <PHONE> today" and out[3]["n_phone"] == 1
    assert out[4]["text"] == "edge: <EMAIL>"


def test_ngram_repetition_fractions(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),       # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "w x y z"),           # all n-grams unique
            (3, "solo"),              # shorter than every n -> empty gram arrays
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in ts.ngram_repetition(df, "doc_id", "text").collect()}
    assert out[1]["dup_2gram_frac"] == round(3 / 5, 6)
    assert out[1]["dup_3gram_frac"] == round(2 / 4, 6)   # aba bab aba bab
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["dup_2gram_frac"] == 0.0  # empty -> 0/1
    assert out[3]["n_words"] == 1


def test_decontaminate_ngram_overlap(spark):
    from ai_etl_pipeline_spark.operators import dedup as dd

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine"),
         (101, "tiny doc")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "copied: one two three four five six seven eight and more"),  # shares an 8-gram
            (2, "totally different content with no overlap at all here"),
            (3, "tiny doc"),            # < 8 tokens: whole-doc fallback, exact match
            (4, "tiny document"),       # < 8 tokens, no exact match -> clean
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_shared_ngrams"]
            for r in dd.benchmark_ngram_hits(corpus, bench, "doc_id", "text", n=8).collect()}
    assert 1 in hits and 3 in hits
    assert 2 not in hits and 4 not in hits
    kept = sorted(r["doc_id"] for r in dd.decontaminate(corpus, bench, "doc_id", "text", n=8).collect())
    assert kept == [2, 4]


def test_corpus_profile_stats(spark):
    from ai_etl_pipeline_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "the cat", "en"),
            (2, "the dog runs", "en"),
            (3, "el gato", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    prof = {r["lang"]: r.asDict() for r in ts.corpus_profile(df, "doc_id", "text", "lang").collect()}
    assert prof["en"]["n_docs"] == 2
    assert prof["en"]["total_tokens"] == 5
    assert prof["en"]["vocab"] == 4          # the, cat, dog, runs
    assert prof["en"]["p50_chars"] == 9.5    # lengths 7 and 12, linear interp
    assert prof["es"]["vocab"] == 2


def test_mixture_sample_upsampling(spark):
    from ai_etl_pipeline_spark.operators import sampling

    rows = [(i, "a" if i % 2 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.mixture_sample(
        df, "doc_id", "grp", {"a": 2.0, "b": 0.5}, salt="t"
    ).collect()
    by_id: dict[int, list[int]] = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r["copy_no"])
    a_ids = [i for i in range(1000) if i % 2]
    b_ids = [i for i in range(1000) if not i % 2]
    # integral weight 2.0: every 'a' row exactly twice, copy_no 1 and 2
    assert all(sorted(by_id.get(i, [])) == [1, 2] for i in a_ids)
    # fractional weight 0.5: each 'b' row 0 or 1 times, ~half kept
    b_kept = sum(1 for i in b_ids if i in by_id)
    assert all(by_id[i] == [1] for i in b_ids if i in by_id)
    assert 0.4 < b_kept / len(b_ids) < 0.6
    # deterministic
    out2 = sampling.mixture_sample(df, "doc_id", "grp", {"a": 2.0, "b": 0.5}, salt="t").collect()
    assert sorted((r["doc_id"], r["copy_no"]) for r in out2) == sorted(
        (r["doc_id"], r["copy_no"]) for r in out
    )
    # expected multiplicity matches the weights: |out| ~ 1000 + 250
    assert 1150 < len(out) < 1350


def test_passage_dedup_removes_cross_doc_boilerplate(spark):
    from ai_etl_pipeline_spark.operators.dedup import passage_dedup

    boiler = " ".join(f"b{i}" for i in range(20))
    uniq1 = " ".join(f"u{i}" for i in range(20))
    uniq2 = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [
            (1, boiler + " " + uniq1),
            (2, boiler + " " + uniq2),   # boilerplate passage repeats
            (3, boiler),                 # nothing but the boilerplate
            (4, ""),                     # empty doc
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in passage_dedup(df, window=20).collect()}
    assert out[1].kept_text == boiler + " " + uniq1  # first occurrence keeps all
    assert out[2].kept_text == uniq2                 # boilerplate stripped
    assert out[3].kept_text == "" and out[3].n_kept == 0 and out[3].n_total == 1
    assert out[4].kept_text == "" and out[4].n_total == 0
    assert (out[2].n_kept, out[2].n_total) == (1, 2)


def test_passage_dedup_first_occurrence_is_deterministic(spark):
    from ai_etl_pipeline_spark.operators.dedup import passage_dedup

    text = " ".join(f"t{i}" for i in range(20))
    df = spark.createDataFrame(
        [(i, text) for i in range(10)], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_kept for r in passage_dedup(df, window=20).collect()}
    assert out[0] == 1 and all(out[i] == 0 for i in range(1, 10))


def test_kmeans_lloyd_separates_planted_clusters(spark):
    from ai_etl_pipeline_spark.operators.similarity import kmeans_lloyd

    # two tight planted blobs far apart -> k=2 must split them exactly
    rows = []
    for i in range(20):
        rows.append((i, [10.0 + 0.01 * i, 0.0]))
        rows.append((100 + i, [-10.0 - 0.01 * i, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_lloyd(df, k=2, iterations=3).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r.vec_id < 100, set()).add(r.cluster)
    assert len(by_blob[True]) == 1 and len(by_blob[False]) == 1
    assert by_blob[True] != by_blob[False]
    assert all(r.sq_dist < 1.0 for r in out)


def test_kmeans_lloyd_is_deterministic_and_total(spark, sf_dir):
    from ai_etl_pipeline_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {r.vec_id: (r.cluster, r.sq_dist) for r in kmeans_lloyd(emb, k=4).collect()}
    b = {r.vec_id: (r.cluster, r.sq_dist) for r in kmeans_lloyd(emb, k=4).collect()}
    assert a == b
    assert len(a) == emb.count()
    assert set(c for c, _ in a.values()) <= set(range(4))


def test_kmeans_broadcast_assignment_matches_literal(spark, sf_dir):
    """The broadcast-join assignment (centroids as data) must be
    bit-identical to the literal rendering — same fold order, same
    rounding, same tiebreak."""
    from ai_etl_pipeline_spark.operators.similarity import (
        _assign_broadcast,
        _assign_literal,
        _dbl,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8, iterations=2)
    frame = emb.select("vec_id", F.expr(_dbl("embedding")).alias("__v"))

    def labels(assign):
        return {
            (r.vec_id, r.cluster, r.sq_dist)
            for r in assign(frame, cents).select("vec_id", "cluster", "sq_dist").collect()
        }

    lit = labels(_assign_literal)
    assert lit == labels(_assign_broadcast) and len(lit) > 0


def test_kmeans_auto_uses_broadcast_join_beyond_literal_bound(spark):
    """k×d > LITERAL_ASSIGN_BOUND must auto-select the broadcast-join
    assignment (map-only: BroadcastNestedLoopJoin over one row, no
    hash-partition shuffle) and agree with the literal path exactly."""
    from ai_etl_pipeline_spark.operators.similarity import (
        LITERAL_ASSIGN_BOUND,
        _assign_literal,
        _dbl,
        kmeans_centroids,
        kmeans_lloyd,
    )

    vecs = spark.range(1500).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(1, 8),"
            " j -> cast(pmod(id * j * 2654435761, 1000) as double) / 100.0)"
        ).alias("embedding"),
    )
    k = 1400  # k*d = 11200 > 10_000
    assert k * 8 > LITERAL_ASSIGN_BOUND
    auto = kmeans_lloyd(vecs, "vec_id", "embedding", k=k, iterations=1)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # assignment is map-only
    got = {(r.vec_id, r.cluster, r.sq_dist) for r in auto.collect()}
    cents = kmeans_centroids(vecs, "vec_id", "embedding", k=k, iterations=1)
    frame = vecs.select("vec_id", F.expr(_dbl("embedding")).alias("__v"))
    want = {
        (r.vec_id, r.cluster, r.sq_dist)
        for r in _assign_literal(frame, cents).collect()
    }
    assert got == want and len(got) == 1500


def test_semantic_dedup_drops_higher_id_twin_within_cluster(spark):
    from ai_etl_pipeline_spark.operators.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.01]),   # near-twin of 1 -> dropped (higher id)
        (3, [-1.0, 0.0]),
        (4, [0.0, 1.0]),      # same cluster as 1/2 possibly, but orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=2, iterations=2, threshold=0.95)
    kept = {r.vec_id for r in out.collect()}
    assert 1 in kept and 2 not in kept
    assert 3 in kept and 4 in kept
    # survivors carry their cluster label
    assert "cluster" in out.columns


def test_semantic_dedup_block_bound_guards_degenerate_cluster(spark):
    """One cluster holding ~90% of the corpus (boilerplate embeddings
    collapsed around a point) must NOT produce a corpus-quadratic pair
    join: the guard hash-splits it into ceil(size/bound) sub-blocks,
    every block stays under ~the bound, and survivors are still the
    canonical minima of their (cluster, sub-block). Also: with a bound
    the guard never reaches, the result is byte-identical to the
    unguarded plan (n_sub = 1 everywhere)."""
    from ai_etl_pipeline_spark.functions.portable import md5_i64_py
    from ai_etl_pipeline_spark.operators.similarity import semantic_dedup

    # 180 near-identical vectors (one degenerate cluster) + 20 spread
    rows = [
        (i, [1.0 + (i % 7) * 1e-4, (i % 5) * 1e-4]) for i in range(180)
    ] + [(200 + i, [-1.0 - i * 0.01, 1.0 + i * 0.02]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    bound = 25
    out = semantic_dedup(df, k=2, iterations=2, threshold=0.999, max_block_rows=bound)
    kept = {r.vec_id for r in out.collect()}

    # unguarded reference + its deterministic sub-split, replayed in python
    ref = semantic_dedup(df, k=2, iterations=2, threshold=0.999, max_block_rows=None)
    clusters: dict[int, list[int]] = {}
    for r in ref.select("vec_id", "cluster").collect():
        clusters.setdefault(r.cluster, []).append(r.vec_id)
    # no (cluster, sub) block may exceed ~bound (hash balance slack 2x)
    import math
    from collections import Counter

    for cl, ids in clusters.items():
        n_sub = math.ceil(len(ids) / bound)
        blocks = Counter(md5_i64_py(str(i)) % n_sub for i in ids)
        assert max(blocks.values()) <= 2 * bound, (cl, blocks)
        # survivors of each block are exactly its minima under the twin
        # relation restricted to the block — check the degenerate
        # cluster keeps ~one survivor PER SUB-BLOCK, not one overall
        if len(ids) > bound:
            assert len([i for i in ids if i in kept]) >= n_sub - 1

    # guard with a bound larger than any cluster == unguarded result
    loose = semantic_dedup(df, k=2, iterations=2, threshold=0.999, max_block_rows=10_000)
    assert {r.vec_id for r in loose.collect()} == {r.vec_id for r in ref.collect()}


def test_incremental_minhash_equals_full_rerun_delta_slice(spark, documents):
    from ai_etl_pipeline_spark.operators import dedup

    full = dedup.minhash_lsh_near_duplicates(
        documents, "doc_id", "text", shingle_k=3, num_hashes=16, bands=8,
        threshold=0.5,
    )
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in full.collect()
        if r.id_a % 5 == 0 or r.id_b % 5 == 0
    }
    corpus = documents.where("doc_id % 5 != 0")
    delta = documents.where("doc_id % 5 = 0")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_incremental(
            corpus, delta, "doc_id", "text", shingle_k=3, num_hashes=16,
            bands=8, threshold=0.5,
        ).collect()
    }
    assert got == want


def test_incremental_bucketed_index_equals_in_plan_derivation(
    spark, documents, tmp_path
):
    """The production path (corpus band relation persisted as a
    bucketed table, probed by the delta) returns bit-identical pairs to
    the in-plan derivation — the signature rows are the same relation,
    just persisted."""
    from ai_etl_pipeline_spark.operators import dedup
    from ai_etl_pipeline_spark.sources.writers import write_bucketed_table

    corpus = documents.where("doc_id % 5 != 0")
    delta = documents.where("doc_id % 5 = 0")
    kw = dict(shingle_k=3, num_hashes=16, bands=8, threshold=0.5)
    in_plan = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_incremental(
            corpus, delta, "doc_id", "text", **kw
        ).collect()
    }
    write_bucketed_table(
        dedup.minhash_band_relation(corpus, "doc_id", "text", 3, 16, 8),
        "t_band_index_eq",
        ["band", "sig"],
        num_buckets=8,
        sort_cols=["band", "sig"],
        path=str(tmp_path / "band_index_eq"),
    )
    try:
        bucketed = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.minhash_lsh_incremental(
                corpus, delta, "doc_id", "text",
                corpus_bands=spark.table("t_band_index_eq"), **kw
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS t_band_index_eq")
    assert bucketed == in_plan and len(in_plan) > 0


def test_normalize_text_scrubs_controls_and_whitespace(spark):
    from ai_etl_pipeline_spark.operators.textstats import normalize_text

    df = spark.createDataFrame(
        [
            (1, "  a\tb\n\nc  "),
            (2, "x\x00\x01y"),
            (3, "\x7f"),
            (4, "already clean"),
        ],
        "id long, text string",
    )
    out = {r.id: r.text for r in normalize_text(df, "text").collect()}
    assert out[1] == "a b c"
    assert out[2] == "xy"
    assert out[3] == ""
    assert out[4] == "already clean"


def test_containment_pairs_asymmetric(spark):
    # doc 2 wholly contains doc 1's grams; Jaccard is low but
    # containment(1 in 2) = 1.0; reverse direction fails the threshold
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "iota kappa lambda"),
        ],
        "doc_id long, text string",
    )
    from ai_etl_pipeline_spark.operators import dedup

    out = dedup.containment_pairs(df, "doc_id", "text", threshold=0.9, ngram=1)
    rows = {(r["id_contained"], r["id_container"]): r["containment"] for r in out.collect()}
    assert rows == {(1, 2): 1.0}


def test_containment_mutual_near_dup(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id long, text string",
    )
    from ai_etl_pipeline_spark.operators import dedup

    out = dedup.containment_pairs(df, "doc_id", "text", threshold=0.9, ngram=1)
    got = sorted((r["id_contained"], r["id_container"]) for r in out.collect())
    assert got == [(1, 2), (2, 1)]  # mutual containment = near-dup


def test_boilerplate_unit_removal_lines(spark):
    # the cookie banner appears in 3/4 docs -> blocked at 0.5; body
    # lines survive in original order; doc 4 (banner-only) comes back
    # empty but present
    banner = "accept all cookies"
    df = spark.createDataFrame(
        [
            (1, f"{banner}\nreal content one\nmore text"),
            (2, f"real content two\n{banner}"),
            (3, f"{banner}\nreal content three"),
            (4, banner),
        ],
        "doc_id long, text string",
    )
    from ai_etl_pipeline_spark.operators import textstats

    out = textstats.boilerplate_unit_removal(
        df, "doc_id", "text", max_df_frac=0.5, delimiter="\n"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["text_clean"] == "real content one\nmore text"
    assert rows[1]["n_removed"] == 1 and rows[1]["n_kept"] == 2
    assert rows[2]["text_clean"] == "real content two"
    assert rows[4]["text_clean"] == "" and rows[4]["n_kept"] == 0
    import pytest

    with pytest.raises(ValueError):
        textstats.boilerplate_unit_removal(df, "doc_id", "text", max_df_frac=0.0)


def test_boilerplate_keeps_rare_duplicate_units(spark):
    # a unit repeated WITHIN one doc but present in only that doc is
    # kept (df counts distinct docs, not occurrences)
    df = spark.createDataFrame(
        [(1, "same\nsame\nbody"), (2, "other\nlines"), (3, "unrelated")],
        "doc_id long, text string",
    )
    from ai_etl_pipeline_spark.operators import textstats

    out = textstats.boilerplate_unit_removal(
        df, "doc_id", "text", max_df_frac=0.5, delimiter="\n"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["text_clean"] == "same\nsame\nbody"
