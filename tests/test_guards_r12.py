"""Round-12 guard tests — one test per r11 ADVICE.md item so each
fix has executable evidence:

- bloom_index_pruned_scan builds its probe with column functions, so
  a string key containing quotes neither breaks the expression nor
  hashes a different literal than the build side (readers.py)
- compaction_plan group ids use exact bigint division — no double
  off-by-one past 2^53 — and the first-fit docstring semantics hold
  for an oversized file landing mid-group (layout.py)
- retrieval_eval_report's MRR honors the @k cutoff: a hit past rank k
  earns no reciprocal credit (similarity.py)
- jaccard_verify drops zero-intersection candidate pairs even at
  threshold 0 (dedup.py)
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import dedup, layout, similarity
from ai_etl_pipeline_spark.sources import readers


# ---------------------------------------------------------------------------
# bloom_index_pruned_scan: hostile string probe values
# ---------------------------------------------------------------------------

def test_bloom_pruned_scan_quoted_string_key(spark):
    out = tempfile.mkdtemp(prefix="bloomq_")
    try:
        rows = [
            ("it's \"quoted\"", 1),
            ("plain", 2),
            ("o'brien", 3),
        ]
        (
            spark.createDataFrame(rows, "k string, v int")
            .repartition(3, "k")
            .write.mode("overwrite")
            .parquet(out)
        )
        man = readers.bloom_index_manifest(spark, out, "k", m_bits=1 << 10)
        for key, want in rows:
            got = readers.bloom_index_pruned_scan(
                spark, out, man, "k", key, m_bits=1 << 10, value_type="string"
            ).collect()
            assert [(r["k"], r["v"]) for r in got] == [(key, want)]
        # absent key with hostile chars: no error, no rows
        miss = readers.bloom_index_pruned_scan(
            spark, out, man, "k", "no'such\"key", m_bits=1 << 10,
            value_type="string",
        )
        assert miss.count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# compaction_plan: exact integer division + mid-group oversized file
# ---------------------------------------------------------------------------

def test_compaction_plan_exact_division_past_2_53(spark):
    # 99999999999999999 rounds UP to 1e17 as a double, so double
    # division yields group 10^16; exact bigint div yields 10^16 - 1.
    big = 99_999_999_999_999_999
    man = spark.createDataFrame(
        [("d", "a", big), ("d", "b", 1)], "dir string, path string, size_bytes long"
    )
    got = {
        r["path"]: r["compact_group"]
        for r in layout.compaction_plan(man, target_bytes=10).collect()
    }
    assert got["a"] == 0
    assert got["b"] == big // 10  # 9999999999999999, not 10000000000000000


def test_compaction_plan_oversized_mid_group(spark):
    # sizes [3, 12], target 10: the 12-byte file STARTS inside group 0
    # (before=3 -> 3 div 10 = 0), so it shares group 0 rather than
    # getting its own — the documented first-fit closure semantics.
    man = spark.createDataFrame(
        [("d", "a", 3), ("d", "b", 12), ("d", "c", 1)],
        "dir string, path string, size_bytes long",
    )
    got = {
        r["path"]: r["compact_group"]
        for r in layout.compaction_plan(man, target_bytes=10).collect()
    }
    assert got == {"a": 0, "b": 0, "c": 1}  # c: before=15 div 10 = 1


# ---------------------------------------------------------------------------
# retrieval_eval_report: MRR@k cutoff
# ---------------------------------------------------------------------------

def test_retrieval_eval_mrr_honors_k_cutoff(spark):
    # ground truth: query 1's exact top-2 neighbors are 10 (rank 1), 11
    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)], "query_id long, neighbor_id long, rn int"
    )
    # tier returns 3 rows but the only true hit sits at rn=3 > k=2:
    # nDCG pivots ignore it, and (post-fix) MRR must too.
    tier = spark.createDataFrame(
        [(1, 97, 1), (1, 98, 2), (1, 10, 3)],
        "query_id long, neighbor_id long, rn int",
    )
    row = similarity.retrieval_eval_report(exact, {"t": tier}, k=2).collect()[0]
    assert row["mrr_micro"] == 0
    assert row["ndcg_micro"] == 0
    # control: hit at rn=2 inside the cutoff earns 1/2
    tier2 = spark.createDataFrame(
        [(1, 97, 1), (1, 10, 2)], "query_id long, neighbor_id long, rn int"
    )
    row2 = similarity.retrieval_eval_report(exact, {"t": tier2}, k=2).collect()[0]
    assert row2["mrr_micro"] == 500000


# ---------------------------------------------------------------------------
# driver-side quantizer training: bit-identical to the distributed path
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("iterations", [2, 3])
def test_local_quantizer_training_matches_distributed(spark, sf_dir, iterations):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train = similarity.hash_ranked_sample(emb, "vec_id", 64).localCheckpoint()
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in train.collect()
    ]
    assert similarity.kmeans_centroids_local(
        rows, k=8, iterations=iterations
    ) == similarity.kmeans_centroids(train, "vec_id", "embedding", 8, iterations)
    assert similarity.pq_train_local(
        rows, m=4, codebook_k=16, iterations=iterations
    ) == similarity.pq_train(train, "vec_id", "embedding", 4, 16, iterations)


def test_training_loop_argmin_branches_agree(spark, sf_dir, monkeypatch):
    """pq_train's Lloyd loop inlines the codebooks as literals while
    k·d fits LITERAL_ASSIGN_BOUND and ships them as broadcast data past
    it; both branches must train the same books."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    train = similarity.hash_ranked_sample(emb, "vec_id", 64).localCheckpoint()
    literal = (
        similarity.kmeans_centroids(train, "vec_id", "embedding", 8, 3),
        similarity.pq_train(train, "vec_id", "embedding", 4, 16, 3),
    )
    monkeypatch.setattr(similarity, "LITERAL_ASSIGN_BOUND", 0)
    assert not similarity._literal_fits(1, 1)
    broadcast = (
        similarity.kmeans_centroids(train, "vec_id", "embedding", 8, 3),
        similarity.pq_train(train, "vec_id", "embedding", 4, 16, 3),
    )
    assert broadcast == literal


# (entry point, trains on collected rows, operator the error names): the
# two distributed k-means entry points run pq_train's loop
EMPTY_INPUT_TRAINERS = [
    ("kmeans_lloyd", False, "pq_train"),
    ("kmeans_centroids", False, "pq_train"),
    ("pq_train", False, "pq_train"),
    ("kmeans_centroids_local", True, "kmeans_centroids_local"),
    ("kmeans_centroids_local_np", True, "kmeans_centroids_local_np"),
    ("pq_train_local", True, "pq_train_local"),
]


@pytest.mark.parametrize(
    "op, local, reported", EMPTY_INPUT_TRAINERS, ids=[t[0] for t in EMPTY_INPUT_TRAINERS]
)
def test_trainers_reject_empty_training_input(spark, op, local, reported):
    empty = [] if local else spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=f"^{reported}: empty training input"):
        getattr(similarity, op)(empty)


def test_round6_matches_spark_half_up():
    # Python round() is banker's: round(0.0000005, 6) == 0.0; Spark's
    # HALF_UP on the exact binary value of 2.5e-6 (which is slightly
    # below 0.0000025) truncates, while 3.5e-6 (slightly above) bumps.
    from ai_etl_pipeline_spark.operators.similarity import _round6

    assert _round6(1.0000005000000001) == 1.000001
    assert _round6(-1.0000005000000001) == -1.000001
    assert _round6(0.1) == 0.1
    assert _round6(2.0) == 2.0


# ---------------------------------------------------------------------------
# jaccard_verify: zero-intersection pairs never surface
# ---------------------------------------------------------------------------

def test_jaccard_verify_drops_zero_intersection_at_threshold_zero(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    items = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (3, "z")], "doc_id long, item string"
    )
    got = dedup.jaccard_verify(pairs, items, "doc_id", "item", threshold=0.0)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    assert (1, 3) not in rows  # zero intersection: dropped, not jaccard=0
    assert rows[(1, 2)] == pytest.approx(0.5, abs=1e-9)  # |{a}| / |{a,b}|


# ---------------------------------------------------------------------------
# join_delta: the IVM identity in bag semantics
# ---------------------------------------------------------------------------

def test_join_delta_equals_multiset_view_difference(spark):
    from ai_etl_pipeline_spark.operators import cdc

    bl = spark.createDataFrame(
        [(1, "a"), (1, "a2"), (2, "b")], "k long, lv string"
    )
    dl = spark.createDataFrame([(2, "b_new"), (3, "c_new")], "k long, lv string")
    br = spark.createDataFrame([(1, "x"), (3, "y")], "k long, rv string")
    dr = spark.createDataFrame([(1, "x_new"), (2, "z_new")], "k long, rv string")
    delta = cdc.join_delta(bl, dl, br, dr, on=["k"])
    old = bl.join(br, "k")
    new = bl.unionByName(dl).join(br.unionByName(dr), "k")
    # bag difference: exceptAll is multiset-aware on both sides
    expected = new.exceptAll(old)
    assert delta.exceptAll(expected).count() == 0
    assert expected.exceptAll(delta).count() == 0
    assert delta.count() == expected.count()  # duplicates preserved


def test_join_delta_empty_deltas_yield_empty(spark):
    from ai_etl_pipeline_spark.operators import cdc

    bl = spark.createDataFrame([(1, "a")], "k long, lv string")
    br = spark.createDataFrame([(1, "x")], "k long, rv string")
    empty_l = bl.where("1=0")
    empty_r = br.where("1=0")
    assert cdc.join_delta(bl, empty_l, br, empty_r, on=["k"]).count() == 0


# ---------------------------------------------------------------------------
# versioned.vacuum: snapshot expiration never deletes referenced files
# ---------------------------------------------------------------------------

def test_vacuum_keeps_carried_forward_files(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned

    base = str(tmp_path / "store")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, val string")
    versioned.versioned_write(df, base, n_files=4)
    # two copy-on-write upserts: most v1 files carry forward by reference
    versioned.versioned_upsert(
        spark, base, spark.createDataFrame([(1, "x")], "k long, val string"), ["k"]
    )
    versioned.versioned_upsert(
        spark, base, spark.createDataFrame([(2, "y")], "k long, val string"), ["k"]
    )
    dry = versioned.vacuum(base, keep_versions=1, dry_run=True)
    assert dry["expired_versions"] == [1, 2]
    # dry run deletes nothing
    assert versioned.list_versions(base) == [1, 2, 3]
    before = {(r["k"], r["val"]) for r in versioned.snapshot_read(spark, base, 3).collect()}

    res = versioned.vacuum(base, keep_versions=1)
    assert versioned.list_versions(base) == [3]
    # v3 still reads bit-identically: carried-forward v1 files survived
    after = {(r["k"], r["val"]) for r in versioned.snapshot_read(spark, base, 3).collect()}
    assert after == before
    import os
    for f in res["removed_files"]:
        assert not os.path.exists(f)
    for f in res["kept_files"]:
        assert os.path.exists(f)
    # removed and kept are disjoint
    assert not set(res["removed_files"]) & set(res["kept_files"])


def test_vacuum_refuses_zero_keep(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned
    import pytest as _pytest

    base = str(tmp_path / "store2")
    versioned.versioned_write(
        spark.createDataFrame([(1, "a")], "k long, val string"), base
    )
    with _pytest.raises(ValueError, match="keep_versions"):
        versioned.vacuum(base, keep_versions=0)


# ---------------------------------------------------------------------------
# change_feed: CDF between versions, manifest-pruned
# ---------------------------------------------------------------------------

def test_change_feed_images_and_no_phantoms(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned

    base = str(tmp_path / "cf")
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(40)], "k long, s string, x long"
    )
    versioned.versioned_write(df, base, n_files=4)
    upd = spark.createDataFrame(
        [(1, "v1x", 999), (100, "new", -1)], "k long, s string, x long"
    )
    v2 = versioned.versioned_upsert(spark, base, upd, ["k"])
    feed = versioned.change_feed(spark, base, 1, v2, ["k"]).collect()
    by_key = {r["k"]: r for r in feed}
    # exactly the touched keys — rewritten-file copies of untouched
    # rows cancel in the null-safe filter (no phantom updates)
    assert set(by_key) == {1, 100}
    assert by_key[1]["change_type"] == "update"
    assert (by_key[1]["old_s"], by_key[1]["new_s"]) == ("v1", "v1x")
    assert (by_key[1]["old_x"], by_key[1]["new_x"]) == (10, 999)
    assert by_key[100]["change_type"] == "insert"
    assert by_key[100]["old_s"] is None and by_key[100]["new_x"] == -1


def test_change_feed_update_to_all_null_values_is_update_not_delete(spark, tmp_path):
    from ai_etl_pipeline_spark.sources import versioned

    base = str(tmp_path / "cf2")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    versioned.versioned_write(df, base, n_files=1)
    upd = spark.createDataFrame([(1, None)], "k long, s string")
    v2 = versioned.versioned_upsert(spark, base, upd, ["k"])
    feed = versioned.change_feed(spark, base, 1, v2, ["k"]).collect()
    # the presence marker (not value nullness) keys the op: an all-NULL
    # post-image row is an UPDATE, never a delete
    assert [(r["k"], r["change_type"], r["old_s"], r["new_s"]) for r in feed] == [
        (1, "update", "a", None)
    ]


# ---------------------------------------------------------------------------
# deletion-neighborhood candidates: recall 1.0 at d=1, verify kills over-reach
# ---------------------------------------------------------------------------

def test_deletion_candidates_match_blocked_tier_exactly(spark):
    from ai_etl_pipeline_spark.operators import linkage

    rows = [
        (1, "alpha", 0), (2, "alphb", 0),   # substitution (d=1)
        (3, "alpha!", 0),                    # insertion vs 1 (d=1)
        (4, "alph", 0),                      # deletion vs 1 (d=1)
        (5, "alpha", 0),                     # exact duplicate of 1
        (6, "ab", 0), (7, "ba", 0),          # d=2 but sharing deletion variant "b"
        (8, "zzzzz", 0),                     # singleton
        (9, "alpha", 1),                     # same name, DIFFERENT block
    ]
    df = spark.createDataFrame(rows, "rid long, name string, blk int")
    from pyspark.sql import functions as F

    out_del = linkage.entity_resolution(
        df, "rid", "name", [F.col("blk")], max_distance=1, candidates="deletion"
    )
    out_blk = linkage.entity_resolution(
        df, "rid", "name", [F.col("blk")], max_distance=1, candidates="blocked"
    )
    a = sorted((r["rid"], r["entity_id"], r["entity_size"]) for r in out_del.collect())
    b = sorted((r["rid"], r["entity_id"], r["entity_size"]) for r in out_blk.collect())
    assert a == b
    ent = {r[0]: r[1] for r in a}
    assert ent[1] == ent[2] == ent[3] == ent[4] == ent[5] == 1  # one entity
    assert ent[6] != ent[7]  # "ab"/"ba" over-reach killed by the verify
    assert ent[8] == 8 and ent[9] == 9  # singleton + cross-block isolation


def test_deletion_candidates_rejected_above_d1(spark):
    from ai_etl_pipeline_spark.operators import linkage
    from pyspark.sql import functions as F
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a", 0)], "rid long, name string, blk int")
    with _pytest.raises(ValueError, match="max_distance == 1"):
        linkage.entity_resolution(
            df, "rid", "name", [F.col("blk")], max_distance=2, candidates="deletion"
        )


# ---------------------------------------------------------------------------
# scd2_lookup_join: PIT semantics, no fanout, shared-lineage safety
# ---------------------------------------------------------------------------

def test_scd2_lookup_join_pit_semantics(spark):
    from ai_etl_pipeline_spark.operators import cdc

    hist = spark.createDataFrame(
        [(1, 10, "v1"), (1, 20, "v2"), (1, 20, "v2b"), (2, 5, "w1")],
        "k long, eff long, attr string",
    )
    dim = cdc.scd2_snapshot(hist, ["k"], "eff", "attr").select(
        "k", "attr", "valid_from", "valid_to"
    )
    facts = spark.createDataFrame(
        [(1, 10), (1, 15), (1, 20), (1, 99), (2, 1), (3, 7)],
        "k long, ts long",
    )
    out = {
        (r["k"], r["ts"]): r["attr"]
        for r in cdc.scd2_lookup_join(facts, dim, ["k"], "ts").collect()
    }
    assert out[(1, 10)] == "v1" and out[(1, 15)] == "v1"
    # effective-time tie: v2's interval is zero-width, v2b wins at ts=20
    assert out[(1, 20)] == "v2b" and out[(1, 99)] == "v2b"
    assert out[(2, 1)] is None   # before first version
    assert out[(3, 7)] is None   # unknown key, left join
    # exactly one row per fact — validity ranges cannot fan out
    assert cdc.scd2_lookup_join(facts, dim, ["k"], "ts").count() == facts.count()


def test_scd2_lookup_join_rejects_column_clash(spark):
    from ai_etl_pipeline_spark.operators import cdc
    import pytest as _pytest

    dim = spark.createDataFrame(
        [(1, 0, None, "x")], "k long, valid_from long, valid_to long, ts string"
    )
    facts = spark.createDataFrame([(1, 5)], "k long, ts long")
    with _pytest.raises(ValueError, match="collide"):
        cdc.scd2_lookup_join(facts, dim, ["k"], "ts")


# ---------------------------------------------------------------------------
# referential_integrity_report: FK orphan counting
# ---------------------------------------------------------------------------


def test_referential_integrity_counts_orphan_rows_and_keys(spark):
    from ai_etl_pipeline_spark.operators import validate

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (3,), (3,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (9,)], "pk long")
    rep = validate.referential_integrity_report(
        child, [("c_fk", "fk", parent, "pk")]
    ).collect()
    assert len(rep) == 1
    r = rep[0]
    # NULL child keys are skipped; keys 2 and 3 are orphaned (1 + 3 rows)
    assert r["child_keys"] == 3
    assert r["orphan_keys"] == 2
    assert r["orphan_rows"] == 4
    assert r["passed"] is False


def test_referential_integrity_intact_fk_passes(spark):
    from ai_etl_pipeline_spark.operators import validate

    child = spark.createDataFrame([(1,), (2,), (2,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    r = validate.referential_integrity_report(
        child, [("ok", "fk", parent, "pk")]
    ).collect()[0]
    assert (r["orphan_keys"], r["orphan_rows"], r["passed"]) == (0, 0, True)


def test_referential_integrity_rejects_duplicate_and_empty_specs(spark):
    from ai_etl_pipeline_spark.operators import validate

    child = spark.createDataFrame([(1,)], "fk long")
    parent = spark.createDataFrame([(1,)], "pk long")
    with pytest.raises(ValueError, match="at least one"):
        validate.referential_integrity_report(child, [])
    with pytest.raises(ValueError, match="duplicate"):
        validate.referential_integrity_report(
            child,
            [("dup", "fk", parent, "pk"), ("dup", "fk", parent, "pk")],
        )
