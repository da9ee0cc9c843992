"""Deduplication suite for training-data pipelines (BASELINE north-star;
no counterpart in the reference, whose only dedup is exact-row
``drop_duplicates`` at ``/root/reference/preprocess.py:85-89`` → see
clean.drop_duplicate_rows).

Every operator is shuffle-shaped for 100 TB:
- exact/canonical dedup = hash aggregate on the key (one shuffle);
- MinHash-LSH = explode→agg signatures (one shuffle on doc id), then a
  BAND-BUCKET self-join (shuffle on small band keys) — candidate pairs
  only, never the O(n²) cross join;
- SimHash = same explode→agg shape, bucketed by hamming-prefix;
- n-gram Jaccard verification joins only candidate pairs.

Hashes are the portable md5-based family (functions/portable.py) so the
DuckDB oracle can replay them bit-for-bit.

Persistence rule: corpus-sized relations are never cached, and every
candidate-sized frame read more than once (candidate pairs, the delta's
band probe, containment's cold intersections) is a LAZY
``localCheckpoint`` — never ``persist()``. A lazy checkpoint truncates
the plan at once (under AQE the shuffle stages below it run when it is
made; its last stage runs with the first action that reads it) and
leaves no DataFrame cache entry; its blocks go when the caller drops
the result. The one exception is :func:`near_duplicate_clusters`' input
pairs, persisted eagerly and unpersisted before it returns (see there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import MINHASH_PRIME, md5_i64, minhash_coefficients, tokens_col


def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup keeping the minimum id per key group — deterministic
    (unlike dropDuplicates' arbitrary winner), one hash aggregate."""
    return df.groupBy(*key_cols).agg(F.min(F.col(id_col)).alias(id_col))


def doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) distinct pairs — the base relation for set-similarity.

    Repartitions on the id BEFORE the explode: a corpus that arrives as
    few files would otherwise fan out on few cores (explode preserves
    partitioning), serializing all downstream hashing."""
    return (
        df.repartition(F.col(id_col))
        .select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("token"))
        .distinct()
    )


def _shingle_array(toks: "F.Column", k: int) -> "F.Column":
    """The k-word shingles of a token array column, in-row; a doc shorter
    than k tokens is one whole-doc shingle."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")),
    ).otherwise(F.array(F.array_join(toks, " ")))


def doc_shingles(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs, k-word shingles.

    Built JVM-side: tokenize → transform over indices joining k
    consecutive tokens — no Python in the loop, and no shuffle: the
    per-document shingle dedup is an in-row ``array_distinct``.

    The token array is materialized as its own projection FIRST: the
    shingle expression references it O(tokens) times (size, sequence,
    every slice in the transform lambda), and lambda bodies re-evaluate
    outer expressions per element — inlining the regex split there made
    shingling O(tokens²) regex calls per document. CollapseProject keeps
    the split un-inlined because the alias is referenced more than
    once."""
    toked = df.repartition(F.col(id_col)).select(  # repartition: see doc_tokens
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    )
    shingles = _shingle_array(F.col("__toks"), k)
    # shingle dedup is PER-DOCUMENT, so it happens in-row
    # (array_distinct before the explode) — a row-level .distinct()
    # here would shuffle the entire exploded corpus (~tokens× the
    # input) just to deduplicate within each doc's own shingles
    return (
        toked.select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def _doc_gram_sizes(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Per-doc DISTINCT gram count computed IN-ROW — ``(id, sz)`` with
    ``sz = |grams(doc)|`` exactly as :func:`doc_tokens` /
    :func:`doc_shingles` would produce after their explode+distinct,
    but as ``size(array_distinct(...))`` over the per-row gram array:
    a map-side scan with doc-sized output instead of a corpus-sized
    exploded shuffle. The set-similarity denominators' 100 TB shape."""
    toks = tokens_col(F.col(text_col))
    if k == 1:
        return df.select(
            F.col(id_col), F.size(F.array_distinct(toks)).cast("long").alias("sz")
        )
    shingles = _shingle_array(F.col("__toks"), k)
    arr = F.filter(F.array_distinct(shingles), lambda s: s != "")
    return df.select(F.col(id_col), toks.alias("__toks")).select(
        F.col(id_col), F.size(arr).cast("long").alias("sz")
    )


def _doc_grams(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, token) distinct gram pairs: :func:`doc_tokens` for k == 1,
    else :func:`doc_shingles`' k-word shingles under the name ``token``."""
    if k == 1:
        return doc_tokens(df, id_col, text_col)
    return doc_shingles(df, id_col, text_col, k).withColumnRenamed("shingle", "token")


def _drop_hot_grams(
    df: DataFrame, items: DataFrame, id_col: str, max_df: float | None
) -> tuple[DataFrame, DataFrame | None]:
    """``(cold, hot)``: ``items`` without its hot grams, and the hot
    grams — those in more than ``max_df`` of the docs (one driver count
    of the docs). ``(items, None)`` when ``max_df`` is None."""
    if max_df is None:
        return items, None
    n_docs = df.select(id_col).distinct().count()
    hot = (
        items.groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df * n_docs)
        .select("token")
    )
    return items.join(F.broadcast(hot), "token", "left_anti"), hot


def minhash_signatures(
    pairs: DataFrame, id_col: str, item_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per doc: ONE md5 per item, then k pairwise-
    independent Carter-Wegman affine permutations ``(a_i*h + b_i) mod p``
    (constants from portable.minhash_coefficients — the oracle SQL embeds
    the same literals). A k-md5s-per-item family costs 16× the hash
    kernel at k=16; the correlated ``(h1 + i*h2)`` double-hashing
    shortcut is cheap but BROKEN for MinHash (see portable.py). One
    shuffle (groupBy id); hashing happens map-side pre-shuffle."""
    base = pairs.select(
        F.col(id_col),
        (md5_i64(F.col(item_col)) % F.lit(MINHASH_PRIME)).alias("__h"),
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coefficients(num_hashes))
    ]
    return base.groupBy(id_col).agg(*aggs)


def _n_splits_expr(max_bucket: int) -> "F.Column":
    """Splits count for an oversized bucket of ``__n`` members:
    ``2^ceil(log2(ceil(__n / max_bucket)))`` — ceil(n/cap) rounded UP to
    a power of two. Power-of-two counts make sub-assignments NEST across
    bands: ``md5(id) % 512 equal ⇒ md5(id) % 256 equal``, so when the
    same template family lands in slightly-different-sized buckets in
    different bands (near-identical docs always do), the bands' pair
    sets coincide-or-refine instead of being ~independent partitions —
    measured on the 1M-doc skew receipt, the raw ceil(n/cap) scheme's
    cross-band union inflated candidates toward the ×|bands| worst case
    (145M) while the pow2 scheme stays at ~one band's worth. Exact in
    float64: log2 of an exact power of two is exact, other inputs sit
    between integers with margin >> eps, and 2^k for k ≤ 40 is exact —
    so both engines compute identical splits."""
    raw = f"(__n + {max_bucket - 1}) div {max_bucket}"
    return F.expr(f"cast(power(2, ceil(log2({raw}))) as bigint)")


def _split_oversized_buckets(
    banded: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Annotate a (id, band, sig) relation with a deterministic sub-bucket
    column ``__sub`` that hash-splits buckets larger than ``max_bucket``.

    The band self-join emits B²/2 pairs for a bucket of B members, so one
    boilerplate/template family with a million near-identical documents
    would dominate the entire job (the same n²-in-one-bucket failure the
    phash band join and SemDeDup's ``max_block_rows`` already bound).
    The cap:

    - aggregates bucket sizes with map-side partial aggregation (the
      shuffle carries distinct (band, sig) rows, not the corpus);
    - keeps ONLY oversized buckets, a relation bounded by
      ``|banded| / max_bucket`` rows (every member has ≥ max_bucket
      siblings), and broadcasts it — the corpus-sized side never
      shuffles for the annotation;
    - assigns ``__sub = md5_i64(id) % n_splits`` inside oversized
      buckets (0 elsewhere) with ``n_splits = pow2(ceil(n/max_bucket))``
      (:func:`_n_splits_expr` — nesting across bands), so expected
      sub-bucket size is ~max_bucket/2..max_bucket and the pair term
      per bucket falls from B² to ~B·max_bucket.

    RECALL TRADE (documented, deliberate — the SemDeDup precedent): two
    members of a split bucket pair up only if they land in the same
    sub-bucket (probability ~1/n_splits per band). True near-duplicates
    collide in MANY bands, so they get bands× chances; chance
    collisions inside mega-buckets — overwhelmingly template
    boilerplate — are what gets dropped. The split is a pure function of
    (band, sig, bucket size, id), so the DuckDB oracle replays it
    bit-for-bit.
    """
    sizes = banded.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("__n"))
    over = sizes.where(F.col("__n") > max_bucket)
    return (
        banded.join(F.broadcast(over), ["band", "sig"], "left")
        .withColumn(
            "__sub",
            F.when(F.col("__n").isNull(), F.lit(0).cast("bigint")).otherwise(
                md5_i64(F.col(id_col).cast("string")) % _n_splits_expr(max_bucket)
            ),
        )
        .drop("__n")
    )


def _band_rows(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, sig): one row per doc and band, ``sig`` the portable
    60-bit md5 int over the band's signature rows."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            # sig as the portable 60-bit md5 int, not the 32-char hex
            # string: the band self-join shuffles TWO corpus x bands
            # relations on this key, and an 8-byte long quarters the
            # shuffle/spill bytes vs the hex rendering (measured: the
            # 5.5M-doc scale bench overflowed 77 GB of spill on strings)
            F.struct(
                F.lit(b).alias("band"),
                md5_i64(F.concat_ws("_", *parts)).alias("sig"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, "bk.band", "bk.sig")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature (bands × rows-per-band), bucket-join per band,
    emit candidate (a, b) pairs with a < b. The self-join key is
    (band_index, band_hash) — collision probability follows the classic
    S-curve, and the join never materializes non-colliding pairs.

    ``max_bucket`` bounds the per-bucket quadratic: buckets larger than
    the cap are deterministically hash-split into ~max_bucket-sized
    sub-buckets before the self-join (see _split_oversized_buckets for
    the shuffle shape and the documented recall trade). None = uncapped
    (the pre-r14 behavior)."""
    banded = _band_rows(signatures, id_col, num_hashes, bands)
    join_cols = ["band", "sig"]
    if max_bucket is not None:
        banded = _split_oversized_buckets(banded, id_col, max_bucket)
        join_cols.append("__sub")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[F.col(f"a.{c}") == F.col(f"b.{c}") for c in join_cols]
            + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _pair_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """The distinct ids on either side of (id_a, id_b) pairs, named ``id_col``."""
    return (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, items: DataFrame, id_col: str, item_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs only: join each side to its item
    set, count intersections, divide by union. Returns
    (id_a, id_b, jaccard) for pairs ≥ threshold.

    The item relation is first semi-join-reduced to docs that appear in
    some candidate pair — candidates are a tiny fraction of the corpus,
    so every downstream shuffle moves candidate-sized data, not
    corpus-sized data.

    Layout (r10 verdict #3): each candidate doc's items are collected
    into ONE per-doc set row, and the intersection is an in-row
    ``array_intersect`` — so the verify stage shuffles |pairs| rows +
    |cand docs| set rows, never the |pairs| × |items per doc| fan-out
    the previous row-per-item join shape produced (22.6×/decade at the
    550k step came from reshuffling that fan-out on (id_b, item)).

    Two contracts of this shape (r11 ADVICE): zero-intersection
    candidate pairs are DROPPED regardless of ``threshold`` (the
    pre-rewrite inner-join-on-items behavior — a band collision with
    no shared items is noise, not a duplicate), and each candidate
    doc's full item set materializes as one row, so per-doc set size
    must fit a row (fine for shingle/token sets of real documents;
    a pathological doc with 10^8 distinct items would need the old
    row-per-item shape instead)."""
    items = items.join(F.broadcast(_pair_ids(pairs, id_col)), id_col, "left_semi")
    # collect_set = the per-doc item SET (inputs are already distinct
    # (id, item) pairs from doc_tokens/doc_shingles; collect_set keeps
    # the set semantics even if a caller ever passes duplicates)
    sets = items.groupBy(id_col).agg(F.collect_set(item_col).alias("__set"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__set_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__set_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("__set_a", "__set_b")).cast("long")
        )
        .where(F.col("inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (
                    F.size("__set_a").cast("long")
                    + F.size("__set_b").cast("long")
                    - F.col("inter")
                ),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_candidates(
    cands: DataFrame,
    docs: DataFrame,
    id_col: str,
    items_of,
    item_col: str,
    threshold: float,
) -> DataFrame:
    """The candidate → verify tail every pair generator shares: the
    candidate pairs (id_a, id_b) become a lazy local checkpoint (they
    feed the candidate-id list and the verify join), ``docs`` is
    semi-joined to the candidate ids, ``items_of`` re-derives only those
    docs' items — a broadcast-pruned second scan, never cached — and
    :func:`jaccard_verify` scores them."""
    cands = cands.localCheckpoint(eager=False)
    cand_docs = docs.join(F.broadcast(_pair_ids(cands, id_col)), id_col, "left_semi")
    return jaccard_verify(cands, items_of(cand_docs), id_col, item_col, threshold)


def minhash_lsh_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup: shingle → signature → band-bucket
    candidates → exact-Jaccard verify. Output (id_a, id_b, jaccard).
    ``max_bucket`` caps the per-bucket candidate quadratic (see
    lsh_candidate_pairs / _split_oversized_buckets).

    The corpus-sized shingle relation is never cached: it flows through
    exactly one shuffle (the signature groupBy), and the band self-join
    reuses that exchange (ReusedExchange). Verification re-shingles only
    the candidate docs (:func:`_verify_candidates`)."""
    sigs = minhash_signatures(
        doc_shingles(df, id_col, text_col, shingle_k), id_col, "shingle", num_hashes
    )
    return _verify_candidates(
        lsh_candidate_pairs(sigs, id_col, num_hashes, bands, max_bucket),
        df,
        id_col,
        lambda docs: doc_shingles(docs, id_col, text_col, shingle_k),
        "shingle",
        threshold,
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint per doc: bit b of the fingerprint is the
    majority vote of bit b across the (distinct) token hashes.

    Bit b of token t = (md5_i64(t) >> b) & 1. Implemented as one
    explode + one aggregate (sum per bit), all codegen."""
    # hash once in a projection — 16 per-bit aggregates over the SAME
    # md5 would otherwise recompute it 16× per row (no CSE across aggs)
    toks = doc_tokens(df, id_col, text_col).withColumn("h", md5_i64(F.col("token")))
    h = F.col("h")
    aggs = [
        F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*aggs, F.count("*").alias("n_tokens"))
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(1 << b)
        fp = bit if fp is None else fp + bit
    return votes.select(F.col(id_col), fp.cast("bigint").alias("simhash"), "n_tokens")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    ngram: int = 1,
    max_df: float | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via the inverted-index join (pair
    candidates = docs sharing ≥1 gram) + exact verify.

    The inverted index is quadratic in the document frequency of the
    hottest gram — 'the' pairs every doc with every other. ``max_df``
    (fraction of docs) drops those stop-grams from CANDIDATE GENERATION
    only (verification still uses the full sets, so the similarity value
    is exact; only recall of pairs sharing solely stop-grams is traded).
    For large corpora prefer minhash_lsh_near_duplicates outright."""
    # corpus-sized item relation: never cached — the inverted-index
    # self-join reuses one exchange
    items = _doc_grams(df, id_col, text_col, ngram)
    cand_items, _ = _drop_hot_grams(df, items, id_col, max_df)
    a = cand_items.withColumnRenamed(id_col, "id_a")
    b = cand_items.withColumnRenamed(id_col, "id_b")
    cands = (
        a.join(b, on=["token"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_candidates(
        cands,
        df,
        id_col,
        lambda docs: _doc_grams(docs, id_col, text_col, ngram),
        "token",
        threshold,
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_pairs: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup. With ``block_pairs`` (e.g. from an LSH
    bucketing — see similarity.py) only candidates are scored; without,
    the full self-join runs (fine ≤ ~10^5 vectors, NOT the 100 TB path).
    Arrays are cast to double so the result is engine-portable."""
    from .similarity import cosine_expr

    v = df.repartition(F.col(id_col)).select(
        F.col(id_col), F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("v")
    )
    a = v.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    if block_pairs is not None:
        pairs = block_pairs.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cosine", F.round(cosine_expr("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def near_duplicate_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate PAIR relation — the
    step that turns any of the pair generators above (MinHash-LSH,
    SimHash, n-gram Jaccard, embedding-cosine) into dedup CLUSTERS with
    a deterministic canonical representative (min id), the form a
    training-data pipeline actually consumes: keep ``doc_id ==
    cluster_id``, drop the rest.

    Algorithm: hash-min label propagation + pointer halving + EDGE
    CONTRACTION (the Pregel-style rendering of connected components,
    accelerated the way production CC implementations are). Each node
    starts labeled with its own id; every round each node takes the min
    label over itself and its neighbors, label chains are compressed by
    one ``lab <- lab(lab)`` self-join, and the edge set is rewritten to
    ``(lab(a), lab(b))`` with self-loops dropped — so agreeing regions
    leave the edge set and far-apart regions become adjacent through
    their representatives. Fixpoint = component minimum.

    Scale shape: the ITERATION runs only over nodes that appear in a
    pair (candidate-sized, orders of magnitude below the corpus);
    singleton docs join back at the end with ``coalesce(label, id)`` and
    never enter the loop. Contraction bounds the round count at
    O(log n) on every graph shape — propagation+halving alone is
    logarithmic on chains but was measured at 28 rounds on a blocky
    equal-distance match graph where contraction needs 5 — and the
    edge set SHRINKS geometrically, so later rounds cost less, not the
    same. Edges and every label round are lazily
    ``localCheckpoint``-ed: persist alone does NOT truncate the logical
    plan, so Catalyst would re-optimize a lineage that grows by one
    join+agg per round — checkpointing keeps every round's plan O(1),
    and the round's stop probe is its only action.

    Stop rule, the loop's only one: the contracted edge set is EMPTY
    and every label is a ROOT, ``lab(lab(x)) == lab(x)``, both counted
    by one action per round. Empty edges mean every connected pair
    shares a representative, but a node's label can still point at an
    intermediate representative whose own label moved later (forest
    depth grows by ≤ 1 per round and halving compresses one level).
    Once the edges are empty, propagation and contraction are no-ops
    and are skipped, so further rounds are pure pointer doubling until
    every label is a root, i.e. the component minimum. The root test
    costs no join of its own: the round's halving join already pairs
    ``lab(x)`` with ``lab(lab(x))``, and a halving that moves no label
    found every label a root and left the labels unchanged. The test
    compares ids with ids, so it is exact for every id type.
    ``max_iter`` caps the loop at ``2 * max_iter`` rounds.

    Returns (id_col, cluster_id, cluster_size) for EVERY doc in
    ``all_ids``.
    """
    # eager-persist the pair relation BEFORE symmetrizing: the union has
    # two branches over `pairs`, which would otherwise evaluate the whole
    # upstream pair generator (minhash/LSH/verify) twice in one job.
    # Candidate-sized by contract, so materializing it is cheap. The one
    # persist() of this module: a lazy localCheckpoint here instead ran
    # more jobs (at sf0.001 q_entity_resolution 18 → 19, q_dedup_clusters
    # 26 → 28).
    pairs = pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b")).persist()
    pairs.count()
    # LAZY localCheckpoints throughout the loop: localCheckpoint(False)
    # truncates the LOGICAL plan immediately (the returned frame is a
    # LogicalRDD leaf). Under AQE the shuffle stages below it still run
    # when it is made (1-7 jobs per checkpoint in a traced sf0.01
    # q_entity_resolution); only its last stage waits for the round's
    # stop probe. The eager variant cost one more job per checkpoint;
    # on small graphs the fixed per-job driver overhead dominated the
    # candidate-sized shuffles 4:1.
    edges = (
        pairs.unionByName(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # labels seeded ONE propagation step ahead (r17): the initial label
    # is min(own id, min over direct neighbors), one groupBy over the
    # symmetrized edge relation — the SAME node-keyed shuffle the old
    # ``select(a).distinct()`` identity init paid, so the first loop
    # round starts from what used to be its own propagation output and
    # the loop converges one round earlier. Equivalence: this IS the
    # round-1 neighbor-min from identity labels (labels are monotone
    # non-increasing ids within the component, fixpoint unchanged).
    # Per round at sf0.1 ≈ 0.7-1.6 s of fixed driver/stage overhead on
    # a geometrically-shrinking edge set — the saved round is pure
    # overhead (measured: 5 rounds → 4 on the sf0.1 entity-resolution
    # match graph, edge trajectory 5634→738→64→4→0 before vs
    # 2468→264→14→0 after, same output).
    labels = (
        edges.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("__nbrmin"))
        .select(
            F.col("id"),
            F.least(F.col("id"), F.col("__nbrmin")).alias("lab"),
        )
        .localCheckpoint(eager=False)
    )
    # Each round: (1) neighbor-min propagation, (2) pointer halving
    # lab <- lab(lab) (every label is itself a node id in the same
    # component, so one self-join compresses label chains — the lever
    # on chain-shaped components), (3) EDGE CONTRACTION through the
    # fresh labels: (a, b) -> (lab(a), lab(b)), self-loops dropped.
    # Contraction is what kills the round count on dense blocky
    # components: already-agreeing regions disappear from the edge set
    # entirely, and surviving edges connect REPRESENTATIVES, so the
    # component minimum hops between far-apart regions in one round
    # instead of flooding node by node (measured on the sf0.1 customer
    # match graph: 28 rounds without contraction, 5 with; the edge set
    # shrank 5634 -> 738 -> 64 -> 4 -> 0). The stop probe (edges left,
    # labels the halving moved) is the only action per round; it runs
    # the last stage of the round's lazy checkpoints.
    rounds, n_edges = 0, None
    while True:
        rounds += 1
        if rounds > 2 * max_iter:
            raise RuntimeError(
                f"connected components did not converge in {2 * max_iter} rounds"
            )
        propagated = labels
        if n_edges != 0:  # with no edges left, propagation is a no-op
            msgs = edges.join(labels, edges["a"] == labels["id"]).select(
                F.col("b").alias("id"), F.col("lab")
            )
            propagated = (
                labels.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("lab").alias("lab"))
            )
        lablab = propagated.select(
            F.col("id").alias("__lid"), F.col("lab").alias("__llab")
        )
        halved = (
            propagated.join(lablab, propagated["lab"] == lablab["__lid"], "left")
            .select(
                F.col("id"),
                F.coalesce(F.col("__llab"), F.col("lab")).alias("lab"),
                # halving moved x ⟺ its propagated label is not a root
                (F.col("__llab") != F.col("lab")).alias("__moved"),
            )
            .localCheckpoint(eager=False)
        )
        labels = halved.select("id", "lab")
        if n_edges != 0:  # ... and so is contraction
            la = labels.select(F.col("id").alias("__ea"), F.col("lab").alias("__la"))
            lb = labels.select(F.col("id").alias("__eb"), F.col("lab").alias("__lb"))
            edges = (
                edges.join(la, edges["a"] == la["__ea"])
                .join(lb, edges["b"] == lb["__eb"])
                .select(F.col("__la").alias("a"), F.col("__lb").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=False)
            )
        left = edges.select(F.lit(1).alias("__e")).unionByName(
            halved.where(F.col("__moved")).select(F.lit(0).alias("__e"))
        )
        n_left, n_edges = left.agg(
            F.count(F.lit(1)), F.coalesce(F.sum("__e"), F.lit(0))
        ).first()
        if n_left == 0:
            break
    # internal label columns renamed before the final join so a caller
    # id column literally named "id"/"lab" never collides
    final_labels = labels.select(
        F.col("id").alias("__cc_id"), F.col("lab").alias("__cc_lab")
    )
    clustered = (
        all_ids.select(F.col(id_col))
        .join(final_labels, all_ids[id_col] == final_labels["__cc_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__cc_lab"), F.col(id_col)).alias("cluster_id"),
        )
    )
    pairs.unpersist()
    from pyspark.sql import Window

    return clustered.withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
    )


def benchmark_ngram_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination, detection half: for every corpus doc
    sharing at least one token ``n``-gram with ANY benchmark doc, the
    count of distinct shared n-grams. The standard eval-contamination
    check (n-gram collision, as in public LLM training reports).

    Scale shape: the benchmark side is an EVAL SET — thousands of docs,
    not a corpus — so its distinct n-gram set broadcasts; the corpus
    side is the same distinct-shingle relation the MinHash path uses
    (one shuffle), joined map-side against the broadcast set, then one
    candidate-sized aggregate. Docs shorter than ``n`` tokens fall back
    to a whole-doc shingle (doc_shingles' contract), so very short docs
    hit only on exact text equality.

    Returns (id_col, n_shared_ngrams) for HIT docs only — candidate-
    sized, the relation decontaminate() anti-joins against."""
    c = doc_shingles(corpus, id_col, text_col, k=n)
    b = doc_shingles(benchmark, id_col, text_col, k=n).select("shingle").distinct()
    return (
        c.join(F.broadcast(b), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def contamination_score(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_fraction: float = 0.1,
) -> DataFrame:
    """GRADED benchmark contamination — the score between
    :func:`benchmark_ngram_hits` (count only) and :func:`decontaminate`
    (binary drop): per doc, the FRACTION of its distinct token
    ``n``-grams that appear in the benchmark set, for every corpus doc
    (0.0 when clean). A single shared boilerplate phrase should not
    cost a long document (the binary gate drops it); a short doc that
    IS a benchmark answer scores ~1. Same scale shape as the binary
    gate — benchmark grams broadcast, hits candidate-sized — plus the
    in-row denominator scan (:func:`_doc_gram_sizes`; the corpus is
    never shuffled). Returns ``(id, n_grams, n_shared,
    contaminated_frac, keep)`` with ``keep = frac <= max_fraction``."""
    hits = benchmark_ngram_hits(corpus, benchmark, id_col, text_col, n)
    sizes = _doc_gram_sizes(corpus, id_col, text_col, n)
    joined = sizes.join(hits, id_col, "left")
    shared = F.coalesce(F.col("n_shared_ngrams"), F.lit(0)).cast("bigint")
    frac = F.when(
        F.col("sz") > 0, F.round(shared / F.col("sz"), 6)
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col(id_col),
        F.col("sz").alias("n_grams"),
        shared.alias("n_shared"),
        frac.alias("contaminated_frac"),
        (frac <= F.lit(max_fraction)).alias("keep"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination, removal half: corpus rows sharing NO
    token n-gram with the benchmark. The anti-join side is the HIT id
    set (candidate-sized by construction), so it broadcasts no matter
    how large the corpus is — the corpus itself is never shuffled."""
    hit_ids = benchmark_ngram_hits(corpus, benchmark, id_col, text_col, n).select(id_col)
    return corpus.join(F.broadcast(hit_ids), id_col, "left_anti")


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """Sub-document (passage-level) exact dedup — the scalable
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): cut
    each document's token stream into consecutive ``window``-token
    passages, keep only the corpus-wide FIRST occurrence of each
    passage (ordered by (id, passage index) — deterministic on every
    engine), and reassemble documents from their surviving passages.
    Boilerplate repeated across documents (headers, license blocks,
    navigation chrome) disappears from all but one document even when
    the documents as wholes are not duplicates.

    Shape at 100 TB: token split and passage slicing are in-row
    (``transform``+``posexplode``); the first-occurrence rule is ONE
    row_number window over the passage hash key (same shuffle an exact
    dedup pays), and reassembly is ONE aggregate back on the id. Docs
    whose every passage was seen elsewhere survive with empty text —
    dropping them is the caller's policy decision.

    Returns (id_col, kept_text, n_kept, n_total) for every input doc.
    """
    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    from pyspark.sql import Window

    toked = df.repartition(F.col(id_col)).select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    n_seg = F.ceil(n / F.lit(window)).cast("int")
    seg_idx = F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0)))
    passages = F.when(n > 0, F.transform(
        seg_idx, lambda i: F.array_join(F.slice(toks, i * window + 1, window), " ")
    )).otherwise(F.array())
    segs = toked.select(
        F.col(id_col), F.posexplode(passages).alias("seg_idx", "passage")
    )
    first = Window.partitionBy("passage").orderBy(id_col, "seg_idx")
    kept = (
        segs.withColumn("__rn", F.row_number().over(first))
        .withColumn("__kept", F.col("__rn") == 1)
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__kept"),
                            F.struct(F.col("seg_idx"), F.col("passage")),
                        )
                    )
                ),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("kept_text"),
        F.sum(F.col("__kept").cast("int")).alias("n_kept"),
        F.count("*").alias("n_total"),
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_total", F.lit(0)).cast("bigint").alias("n_total"),
        )
    )


def minhash_band_relation(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """(id, band, sig) — the LSH band INDEX relation for a corpus, the
    persistable artifact of an incremental-dedup deployment. MinHash
    signatures are per-document, so a band row computed at index time is
    exactly the row a full rerun would compute; persist this relation as
    a bucketed table on (band, sig) — ``writers.write_bucketed_table`` —
    and every nightly delta batch probes it with NO corpus-side shuffle
    (the probe side alone shuffles to the bucket layout).
    ``sig`` is the portable 60-bit md5 int over the band's signature
    rows (band is part of the join key, so cross-band collisions don't
    matter; 60 bits keep within-band false-candidates below the verify
    stage's noise floor)."""
    sigs = minhash_signatures(
        doc_shingles(df, id_col, text_col, shingle_k), id_col, "shingle", num_hashes
    )
    return _band_rows(sigs, id_col, num_hashes, bands)


def minhash_band_counts(bands: DataFrame) -> DataFrame:
    """(band, sig, n) bucket sizes for a band relation — ONE map-side-
    partial aggregate. Persist this next to the bucketed band index at
    build time (the second index artifact): incremental batches running
    with ``max_bucket`` then derive combined bucket sizes from the
    delta's fresh partial plus this table (broadcast-semi-probed), never
    re-scanning the corpus bands."""
    return bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    corpus_bands: DataFrame | None = None,
    max_bucket: int | None = None,
    corpus_band_counts: DataFrame | None = None,
    check_disjoint: bool = True,
) -> DataFrame:
    """Incremental near-dup: pairs TOUCHING the delta only — each new
    batch checks itself against the already-indexed corpus (and within
    itself) without regenerating corpus-internal pairs. The delta's band
    keys probe the corpus band index (``minhash_band_relation``) plus the
    delta's own bands. Production shape at 100 TB: pass ``corpus_bands``
    read from the bucketed (band, sig) table written at index time —
    the probe join then runs with NO corpus-side Exchange (plan-gated in
    tests/test_plans.py); when ``corpus_bands`` is None both sides are
    derived in-plan, which only adds the one signature shuffle a full
    index build pays anyway.

    Output (id_a, id_b, jaccard), id_a < id_b, every pair containing at
    least one delta document. With ``max_bucket`` unset, the union of
    this with the corpus's own indexed pairs = exactly the full-rerun
    answer. With ``max_bucket`` SET, the contract is (r14 ADVICE):
    DELTA-TOUCHING pairs are exact vs the capped full rerun (bucket
    sizes are counted over the combined corpus ∪ delta relation, so
    both compute identical splits), but corpus-corpus pairs carried by
    an index built BEFORE the delta may be a strict SUPERSET of the
    capped full rerun's — buckets whose combined size raises the split
    count have index-time corpus-corpus pairs the rerun's finer split
    would drop. Pow2 nesting guarantees superset-only (a coarser split
    never separates what a finer split keeps together), never missing
    pairs.

    ``corpus_band_counts``: optional ``(band, sig, n)`` relation
    (:func:`minhash_band_counts` over the SAME corpus_bands, persisted
    at index time) — with ``max_bucket`` set, supplies the corpus side
    of the combined bucket sizes so the cap never re-scans the corpus
    bands; the count is read from the ``n`` column by name (the
    minhash_band_counts contract — a counts table without it fails
    loudly). Ignored when ``max_bucket`` is None.

    FORMAT BREAK (round 6): ``sig`` changed from the 32-char md5 hex
    STRING to the portable 60-bit BIGINT (quarters the band-join
    shuffle bytes). A ``(band, sig)`` table bucketed under the old
    format joins on a different type AND different values — it would
    match ZERO candidates silently; the schema assertion below makes a
    stale index fail loudly instead. Re-index (rewrite the bucketed
    table via ``minhash_band_relation`` + ``write_bucketed_table``) to
    migrate.

    ``delta`` ids must be disjoint from ``corpus`` — CHECKED (r15
    verdict missing #3, the ivfpq_index_append sibling): a delta-sized
    broadcast semi-join count over the corpus id column raises on
    overlap, because a violated precondition previously produced
    silently duplicated band rows (double-probed buckets, phantom
    self-pairs surviving as genuine-looking near-dups) rather than an
    error. One id-column-pruned corpus scan, no corpus-side Exchange
    (the broadcast side is the delta); ``check_disjoint=False`` opts
    out when disjointness is guaranteed upstream (monotonic id
    high-water mark).
    """
    if check_disjoint:
        overlap = corpus.select(id_col).join(
            F.broadcast(delta.select(id_col).distinct()), id_col, "left_semi"
        ).count()
        if overlap:
            raise ValueError(
                f"minhash_lsh_incremental: {overlap} delta id(s) already "
                "present in the corpus — the incremental contract (pairs "
                "touching the delta, union with indexed pairs = full rerun) "
                "requires disjoint ids; dedup the delta or re-index"
            )
    if corpus_bands is None:
        corpus_bands = minhash_band_relation(
            corpus, id_col, text_col, shingle_k, num_hashes, bands
        )
    else:
        from pyspark.sql.types import LongType

        sig_field = corpus_bands.schema["sig"]
        if not isinstance(sig_field.dataType, LongType):
            raise TypeError(
                "corpus_bands.sig must be BIGINT (portable 60-bit md5 int; "
                f"got {sig_field.dataType.simpleString()}). A (band, sig) "
                "index persisted before the round-6 format break stores "
                "md5 hex strings and would match zero candidates — "
                "re-index the corpus with minhash_band_relation."
            )
    # delta-sized by contract: a lazy local checkpoint, so the corpus-probe
    # join and the delta self-join don't each recompute the delta's
    # signatures
    probe = (
        minhash_band_relation(delta, id_col, text_col, shingle_k, num_hashes, bands)
        .withColumnRenamed(id_col, "__id_d")
        .localCheckpoint(eager=False)
    )
    # the corpus probe and the delta self-probe are SEPARATE joins (not a
    # union of the index sides): a union would discard the corpus index's
    # bucketed output partitioning and force the corpus side to shuffle
    corpus_x = corpus_bands.withColumnRenamed(id_col, "__id_x")
    probe_x = probe.select(
        F.col("__id_d").alias("__id_x"), F.col("band"), F.col("sig")
    )
    if max_bucket is None:
        cand_corpus = probe.join(corpus_x, ["band", "sig"])
        cand_delta = probe.join(probe_x, ["band", "sig"])
    else:
        # max_bucket semantics must equal the capped FULL RERUN
        # (lsh_candidate_pairs over corpus ∪ delta) so the incremental
        # contract — "union with indexed corpus pairs = full answer" —
        # survives the cap. Bucket sizes are therefore counted over the
        # COMBINED band relation (corpus index ∪ delta probe).
        #
        # Counting path, by what the caller persisted:
        # - ``corpus_band_counts`` given (the production shape: one
        #   (band, sig, n) aggregate written NEXT TO the index at build
        #   time): only the delta's partial is fresh, and the corpus
        #   counts table is probed with a broadcast semi-join — no
        #   corpus-side pass at all. Buckets the delta never touches
        #   can be ignored outright: they produce no delta-touching
        #   pairs whichever sub-bucket their members get, so dropping
        #   them from ``over`` cannot change the output (the fast tier
        #   finds no probe rows there, the slow tier's corpus rows find
        #   no probe partner).
        # - otherwise: one combined map-side-partial aggregate whose
        #   shuffle carries distinct buckets, not rows — correct but it
        #   re-scans the corpus bands per call (~2x on the sf0.1
        #   receipt; pass the counts table to avoid it).
        #
        # The join then runs in two tiers so the bucketed
        # no-corpus-Exchange fast path survives:
        #   fast — probe rows in NORMAL buckets join the index on
        #     (band, sig) exactly as before (no corpus-side Exchange;
        #     corpus rows in oversized buckets simply find no probe);
        #   slow — probe/corpus rows in OVERSIZED buckets (a relation
        #     bounded by |bands|/max_bucket, broadcast both ways) are
        #     annotated with the same __sub = md5(id) % n_splits the
        #     full rerun computes and join on (band, sig, __sub) —
        #     only the hot-bucket slice pays the re-shuffle.
        if corpus_band_counts is not None:
            if "n" not in corpus_band_counts.columns:
                raise ValueError(
                    "corpus_band_counts must carry the bucket size in a "
                    "column named 'n' (the minhash_band_counts contract); "
                    f"got columns {corpus_band_counts.columns}"
                )
            dc = probe.groupBy("band", "sig").agg(
                F.count(F.lit(1)).alias("__nd")
            )
            touched = corpus_band_counts.select(
                "band", "sig", F.col("n").alias("__nc")
            ).join(F.broadcast(dc.select("band", "sig")), ["band", "sig"], "left_semi")
            over = (
                dc.join(touched, ["band", "sig"], "full")
                .select(
                    "band",
                    "sig",
                    (
                        F.coalesce(F.col("__nd"), F.lit(0))
                        + F.coalesce(F.col("__nc"), F.lit(0))
                    ).alias("__n"),
                )
                .where(F.col("__n") > max_bucket)
            )
        else:
            keys = probe.select("band", "sig").unionAll(
                corpus_bands.select("band", "sig")
            )
            over = (
                keys.groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > max_bucket)
            )

        def _annot(frame: DataFrame, idname: str) -> DataFrame:
            return (
                frame.join(F.broadcast(over), ["band", "sig"])
                .withColumn(
                    "__sub",
                    md5_i64(F.col(idname).cast("string"))
                    % _n_splits_expr(max_bucket),
                )
                .drop("__n")
            )

        probe_fast = probe.join(F.broadcast(over), ["band", "sig"], "left_anti")
        probe_slow = _annot(probe, "__id_d")
        cand_corpus = probe_fast.join(corpus_x, ["band", "sig"]).unionByName(
            _annot(corpus_x, "__id_x")
            .join(probe_slow, ["band", "sig", "__sub"])
            .drop("__sub")
        )
        cand_delta = probe_fast.join(probe_x, ["band", "sig"]).unionByName(
            _annot(probe_x, "__id_x")
            .join(probe_slow, ["band", "sig", "__sub"])
            .drop("__sub")
        )
    cands = (
        cand_corpus.unionByName(cand_delta)
        .where(F.col("__id_d") != F.col("__id_x"))
        .select(
            F.least("__id_d", "__id_x").alias("id_a"),
            F.greatest("__id_d", "__id_x").alias("id_b"),
        )
        .distinct()
    )
    return _verify_candidates(
        cands,
        corpus.unionByName(delta),
        id_col,
        lambda docs: doc_shingles(docs, id_col, text_col, shingle_k),
        "shingle",
        threshold,
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    ngram: int = 1,
    max_df: float | None = None,
) -> DataFrame:
    """ASYMMETRIC set containment |grams(a) ∩ grams(b)| / |grams(a)| —
    the "is document a substantially quoted inside document b" signal
    that symmetric Jaccard misses entirely: a tweet pasted into a long
    article has near-zero Jaccard but containment ≈ 1. The standard
    companion to near-dup detection in training-data curation (quote
    farms, scraped aggregators, boilerplate wrappers around copied
    bodies).

    Same scale shape as :func:`ngram_jaccard_pairs` (inverted-index
    candidates, ``max_df`` drops stop-grams from candidate generation
    only), but the intersection is counted IN the posting self-join
    that generates the candidates: that join already touches exactly
    one row per (pair, shared cold token), so ``groupBy(pair).count()``
    there replaces both the old ``distinct()`` AND the old verify join
    — which re-derived the candidate docs' grams and expanded
    candidates × per-doc grams before intersecting (the dominant
    constant factor: pairs × |doc| rows through a shuffle). The
    max_df-excluded (hot) tokens, absent from the posting join, are
    added back by one candidate-sized join against only the hot-token
    postings (per-doc hot postings ≤ the handful of stop-grams, so the
    correction is O(candidates × hot_grams_per_doc)).

    Emits a row per DIRECTED pair that passes: ``(id_contained,
    id_container, containment)`` with ``id_contained``'s gram set the
    denominator; both directions of an unordered pair can pass (mutual
    containment = near-dup). The intersection is counted once per
    unordered pair and reused for both directions.
    """
    items = _doc_grams(df, id_col, text_col, ngram)
    cand_items, hot = _drop_hot_grams(df, items, id_col, max_df)
    # SELF-join through aliases of the SAME plan (not two renamed
    # copies): Catalyst's exchange reuse then shuffles the gram
    # relation ONCE and feeds both join sides from it — the r8
    # containment-profile run showed the posting join recomputing the
    # whole tokenize+explode per side
    ca, cb = cand_items.alias("__ca"), cand_items.alias("__cb")
    # one row per (pair, shared cold token) -> count = cold intersection
    inter_cold = (
        ca.join(cb, F.col("__ca.token") == F.col("__cb.token"))
        .where(F.col(f"__ca.{id_col}") < F.col(f"__cb.{id_col}"))
        .groupBy(
            F.col(f"__ca.{id_col}").alias("id_a"),
            F.col(f"__cb.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    if hot is not None:
        # candidate-pair-sized; read twice below (pair list + final join)
        inter_cold = inter_cold.localCheckpoint(eager=False)
        hot_items = items.join(F.broadcast(hot), "token", "left_semi")
        ha = hot_items.withColumnRenamed(id_col, "id_a")
        hb = hot_items.withColumnRenamed(id_col, "id_b")
        inter_hot = (
            inter_cold.select("id_a", "id_b")
            .join(ha, "id_a")
            .join(hb, ["id_b", "token"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter_hot"))
        )
        inter = (
            inter_cold.join(inter_hot, ["id_a", "id_b"], "left")
            .select(
                "id_a",
                "id_b",
                (F.col("inter") + F.coalesce(F.col("inter_hot"), F.lit(0))).alias(
                    "inter"
                ),
            )
        )
    else:
        inter = inter_cold
    # denominators IN-ROW: the per-doc distinct gram count is the size
    # of the per-row gram array — one map-side scan of the docs with
    # doc-sized output, replacing the old corpus-sized
    # explode+groupBy(id) shuffle (the r8 profile's second-biggest
    # term); the inner joins below restrict it to candidate docs
    # without a collected id list.
    # ONE-ROW-PER-ID CONTRACT (r8 ADVICE): the in-row denominators are
    # per ROW, so a corpus with duplicate doc ids would fan out the
    # id_a/id_b joins and silently mis-scale the fractions. Enforce it
    # loudly IN-PLAN (no driver action): a doc-sized groupBy on the
    # (id, sz) frame — same key the joins below shuffle on anyway —
    # with a raise_error branch on any id seen twice.
    sizes = (
        _doc_gram_sizes(df, id_col, text_col, ngram)
        .groupBy(id_col)
        .agg(F.max("sz").alias("__sz"), F.count(F.lit(1)).alias("__n"))
        .select(
            F.col(id_col),
            F.when(
                F.col("__n") > 1,
                F.raise_error(
                    F.concat(
                        F.lit("containment_pairs: duplicate doc id '"),
                        F.col(id_col).cast("string"),
                        F.lit("' violates the one-row-per-id contract"),
                    )
                ).cast("long"),
            )
            .otherwise(F.col("__sz"))
            .alias("sz"),
        )
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    scored = inter.join(sa, "id_a").join(sb, "id_b")
    fwd = scored.select(
        F.col("id_a").alias("id_contained"),
        F.col("id_b").alias("id_container"),
        F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
    )
    rev = scored.select(
        F.col("id_b").alias("id_contained"),
        F.col("id_a").alias("id_container"),
        F.round(F.col("inter") / F.col("sz_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).where(F.col("containment") >= threshold)


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Substring-level duplicate spans (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" idea,
    re-expressed relationally): every n-token gram occurring in >=
    ``min_df`` documents marks its covering token positions as
    duplicated; overlapping covered intervals merge into maximal spans
    per document (gaps-and-islands). Unlike document-level MinHash this
    finds the COPIED PASSAGE itself — quote blocks, license headers,
    syndicated paragraphs — inside otherwise-unique documents.

    Scale shape: the gram relation is corpus-token-sized (same budget
    as ``doc_shingles``), grams travel as portable 60-bit md5 ints, and
    the duplicated-gram set comes from ONE (gram → distinct-doc-count)
    aggregate. The positions→dup-grams join shuffles on the gram hash
    (well-spread by construction); the island merge is one per-doc
    window over dup positions only (dup-hit-sized, not corpus-sized).

    Token positions are 1-based. Returns
    ``(id_col, span_start, span_end, span_tokens)`` — one row per
    maximal duplicated span.
    """
    if n < 2:
        raise ValueError(f"duplicate_ngram_spans: n must be >= 2, got {n}")
    from pyspark.sql import Window

    toked = df.repartition(F.col(id_col)).select(  # repartition: see doc_tokens
        F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
    )
    # gram starts 1..len-n+1; sequence() DESCENDS when stop < start, so
    # short documents must short-circuit to an empty array
    starts = F.when(
        F.size("__toks") >= n, F.sequence(F.lit(1), F.size("__toks") - n + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = toked.select(
        F.col(id_col),
        F.explode(starts).alias("pos"),
        F.col("__toks"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        md5_i64(F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos"), n))).alias(
            "gram"
        ),
    )
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("dfc"))
        .where(F.col("dfc") >= min_df)
        .select("gram")
    )
    # plain (non-broadcast) join: a boilerplate-heavy corpus can have a
    # large duplicated-gram vocabulary (cf. the blocklist guard)
    hits = grams.join(dup_grams, "gram").select(
        F.col(id_col), F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    flagged = hits.withColumn(
        "new_span",
        F.when(F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)), 1).otherwise(
            0
        ),
    ).withColumn("span_no", F.sum("new_span").over(w_run))
    return flagged.groupBy(id_col, "span_no").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
    ).select(
        F.col(id_col),
        F.col("span_start"),
        F.col("span_end"),
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
    )


def substring_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
    max_dup_frac: float = 0.3,
) -> DataFrame:
    """Per-document duplicated-token budget from
    ``duplicate_ngram_spans``: total tokens, tokens inside duplicated
    spans, their ratio, and the keep flag (``dup_frac <= max_dup_frac``
    — the substring-dedup document filter). Every input document gets a
    row (no-span docs report 0.0). The span relation is dup-hit-sized,
    so the join back to the corpus adds one bounded shuffle."""
    spans = duplicate_ngram_spans(df, id_col, text_col, n=n, min_df=min_df)
    per_doc = spans.groupBy(id_col).agg(F.sum("span_tokens").alias("dup_tokens"))
    base = df.select(
        F.col(id_col), F.size(tokens_col(F.col(text_col))).alias("n_tokens")
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
        .withColumn("keep_substring", F.col("dup_frac") <= max_dup_frac)
    )


def keep_best_per_cluster(
    clustered: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware cluster representative selection: instead of the
    canonical min-id winner, keep the member with the HIGHEST score
    (quality metric, length, recency …), ties by min id so the choice
    stays total-ordered and replayable. The curation idiom: near-dup
    clusters from any pair generator + a quality score → drop all but
    the best copy of each duplicated document.

    One cluster-partitioned window (row_number over score desc, id
    asc) — a single shuffle on the cluster key; singleton clusters pass
    through trivially. Adds ``keep`` (boolean) and ``cluster_rank``
    (1-based int)."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        clustered.withColumn("cluster_rank", F.row_number().over(w))
        .withColumn("keep", F.col("cluster_rank") == 1)
    )


def template_fingerprint(
    df: DataFrame, text_col: str, out_col: str = "template_fp"
) -> DataFrame:
    """Boilerplate-TEMPLATE fingerprint: lowercase, collapse every
    digit run to ``#``, collapse whitespace, trim, md5 — so "Order 1234
    shipped  2024-01-05" and "order 99 shipped 2024-03-07" collide.
    Exact dedup over this fingerprint catches the template-generated
    page families (receipts, listings, log lines) that token-set
    near-dup misses when the variable fields dominate short documents.
    One in-row regexp chain, scan speed, dialect-portable."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[0-9]+", "#"),
            r"\s+",
            " ",
        )
    )
    return df.withColumn(out_col, F.md5(norm))


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_similarity: float = 0.85,
    num_bits: int = 8,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: drop corpus rows whose
    embedding has cosine SIMILARITY >= ``min_similarity`` to ANY
    benchmark vector — the leakage the 8-gram :func:`decontaminate`
    can't see
    (paraphrased / translated / reformatted eval items share no
    surface n-grams but land next to the benchmark in embedding
    space; Phi/Llama-style training reports decontaminate BOTH ways).

    Candidates = same deterministic sign-LSH bucket (the established
    embedding-near-dup blocking — never all pairs); the benchmark side
    is broadcast (eval suites are tiny next to a 100 TB corpus), so
    the whole hit scan is one map-side join over the bucketed corpus,
    followed by a hit-id-sized anti-join. Same recall trade as every
    LSH tier: a leaked row in a different bucket survives — widen with
    ``num_bits`` ↓ or multiple probes when the benchmark matters.

    Returns the surviving corpus rows (all original columns).
    """
    from . import similarity

    c = corpus.select(
        F.col(id_col).alias("__id"),
        F.expr(similarity._dbl(vec_col)).alias("__cv"),
        similarity.sign_lsh_bucket(vec_col, num_bits).alias("__bucket"),
    )
    b = benchmark.select(
        F.expr(similarity._dbl(vec_col)).alias("__bv"),
        similarity.sign_lsh_bucket(vec_col, num_bits).alias("__bucket"),
    )
    hits = (
        c.join(F.broadcast(b), "__bucket")
        .where(
            F.round(similarity.cosine_expr("__cv", "__bv"), 6)
            >= F.lit(min_similarity)
        )
        .select(F.col("__id").alias(id_col))
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


def prefix_filter_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_micro: int = 600000,
    shingle_k: int = 1,
) -> DataFrame:
    """EXACT token-set Jaccard join via PREFIX FILTERING (the
    AllPairs/PPJoin family) — the third candidate-generation strategy
    in the near-dup tier, complementary to MinHash bands (probabilistic
    recall) and the max_df posting join (drops common-token evidence):
    prefix filtering has BOTH exact recall at the threshold AND bounded
    candidates.

    The invariant: order every doc's distinct tokens by global
    rarity (rank tokens by ascending corpus frequency — the canonical
    total order), keep only each doc's first ``|X| − ⌈t·|X|⌉ + 1``
    tokens (its PREFIX), and any pair with Jaccard ≥ t must collide on
    at least one prefix token — because J ≥ t forces an intersection of
    at least ``⌈t·max(|A|,|B|)⌉`` tokens, which cannot fit entirely in
    both (shorter) suffixes. Rare tokens lead, so prefix postings are
    short precisely where a plain posting join explodes.

    All arithmetic is integer (``⌈t·n⌉ = (t_micro·n + 999999) div 1e6``)
    — no float threshold boundary. A size-ratio pre-filter
    (``min·1e6 ≥ t_micro·max``, another exact J ≥ t consequence) prunes
    candidates before verification; verification joins the candidate
    pairs back to the full token sets for the exact intersection count.

    Plan shape: tokenize scan → vocabulary-sized frequency aggregate →
    per-doc prefix via a DOC-keyed window (the global order is never
    materialized — no vocab-wide rank sort; candidates join on the
    token itself, which is rank-equivalent and stays hash-partitioned)
    → prefix-token equi-join (candidate-sized) → verify join
    (candidate×token-sized). No all-pairs product anywhere; skew is
    bounded because a token's prefix posting only contains docs where
    that token is RARE-ranked.

    Returns ``(id_a, id_b, jaccard_micro)`` with ``id_a < id_b`` and
    ``jaccard_micro >= threshold_micro``. Reference parity: extends
    `/root/reference/preprocess.py`'s exact drop_duplicates toward
    near-dup at scale (same family as :func:`ngram_jaccard_dedup`).
    """
    from pyspark.sql.window import Window

    toks = (
        _doc_grams(df, id_col, text_col, shingle_k)
        .select(F.col(id_col).alias("__id"), F.col("token").alias("__tok"))
        .localCheckpoint(eager=False)
    )
    freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__f"))
    # canonical total order = (ascending corpus frequency, token) — but
    # NEVER materialized as a global dense rank: a vocab-wide
    # row_number would serialize the whole vocabulary through one
    # reducer (and on low-diversity corpora vocab ~ corpus). The order
    # is only ever applied PER DOC (doc-keyed window below), and the
    # candidate join keys on the token itself — same token ⟺ same
    # rank, so the join is equivalent and stays hash-partitioned.
    #
    # Doc size rides the SAME doc-keyed window shuffle as the prefix
    # rank (``count(*) over (partition by __id)``) instead of a separate
    # corpus-scan aggregate joined back on __id — one fewer pass over
    # the token relation and one fewer shuffle, identical integers
    # (r16 optimization; skew-safe: the window partitions by doc id,
    # bounded by doc length, never by token).
    ordered = toks.join(freq, "__tok")
    doc_w = Window.partitionBy("__id")
    pos = F.row_number().over(
        doc_w.orderBy(F.col("__f").asc(), F.col("__tok").asc())
    )
    sz = F.count(F.lit(1)).over(doc_w).cast("bigint")
    prefix_len = F.expr(
        f"__sz - (({threshold_micro} * __sz + 999999) div 1000000) + 1"
    )
    prefix = (
        ordered.withColumn("__pos", pos)
        .withColumn("__sz", sz)
        .where(F.col("__pos") <= prefix_len)
        .select("__id", "__tok", "__sz")
        .localCheckpoint(eager=False)
    )
    a = prefix.select(
        F.col("__id").alias("id_a"), "__tok", F.col("__sz").alias("__sa")
    )
    b = prefix.select(
        F.col("__id").alias("id_b"), "__tok", F.col("__sz").alias("__sb")
    )
    cand = (
        a.join(b, "__tok")
        .where(F.col("id_a") < F.col("id_b"))
        # size-ratio filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
        .where(
            F.least("__sa", "__sb") * 1000000
            >= F.lit(threshold_micro) * F.greatest("__sa", "__sb")
        )
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
        .localCheckpoint(eager=False)
    )
    ta = toks.select(F.col("__id").alias("id_a"), F.col("__tok").alias("__t1"))
    tb = toks.select(F.col("__id").alias("__idb"), F.col("__tok").alias("__t2"))
    inter = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("__idb")) & (F.col("__t1") == F.col("__t2")),
        )
        .groupBy("id_a", "id_b", "__sa", "__sb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__inter"))
    )
    return inter.select(
        "id_a",
        "id_b",
        F.expr("__inter * 1000000 div (__sa + __sb - __inter)").alias(
            "jaccard_micro"
        ),
    ).where(F.col("jaccard_micro") >= threshold_micro)
