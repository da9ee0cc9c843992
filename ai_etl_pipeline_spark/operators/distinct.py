"""Distinct-value extraction & sampling (SURVEY.md §2.3 A2/A3, §2.2 P11/P12).

Reference kernels:
- A2 per-column distinct over string columns with total/dup counts:
  ``/root/reference/translate.py:11-34``.
- A3 null-count-per-column: ``/root/reference/preprocess.py:42``.
- P11 head-N sample: ``/root/reference/mapper.py:139-166``.
- P12 per-column value sampling for prompts: ``/root/reference/mapper.py:47-49``.

Scale notes: the counts that only feed logs/prompts use
``approx_count_distinct`` (one pass, no shuffle-per-column); exact
``.distinct()`` frames are produced only for columns whose values feed an
external enrichment (they are then distinct-sized, i.e. small by the
semi-join-reduction argument the reference itself exploits).

The two driver reads of distinct values, :func:`column_samples` and
:func:`extract_unique_text_values`, take a :func:`distinct_values_long`
relation, not a wide frame: a caller that needs both builds the relation
once, caches it, and pays its scan and shuffle once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def string_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]


def column_profiles(df: DataFrame, approx: bool = True) -> dict[str, dict[str, int]]:
    """A2's counting half + A3, as ONE aggregate pass for ALL columns:
    ``{col: {total, non_null, distinct}}``. ``approx=True`` uses HLL
    sketches (±2%) — the right tradeoff when the numbers only feed logs.
    """
    if not df.columns:
        return {}
    distinct_fn = F.approx_count_distinct if approx else F.countDistinct
    aggs: list = [F.count(F.lit(1)).alias("__total")]
    for c in df.columns:
        q = F.col(f"`{c}`")
        aggs.append(F.count(q).alias(f"{c}__nn"))
        aggs.append(distinct_fn(q).alias(f"{c}__d"))
    row = df.select(*aggs).first()
    return {
        c: {"total": row["__total"], "non_null": row[f"{c}__nn"], "distinct": row[f"{c}__d"]}
        for c in df.columns
    }


def null_counts(df: DataFrame) -> dict[str, int]:
    """A3: nulls per column, single pass."""
    if not df.columns:
        return {}
    row = df.select(
        [(F.count(F.lit(1)) - F.count(F.col(f"`{c}`"))).alias(c) for c in df.columns]
    ).first()
    return {c: row[c] for c in df.columns}


def distinct_column_values(df: DataFrame, column: str) -> DataFrame:
    """A2 kernel for ONE column: trimmed, non-null, distinct values as a
    single-column DataFrame named ``value``. Stays distributed — collect
    only happens at the external-API boundary (see enrich.py)."""
    return distinct_values_long(df, [column]).select("value")


def distinct_values_long(df: DataFrame, columns: list[str]) -> DataFrame:
    """A2 for many columns as ONE ``(column, value)`` relation of each
    column's trimmed, non-empty, distinct values, stringified: one scan
    and one shuffle whatever the column count; empty for no columns."""
    cells = F.array(*[
        F.struct(F.lit(c).alias("column"), F.trim(F.col(f"`{c}`").cast("string")).alias("value"))
        for c in columns
    ]) if columns else F.array().cast("array<struct<column:string,value:string>>")
    return df.select(F.inline(cells)).where(F.col("value").isNotNull() & (F.col("value") != "")).distinct()


def _by_column(rows: list, columns: list[str]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {c: [] for c in columns}
    for r in rows:
        out[r["column"]].append(r["value"])
    return {c: sorted(v) for c, v in out.items()}


def extract_unique_text_values(values: DataFrame, columns: list[str]) -> dict[str, list[str]]:
    """A2 end-to-end (``translate.py:11-34``): ``{column: [unique values]}``,
    sorted, from one driver collect of ``columns``' rows of ``values``, a
    :func:`distinct_values_long` relation. Over a cached relation the
    collect is a filter of the cache: no shuffle.

    Driver-collected BY DESIGN: these dicts feed external translation/LLM
    APIs, so they must reach the driver; the distinct() has already
    crushed data-scale → distinct-scale (33k values at reference scale).
    """
    if not columns:
        return {}
    return _by_column(values.where(F.col("column").isin(columns)).collect(), columns)


def head_sample(df: DataFrame, n: int = 2) -> dict[str, list]:
    """P11 (``mapper.py:139-166``): first-n rows as ``{col: [values]}``."""
    rows = df.limit(n).collect()
    return {c: [r[c] for r in rows] for c in df.columns}


def column_samples(values: DataFrame, columns: list[str], n: int = 5) -> dict[str, list[str]]:
    """P12 (``mapper.py:47-49``) for every column from one driver collect:
    each of ``columns``' ``n`` smallest values in ``values``, a
    :func:`distinct_values_long` relation — deterministic, and the bound
    that keeps LLM cost O(1) in table size. Spark's WindowGroupLimit
    keeps the ranking's exchange at ``n`` rows per column and partition."""
    if not columns:
        return {}
    rank = F.row_number().over(Window.partitionBy("column").orderBy("value"))
    ranked = values.where(F.col("column").isin(columns)).withColumn("rank", rank)
    return _by_column(ranked.where(F.col("rank") <= n).collect(), columns)


def random_value_sample(df: DataFrame, column: str, n: int = 10, seed: int = 42) -> list[str]:
    """``translate.py:64``'s ``random.sample(values, 10)`` — as a seeded
    distributed sample over the distinct values (never collects the full
    value set first)."""
    vals = distinct_column_values(df, column)
    return [r["value"] for r in vals.orderBy(F.xxhash64("value", F.lit(seed))).limit(n).collect()]


def numeric_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Single-pass numeric profiling — the statistics half of the data-
    quality pair (``validate.expect`` checks rules, this MEASURES): one
    row per column with count / nulls / distinct / min / max / mean /
    sample-stddev / exact median, all computed in ONE aggregate over
    the corpus and unpivoted with ``stack`` (same lazy shape as the
    expectations report — nothing collects to the driver).

    Exact distinct and exact percentile are deliberate (the oracle
    replays them); swap in approx_count_distinct / percentile_approx
    when profiling feeds dashboards rather than gates."""
    if not cols:
        raise ValueError("numeric_profile() needs at least one column")
    # TWO one-row aggregates, crossJoined (scalar rows — the one-row
    # broadcast rule): mixing DISTINCT aggregates with the percentile
    # in a single agg makes Catalyst plan an Expand that replays every
    # input row once per distinct column PLUS once for the plain leg —
    # a 4x scan multiplier that measured 10.5 s where the two split
    # jobs take ~4.5 s on the same data (r11 bench finding). The plain
    # leg keeps count/min/max/mean/stddev/percentile together (no
    # Expand without distinct); the distinct leg carries only the
    # count_distincts (its own Expand is unavoidable and cheap).
    plain_aggs = []
    distinct_aggs = []
    for c in cols:
        col = F.col(c)
        plain_aggs.extend(
            [
                F.count(col).alias(f"__{c}_n"),
                # coalesce: sum over an empty input is NULL, not 0 (the
                # count aggregates already return 0 — keep them consistent)
                F.coalesce(F.sum(col.isNull().cast("long")), F.lit(0)).alias(
                    f"__{c}_nulls"
                ),
                F.round(F.min(col).cast("double"), 4).alias(f"__{c}_min"),
                F.round(F.max(col).cast("double"), 4).alias(f"__{c}_max"),
                F.round(F.avg(col), 4).alias(f"__{c}_mean"),
                F.round(F.stddev_samp(col), 4).alias(f"__{c}_stddev"),
                F.round(F.expr(f"percentile(`{c}`, 0.5)"), 4).alias(f"__{c}_p50"),
            ]
        )
        distinct_aggs.append(F.count_distinct(col).alias(f"__{c}_distinct"))
    one_row = df.agg(*plain_aggs).crossJoin(
        F.broadcast(df.agg(*distinct_aggs))
    )
    # stack keeps each output position's own type, so the count columns
    # stay bigint end-to-end (a double round-trip would be lossy above
    # 2^53); only the value measures are doubles
    count_measures = ["n", "nulls", "distinct"]
    value_measures = ["min", "max", "mean", "stddev", "p50"]
    stack_args = ", ".join(
        f"'{c}', "
        + ", ".join(f"`__{c}_{m}`" for m in count_measures)
        + ", "
        + ", ".join(f"cast(`__{c}_{m}` as double)" for m in value_measures)
        for c in cols
    )
    names = ", ".join(["column"] + count_measures + value_measures)
    long = one_row.selectExpr(
        f"stack({len(cols)}, {stack_args}) as ({names})"
    )
    return long.select(
        F.col("column"),
        F.col("n"),
        F.col("nulls"),
        F.col("distinct").alias("n_distinct"),
        "min",
        "max",
        "mean",
        "stddev",
        "p50",
    )


def hll_sketch_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    value_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """Mergeable-cardinality rollup: one DataSketches HLL sketch per
    FINE group (``hll_sketch_agg``), coarse groups produced by MERGING
    those sketches (``hll_union_agg``) — never re-scanning the raw
    data. This is the 100 TB cardinality idiom: daily sketches are
    computed once at ingest (fixed ~2^lgK bytes each, any partition
    order), and weekly/monthly/all-time distincts come from unioning
    sketch bytes, so a year of rollups costs 365 sketch merges instead
    of 365 corpus scans. ``approx_count_distinct`` (q_agg_approx) gives
    the estimate but NOT the mergeable intermediate; this returns both:
    ``(coarse_keys..., n_fine_groups, approx_distinct, sketch)``.

    ``coarse_keys`` must be a (possibly empty) subset of ``fine_keys``;
    an empty list rolls everything into one row. The sketch column can
    be persisted (binary) and unioned again later — associative,
    commutative, idempotent by construction.
    """
    missing = [k for k in coarse_keys if k not in fine_keys]
    if missing:
        raise ValueError(f"hll_sketch_rollup: coarse keys {missing} not in fine keys")
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("sketch")
    )
    grouped = fine.groupBy(*coarse_keys) if coarse_keys else fine.groupBy()
    coarse = grouped.agg(
        F.count(F.lit(1)).alias("n_fine_groups"),
        F.hll_union_agg("sketch").alias("sketch"),
    )
    return coarse.select(
        *coarse_keys,
        "n_fine_groups",
        F.hll_sketch_estimate("sketch").alias("approx_distinct"),
        "sketch",
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE aggregate
    pass (`F.corr` co-moments are computed per pair inside a single
    scan — k(k-1)/2 aggregates, not k² scans), unpivoted to the long
    ``(col_x, col_y, corr)`` form with x < y. Rounded to 4 decimals:
    engines accumulate co-moments in different orders, and correlation
    is the one statistic here that divides two such sums."""
    if len(cols) < 2:
        raise ValueError("correlation_matrix: need at least 2 columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    # positional toDF rename before ANY by-name reference: every
    # by-name accessor (F.col, df[name], even df[index] internally)
    # routes through the attribute-name parser, where a stray backtick
    # or quote is a syntax error / injection surface. toDF assigns new
    # names by POSITION, so hostile names never get parsed; the
    # original names only survive as F.lit labels in the output.
    safe = df.toDF(*[f"__cm{i}" for i in range(len(df.columns))])
    ref = {c: F.col(f"__cm{df.columns.index(c)}") for c in cols}
    # corr from co-moments with try_divide: F.corr raises under ANSI
    # mode when a column has zero variance; the manual Pearson form
    # yields NULL there instead (DuckDB/Postgres corr semantics)
    one = safe.agg(
        *[
            F.round(
                F.try_divide(
                    F.covar_samp(ref[a], ref[b]),
                    F.stddev_samp(ref[a]) * F.stddev_samp(ref[b]),
                ),
                4,
            ).alias(f"__corr_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    # unpivot via explode-of-structs, NOT a string-built stack()
    # selectExpr: column names are carried as F.lit values / resolved
    # references, so a name containing a quote or backtick cannot break
    # the parse or inject into SQL
    entries = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col(f"__corr_{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return one.select(F.explode(entries).alias("__e")).select(
        "__e.col_x", "__e.col_y", "__e.corr"
    )


def histogram(
    df: DataFrame, col: str, bins: int = 10
) -> DataFrame:
    """Equi-WIDTH histogram (the dashboard/profiling complement of
    clean.quantile_bins' equi-frequency cut): one min/max aggregate
    broadcast back, bin index in-row as ``floor((x - min) / width)``
    with the max value clamped into the last bin, then one bounded
    groupBy. Returns (bin, bin_lo, bin_hi, n_rows) for NON-EMPTY bins
    (left-closed right-open intervals except the last, which is
    closed). NULLs are excluded; a constant column degenerates to one
    bin holding everything."""
    if bins < 1:
        raise ValueError(f"histogram: bins must be >= 1, got {bins}")
    b = df.agg(
        F.min(F.col(col)).cast("double").alias("__mn"),
        F.max(F.col(col)).cast("double").alias("__mx"),
    )
    with_b = df.where(F.col(col).isNotNull()).crossJoin(F.broadcast(b))
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(bins))
    idx = F.when(
        F.col("__mx") == F.col("__mn"), F.lit(0)
    ).otherwise(
        F.least(
            F.floor((F.col(col).cast("double") - F.col("__mn")) / width),
            F.lit(bins - 1),
        )
    ).cast("int")
    return (
        with_b.withColumn("bin", idx)
        .withColumn("bin_lo", F.round(F.col("__mn") + F.col("bin") * width, 6))
        .withColumn("bin_hi", F.round(F.col("__mn") + (F.col("bin") + 1) * width, 6))
        .groupBy("bin")
        .agg(
            F.first("bin_lo").alias("bin_lo"),
            F.first("bin_hi").alias("bin_hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select("bin", "bin_lo", "bin_hi", "n_rows")
    )


def countmin_rollup(
    df: DataFrame,
    fine_keys: list[str],
    coarse_keys: list[str],
    item_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Mergeable count-min sketch rollup — the frequency twin of
    :func:`hll_sketch_rollup`: one CMS per FINE group, coarse groups
    produced by SUMMING the fine sketches cell-wise, never re-scanning
    the raw items. The sketch is stored RELATIONALLY as
    ``(keys..., j, bucket, cnt)`` with at most ``depth*width`` rows per
    group: merging is a plain groupBy-sum (associative, commutative,
    partition-order-free), estimates are ``min_j cnt[j][h_j(item)]``
    via :func:`countmin_estimate` — the standard one-sided (>= true
    count) guarantee with overestimate bound n/width per row.

    Hashes are the PORTABLE md5-based 60-bit int (``h_j(x) =
    md5_i64(j || '_' || x) % width``), so unlike most sketches this one
    is bit-reproducible across engines — the DuckDB oracle replays the
    sketch AND the estimates exactly, no tolerance flag needed.

    The 100 TB shape: per-source daily sketches are computed once at
    ingest (bounded size regardless of corpus), and any coarser
    frequency view — weekly, per-source, global — is a sum of sketch
    cells; candidate items for heavy-hitter reports come from exact
    per-group top-k over bounded groups or an external watchlist,
    point-queried against the merged sketch."""
    from ai_etl_pipeline_spark.functions.portable import md5_i64

    missing = [k for k in coarse_keys if k not in fine_keys]
    if missing:
        raise ValueError(f"countmin_rollup: coarse keys {missing} not in fine keys")
    if depth < 1 or width < 2:
        raise ValueError(f"countmin_rollup: need depth>=1, width>=2")
    rows = df.select(
        *fine_keys,
        F.explode(
            F.array(*[F.lit(j) for j in range(depth)])
        ).alias("j"),
        F.col(item_col).alias("__item"),
    )
    bucket = (
        md5_i64(
            F.concat(F.col("j").cast("string"), F.lit("_"), F.col("__item").cast("string"))
        )
        % F.lit(width)
    ).alias("bucket")
    fine = rows.select(*fine_keys, "j", bucket).groupBy(
        *fine_keys, "j", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grouped = (
        fine.groupBy(*coarse_keys, "j", "bucket")
        if coarse_keys
        else fine.groupBy("j", "bucket")
    )
    # Declared params travel WITH the sketch (r9 ADVICE): a probe whose
    # width/depth disagrees with the rollup's is detectable in BOTH
    # directions (too-small AND too-large) by comparing literals,
    # instead of the one-sided max-bucket heuristic.
    return (
        grouped.agg(F.sum("cnt").alias("cnt"))
        .withColumn("cms_depth", F.lit(depth))
        .withColumn("cms_width", F.lit(width))
    )


def _validate_cms_params(sketch: DataFrame, depth: int, width: int, fn: str) -> None:
    """Guard (r8+r9 ADVICE): probing a :func:`countmin_rollup` sketch
    with mismatched params silently corrupts estimates — a larger probe
    depth or a DIFFERENT probe width (either direction) hashes items
    into buckets the sketch never wrote and returns est_count=0 through
    the left-join coalesce, violating the one-sided (>= true count)
    guarantee. Sketches now carry their declared ``cms_depth`` /
    ``cms_width`` as literal columns, so BOTH directions compare
    exactly; legacy sketches without the columns fall back to the
    one-sided max-bucket heuristic (width-too-small only — documented
    limitation). The sketch is bounded (<= depth*width rows), so the
    one tiny aggregate action is cheap. Raises on mismatch; an EMPTY
    sketch passes (nothing to contradict)."""
    declared = {"cms_depth", "cms_width"} <= set(sketch.columns)
    aggs = [F.max("j").alias("mj"), F.max("bucket").alias("mb")]
    if declared:
        aggs += [F.max("cms_depth").alias("md"), F.max("cms_width").alias("mw")]
    row = sketch.agg(*aggs).collect()[0]
    if row["mj"] is None:
        return
    if declared:
        if row["md"] != depth:
            raise ValueError(
                f"{fn}: probe depth={depth} does not match sketch "
                f"declared depth={row['md']}"
            )
        if row["mw"] != width:
            raise ValueError(
                f"{fn}: probe width={width} does not match sketch "
                f"declared width={row['mw']}"
            )
        return
    if row["mj"] != depth - 1:
        raise ValueError(
            f"{fn}: probe depth={depth} does not match sketch depth={row['mj'] + 1}"
        )
    if row["mb"] >= width:
        raise ValueError(
            f"{fn}: probe width={width} <= sketch max bucket {row['mb']} — "
            "sketch was built with a larger width"
        )


def countmin_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Point-query a :func:`countmin_rollup` sketch (must be rolled up
    to a single group, i.e. empty ``coarse_keys``) for every row of
    ``items``: estimate = ``min_j cnt[j][h_j(item)]`` with absent cells
    counting as 0. Candidate-sized join against the bounded sketch —
    the probe side explodes ``depth`` rows per item, the sketch side is
    at most ``depth*width`` rows (broadcastable). Probe ``depth``/
    ``width`` are validated against the sketch (see
    :func:`_validate_cms_params`) — a mismatch raises instead of
    silently returning zeros."""
    from ai_etl_pipeline_spark.functions.portable import md5_i64

    _validate_cms_params(sketch, depth, width, "countmin_estimate")
    probes = items.select(
        F.col(item_col),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    ).withColumn(
        "bucket",
        md5_i64(
            F.concat(F.col("j").cast("string"), F.lit("_"), F.col(item_col).cast("string"))
        )
        % F.lit(width),
    )
    cells = sketch.select("j", "bucket", "cnt")
    joined = probes.join(F.broadcast(cells), ["j", "bucket"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint").alias("est_count")
    )


def countmin_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame
) -> DataFrame:
    """Equi-join SIZE estimate from two :func:`countmin_rollup`
    sketches (each rolled to a single group): the classic CMS inner
    product ``min_j Σ_b cntA[j][b] * cntB[j][b]`` — an upper bound on
    ``Σ_key fA(key) * fB(key)``, which IS the exact row count of the
    inner equi-join on that key. This is the join-planning use of the
    sketch: both sides' sketches are bounded (depth*width cells), built
    map-side at ingest and mergeable across batches, so a planner (see
    ``relational.join_strategy_report``) can price a fact-fact join
    WITHOUT touching either corpus at plan time. One bounded join +
    one scalar aggregate; returns one row ``(est_join_rows)``.
    Sketches of different depth raise (r8 ADVICE) — a partial j join
    would silently bias the min; different declared widths also raise
    (r9 ADVICE) — same-bucket cells from different-width hashes are
    counts of UNRELATED key sets and their dot product is noise."""

    def _params(s: DataFrame):
        declared = {"cms_depth", "cms_width"} <= set(s.columns)
        aggs = [F.max("j").alias("mj")]
        if declared:
            aggs += [F.max("cms_depth").alias("md"), F.max("cms_width").alias("mw")]
        r = s.agg(*aggs).collect()[0]
        return (
            r["mj"] + 1 if r["mj"] is not None else None,
            r["md"] if declared else None,
            r["mw"] if declared else None,
        )

    (da, dda, wa), (db, ddb, wb) = _params(sketch_a), _params(sketch_b)
    if da is not None and db is not None and da != db:
        raise ValueError(
            f"countmin_inner_product: sketch depths differ ({da} vs {db})"
        )
    if dda is not None and ddb is not None and dda != ddb:
        raise ValueError(
            f"countmin_inner_product: declared depths differ ({dda} vs {ddb})"
        )
    if wa is not None and wb is not None and wa != wb:
        raise ValueError(
            f"countmin_inner_product: declared widths differ ({wa} vs {wb})"
        )
    a = sketch_a.select("j", "bucket", F.col("cnt").alias("__ca"))
    b = sketch_b.select("j", "bucket", F.col("cnt").alias("__cb"))
    per_row = (
        a.join(b, ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__dot"))
    )
    return per_row.agg(F.min("__dot").cast("bigint").alias("est_join_rows"))


def hll_overlap_report(
    df: DataFrame,
    segment_col: str,
    value_col: str,
    lg_config_k: int = 12,
) -> DataFrame:
    """Pairwise cross-segment OVERLAP estimates from mergeable HLL
    sketches — the dedup-planning question ("how much of source A is
    already in source B?") answered WITHOUT a corpus-sized join:
    ``|A∩B| ≈ est(A) + est(B) - est(A∪B)`` (inclusion-exclusion over
    the union-mergeable sketch), clamped at zero.

    One corpus pass builds a sketch per segment; the pair generation is
    a self-join of the BOUNDED sketch frame (one row per segment —
    broadcastable at any corpus size), each pair paying one in-row
    sketch union. At 100 TB the sketches are the same ones the ingest
    rollup already maintains, so the whole report is free of raw-data
    scans. Returns ``(seg_a, seg_b, approx_a, approx_b, approx_union,
    approx_intersection)`` with ``seg_a < seg_b``; estimates are
    engine-specific, so queries gate on tolerance flags vs exact twins
    (the q_agg_sketch_rollup precedent)."""
    sk = df.groupBy(segment_col).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_config_k)).alias("__sk")
    )
    a = sk.select(F.col(segment_col).alias("seg_a"), F.col("__sk").alias("__ska"))
    b = sk.select(F.col(segment_col).alias("seg_b"), F.col("__sk").alias("__skb"))
    pairs = a.join(F.broadcast(b), F.col("seg_a") < F.col("seg_b"))
    est = pairs.select(
        "seg_a",
        "seg_b",
        F.hll_sketch_estimate("__ska").alias("approx_a"),
        F.hll_sketch_estimate("__skb").alias("approx_b"),
        F.hll_sketch_estimate(F.hll_union("__ska", "__skb")).alias("approx_union"),
    )
    return est.withColumn(
        "approx_intersection",
        F.greatest(
            F.lit(0).cast("bigint"),
            (F.col("approx_a") + F.col("approx_b") - F.col("approx_union")).cast(
                "bigint"
            ),
        ),
    )


def group_mode(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Deterministic statistical MODE per group — the most frequent
    value, ties broken by the value's natural order (Spark's ``mode()``
    aggregate documents ties as non-deterministic, which fails the
    hash gate; this rendering never does). One count aggregate + one
    row_number over the (group, value)-count frame, which is at most
    |groups|·|distinct values| — report-sized for categorical columns.
    Returns ``(group_cols..., mode_value, mode_count)``."""
    from pyspark.sql.window import Window

    counts = df.groupBy(
        *group_cols, F.col(value_col).alias("mode_value")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("mode_count"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("mode_count").desc(), F.col("mode_value").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def weighted_percentile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    p_micro: int = 500000,
) -> DataFrame:
    """Exact WEIGHTED percentile per group (lower/left-continuous
    rendering): the smallest value whose cumulative weight reaches
    ``p_micro`` of the group's total — "the median unit price weighted
    by quantity", which a plain percentile over rows gets wrong
    whenever weights vary. Values are exact cents; the pick condition
    is the all-integer ``cum_w · 1e6 >= p · total_w`` (no float
    threshold).

    Plan shape: one (group, value) aggregate collapses duplicate
    values map-side, then a cumulative window over the per-group
    DISTINCT-value frame and a min-aggregate pick. The window
    partitions by group — per-group distinct-value cardinality is the
    partition bound; for open-domain doubles at 100 TB prefer the GK
    sketch twin (``approx_*`` family), this is the exact/auditable
    path.

    Returns ``(group_cols..., pctl_value_cents, total_weight)``.
    """
    if not 0 < p_micro <= 1000000:
        raise ValueError(f"weighted_percentile: p_micro in (0, 1e6], got {p_micro}")
    from pyspark.sql.window import Window

    base = df.groupBy(
        *group_cols,
        F.expr(f"cast(floor({value_col} * 100) as bigint)").alias("__v"),
    ).agg(F.sum(F.col(weight_col).cast("bigint")).alias("__w"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*group_cols)
    cum = base.select(
        *group_cols,
        "__v",
        F.sum("__w").over(w_cum).alias("__cw"),
        F.sum("__w").over(w_tot).alias("__tw"),
    )
    return (
        cum.where(F.expr(f"__cw * 1000000 >= {p_micro} * __tw"))
        .groupBy(*group_cols)
        .agg(
            F.min("__v").cast("bigint").alias("pctl_value_cents"),
            F.first("__tw").cast("bigint").alias("total_weight"),
        )
    )
