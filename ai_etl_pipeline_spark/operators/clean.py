"""Cleaning chain (SURVEY.md §2.2 P1–P8, §2.3 A1).

Re-expresses the reference's 9-step eager pandas cleaning pass
(``/root/reference/preprocess.py:28-91``) as lazy, distributed DataFrame
transformations. Design rules applied throughout:

- Column-level decisions (which columns are fully null, which numeric
  casts succeed) are made from ONE aggregate pass over the data, not one
  scan per column — at 100 TB a per-column scan loop is the difference
  between 1 job and 40.
- Everything row-level stays inside whole-stage codegen (built-in
  functions only — no Python UDFs anywhere in this module).
- The cleaning log (``preprocess.py:29,91``) is preserved as a driver-side
  ``list[str]``; counts that feed it are Spark actions and are only
  computed when ``collect_counts=True`` (they cost a pass).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from .distinct import string_columns

# Placeholder tokens replaced with NULL, exactly the reference list
# (``preprocess.py:60-61``). Matching is case-sensitive and post-strip
# values like "N/A" survive — replicated faithfully.
PLACEHOLDER_VALUES = ["n/a", "none", "-", "null", ""]


def normalize_column_name(name: str) -> str:
    """P1 kernel (``preprocess.py:33-38``): strip → lower → spaces→_ →
    drop non-word chars."""
    out = name.strip().lower().replace(" ", "_")
    return re.sub(r"[^\w_]", "", out, flags=re.UNICODE)


def normalize_column_names(df: DataFrame, log: list[str] | None = None) -> DataFrame:
    """P1: metadata-only rename — zero data movement."""
    new_names = [normalize_column_name(c) for c in df.columns]
    if log is not None:
        changed = [(a, b) for a, b in zip(df.columns, new_names) if a != b]
        if changed:
            log.append(f"normalized {len(changed)} column names: {changed}")
    return df.toDF(*new_names)


def drop_duplicate_named_columns(df: DataFrame, log: list[str] | None = None) -> DataFrame:
    """P4 (``preprocess.py:54-57``): keep the first occurrence of each
    column name. Positional select, metadata-only. Must run before any
    name-based op (Spark rejects ambiguous references)."""
    seen: set[str] = set()
    keep_idx = []
    for i, c in enumerate(df.columns):
        if c not in seen:
            seen.add(c)
            keep_idx.append(i)
    if len(keep_idx) == len(df.columns):
        return df
    if log is not None:
        log.append(f"dropped {len(df.columns) - len(keep_idx)} duplicate-named columns")
    # Positional select: temp-rename everything to unique names first
    # (Spark refuses ambiguous references by name).
    names = df.columns
    tmp = df.toDF(*[f"__c{i}" for i in range(len(names))])
    return tmp.select(*[F.col(f"__c{i}").alias(names[i]) for i in keep_idx])


def drop_unnamed_columns(df: DataFrame, prefix: str = "unnamed", log: list[str] | None = None) -> DataFrame:
    """P3 (``preprocess.py:48-51``): drop columns whose (normalized) name
    starts with ``unnamed``. Metadata-only."""
    doomed = [c for c in df.columns if c.lower().startswith(prefix)]
    if doomed and log is not None:
        log.append(f"dropped unnamed columns: {doomed}")
    return df.drop(*doomed) if doomed else df


def _placeholder_null(col: Column, placeholders: list[str] = PLACEHOLDER_VALUES) -> Column:
    return F.when(col.isin(placeholders), F.lit(None)).otherwise(col)


def stage_value(col: Column) -> Column:
    """P5 → P6 → P5 as one expression: a string value as the chain leaves
    it before P7. Re-applying P5 after the trim catches "  n/a ", which
    the reference (strip AFTER replace) keeps: strictly cleaner, and
    covered by golden tests."""
    return _placeholder_null(F.trim(_placeholder_null(col)))


def replace_placeholders_with_null(
    df: DataFrame,
    placeholders: list[str] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """P5 (``preprocess.py:60-62``): placeholder tokens → NULL.

    Applied to string columns only (the reference's replace hits every
    dtype but can only match strings), or to exactly ``columns`` when
    given. Stays in codegen via ``when/isin``; ``na.replace`` is avoided
    because it is type-strict about None.
    """
    placeholders = PLACEHOLDER_VALUES if placeholders is None else placeholders
    targets = string_columns(df) if columns is None else columns
    return df.select(*[
        _placeholder_null(F.col(f"`{c}`"), placeholders).alias(c) if c in targets else F.col(f"`{c}`")
        for c in df.columns
    ])


def trim_string_columns(df: DataFrame) -> DataFrame:
    """P6 (``preprocess.py:65-66``): trim whitespace on string columns.

    ``F.trim`` is null-preserving — we deliberately do NOT replicate the
    reference's ``astype(str)`` quirk that turns NULL into the literal
    string "nan" (SURVEY.md §1.2).
    """
    exprs = [
        F.trim(F.col(f"`{c}`")).alias(c) if t.simpleString() == "string" else F.col(f"`{c}`")
        for c, t in ((f.name, f.dataType) for f in df.schema.fields)
    ]
    return df.select(*exprs)


def numeric_value(col: Column) -> Column:
    """P7's parse of one string value: ``try_cast(trim(v) as double)``,
    NULL where it does not parse."""
    return F.trim(col).try_cast("double")


def _numeric_probe(c: str, value: Column) -> list[Column]:
    """P7's three counts for one candidate column: non-null values,
    values that :func:`numeric_value` parses, integral ones."""
    parsed = numeric_value(value)
    integral = F.when(parsed == F.floor(parsed), 1)
    return [F.count(value).alias(f"__n_{c}"), F.count(parsed).alias(f"__ok_{c}"),
            F.count(integral).alias(f"__int_{c}")]


def _numeric_casts(probe: Row, candidates: list[str]) -> dict[str, str]:
    """P7's decision: each candidate whose every non-null value parsed,
    to ``bigint`` when all are integral, else to ``double``."""
    cast = {}
    for c in candidates:
        n, ok, integral = probe[f"__n_{c}"], probe[f"__ok_{c}"], probe[f"__int_{c}"]
        if n > 0 and ok == n:
            cast[c] = "bigint" if integral == n else "double"
    return cast


def _cast_numeric(df: DataFrame, probe: Row, candidates: list[str], log: list[str] | None) -> DataFrame:
    """P7's projection of :func:`_numeric_casts`."""
    cast = _numeric_casts(probe, candidates)
    to = {t: [c for c in cast if cast[c] == t] for t in ("double", "bigint")}
    if log is not None and (to["double"] or to["bigint"]):
        log.append(f"numeric-cast columns: double={to['double']} bigint={to['bigint']}")
    return df.select(*[
        F.expr(f"cast(cast(trim(`{c}`) as double) as {cast[c]})").alias(c) if c in cast else F.col(f"`{c}`")
        for c in df.columns
    ])


def cast_numeric_columns_all_or_nothing(
    df: DataFrame, columns: list[str] | None = None, log: list[str] | None = None
) -> DataFrame:
    """P7 (``preprocess.py:69-73``): pandas' try/except ``pd.to_numeric``
    converts a column only if EVERY value parses.

    Catalyst has no all-or-nothing cast, so this is a two-job idiom:
    1. one aggregate pass computing, per candidate column (every string
       column, or exactly ``columns`` when given), the non-null count and
       the count of values surviving ``try_cast(double)``;
    2. a single projection casting exactly the columns where the counts
       match (i.e. no value failed to parse).
    ``try_cast`` accepts the same forms pandas does for the fixture data
    (" 42 ", "1e3"); columns with any unparseable value stay strings.
    Columns whose doubles are all integral are cast to bigint, matching
    pandas' int64-vs-float64 choice.
    """
    candidates = string_columns(df) if columns is None else columns
    if not candidates:
        return df
    probe = df.select(*[p for c in candidates for p in _numeric_probe(c, F.col(f"`{c}`"))]).first()
    return _cast_numeric(df, probe, candidates, log)


def cast_datetime_columns(
    df: DataFrame,
    name_markers: tuple[str, ...] = ("date", "time"),
    log: list[str] | None = None,
) -> DataFrame:
    """P8 (``preprocess.py:76-82``): per-value datetime coercion on
    columns whose NAME contains 'date'/'time'; unparseable values → NULL
    (pandas ``errors="coerce"``), never an error.

    ``try_to_timestamp`` + format fallbacks = coerce semantics, entirely
    JVM-side.
    """
    targets = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() == "string" and any(m in f.name.lower() for m in name_markers)
    ]
    if not targets:
        return df
    if log is not None:
        log.append(f"datetime-coerced columns: {targets}")
    formats = ["yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd", "MM/dd/yyyy", "dd.MM.yyyy", "yyyy/MM/dd"]
    exprs = []
    for c in df.columns:
        if c in targets:
            q = f"trim(`{c}`)"
            attempts = ", ".join(f"try_to_timestamp({q}, '{fmt}')" for fmt in formats)
            exprs.append(F.expr(f"coalesce(try_to_timestamp({q}), {attempts})").alias(c))
        else:
            exprs.append(F.col(f"`{c}`"))
    return df.select(*exprs)


def drop_duplicate_rows(
    df: DataFrame, subset: list[str] | None = None, log: list[str] | None = None, collect_counts: bool = False
) -> DataFrame:
    """A1 (``preprocess.py:85-89``): exact row dedup = group-by-all-columns
    hash aggregate. The before/after counts in the reference's log are two
    full actions; they are opt-in here (``collect_counts``) because at
    100 TB you don't count twice just to log."""
    out = df.dropDuplicates(subset) if subset else df.dropDuplicates()
    if collect_counts and log is not None:
        before, after = df.count(), out.count()
        log.append(f"dropped {before - after} duplicate rows ({before} -> {after})")
    return out


def preprocess_data(
    df: DataFrame, log: list[str] | None = None, collect_counts: bool = False
) -> tuple[DataFrame, list[str]]:
    """The full 9-step chain P1→P2→P3→P4→P5→P6→P7→P8→A1 in the
    reference's order (``preprocess.py:28-91``), returning
    ``(cleaned_df, log)``.

    Idempotent: ``preprocess(preprocess(x)) == preprocess(x)`` (the
    reference relies on this by re-preprocessing at ``mapper.py:207``) —
    property-tested in tests/test_clean.py. To keep that promise, P2
    counts what P5–P8 leave: a column of placeholders only, and a
    date-named string column that P7 does not cast and of which P8
    parses no value, are dropped in the first pass, where the reference
    drops them only when it re-preprocesses.
    """
    log = [] if log is None else log
    df = normalize_column_names(df, log)
    df = drop_duplicate_named_columns(df, log)  # before name-keyed ops
    staged = {c: stage_value(F.col(f"`{c}`")) for c in string_columns(df)}
    # ONE aggregate decides P2, P7 (the numeric probe) and P8's empty
    # columns. It reads each column staged, under "#i" (a name P1 never
    # yields), beside P8's coercion of the staged strings under their own
    # names.
    view = cast_datetime_columns(df.select(
        *[staged.get(c, F.col(f"`{c}`")).alias(f"#{i}") for i, c in enumerate(df.columns)],
        *[v.alias(c) for c, v in staged.items()],
    ))
    dated = [c for c in staged if view.schema[c].dataType.simpleString() != "string"]
    at = {c: F.col(f"`#{i}`") for i, c in enumerate(df.columns)}
    probe = view.select(
        *[F.count(at[c]).alias(f"__e_{c}") for c in df.columns],
        *[p for c in staged for p in _numeric_probe(c, at[c])],
        *[F.count(F.col(f"`{c}`")).alias(f"__t_{c}") for c in dated],
    ).first()
    numeric = _numeric_casts(probe, list(staged))
    empty = [  # P2, preprocess.py:42-45
        c for c in df.columns
        if probe[f"__e_{c}"] == 0 or (c in dated and c not in numeric and probe[f"__t_{c}"] == 0)
    ]
    if empty:
        log.append(f"dropped empty columns: {empty}")
    df = drop_unnamed_columns(df.drop(*empty), log=log)
    df = df.select(*[staged[c].alias(c) if c in staged else F.col(f"`{c}`") for c in df.columns])
    df = _cast_numeric(df, probe, [c for c in staged if c in df.columns], log)
    df = cast_datetime_columns(df, log=log)
    df = drop_duplicate_rows(df, log=log, collect_counts=collect_counts)
    return df, log


def winsorize(
    df: DataFrame,
    cols: list[str],
    lo: float = 0.01,
    hi: float = 0.99,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Percentile clipping (winsorization) of numeric feature columns —
    the standard outlier guard ahead of scaling/training. Percentiles
    for every column come from ONE aggregate reduced to a single
    broadcast row, then the clip is an in-row ``least(greatest(...))``
    projection — two passes total, no shuffle beyond the scalar
    aggregate, any number of columns.

    ``approx=False`` uses exact linear-interpolation percentiles
    (``F.percentile``; quantile_cont semantics) — but an exact
    percentile funnels EVERY value of every column through the single
    final-aggregate row, a one-reducer memory/straggler wall at corpus
    scale. ``approx=True`` swaps in ``F.percentile_approx``
    (Greenwald-Khanna sketch: fixed memory ~O(accuracy), mergeable
    map-side partials, rank error ≤ 1/accuracy) — the rendering to use
    at 100 TB; clip bounds a hair off the exact quantile are
    immaterial to an outlier guard.

    NULL inputs stay NULL and are never counted as clipped:
    Spark's (and DuckDB's) ``least``/``greatest`` SKIP nulls, so the
    naive clip would silently impute missing values to the low bound —
    a data-cleaning operator must not invent values.

    Replaces each column with its clipped value and adds
    ``<col>__was_clipped`` (false for NULL inputs)."""
    if not cols:
        raise ValueError("winsorize: cols must be non-empty")
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"winsorize: need 0 <= lo < hi <= 1, got {lo}, {hi}")

    def pct(c: str, q: float) -> Column:
        if approx:
            return F.percentile_approx(F.col(c), F.lit(q), F.lit(accuracy)).cast(
                "double"
            )
        return F.percentile(F.col(c), F.lit(q))

    bounds = df.agg(
        *[
            p
            for c in cols
            for p in (
                pct(c, lo).alias(f"__lo_{c}"),
                pct(c, hi).alias(f"__hi_{c}"),
            )
        ]
    )
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        lo_c, hi_c = F.col(f"__lo_{c}"), F.col(f"__hi_{c}")
        out = out.withColumn(
            f"{c}__was_clipped",
            F.coalesce((F.col(c) < lo_c) | (F.col(c) > hi_c), F.lit(False)),
        ).withColumn(
            c,
            F.when(
                F.col(c).isNotNull(), F.least(F.greatest(F.col(c), lo_c), hi_c)
            ),
        )
    return out.drop(*[n for c in cols for n in (f"__lo_{c}", f"__hi_{c}")])


def quantile_bins(
    df: DataFrame,
    cols: list[str],
    n_bins: int = 10,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Quantile bucketization (equal-frequency binning) of numeric
    feature columns — the discretization ahead of histogramming /
    curriculum bucketing / categorical models. The n_bins-1 interior
    cut points per column come from ONE aggregate (``F.percentile``
    with a fraction ARRAY; ``approx=True`` swaps in the mergeable GK
    ``percentile_approx`` sketch — same 100 TB rationale as
    :func:`winsorize`), broadcast back as a single row; the bin index
    is the in-row count of cut points strictly below the value
    (``size(filter(cuts, c -> x > c))``) — no shuffle, no UDF, no
    second scan. Adds ``<col>__bin`` int in [0, n_bins); NULL in,
    NULL bin out. Ties on a cut point land in the LOWER bin on both
    engines (strict ``>``)."""
    if not cols:
        raise ValueError("quantile_bins: cols must be non-empty")
    if n_bins < 2:
        raise ValueError(f"quantile_bins: n_bins must be >= 2, got {n_bins}")
    fracs = [i / n_bins for i in range(1, n_bins)]

    def cuts(c: str) -> Column:
        if approx:
            return F.percentile_approx(
                F.col(c), F.array(*[F.lit(q) for q in fracs]), F.lit(accuracy)
            ).cast("array<double>")
        return F.percentile(F.col(c), F.array(*[F.lit(q) for q in fracs]))

    bounds = df.agg(*[cuts(c).alias(f"__cuts_{c}") for c in cols])
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        x = F.col(c)
        bin_idx = F.size(F.filter(F.col(f"__cuts_{c}"), lambda cut: x > cut))
        out = out.withColumn(
            f"{c}__bin", F.when(x.isNotNull(), bin_idx.cast("int"))
        )
    return out.drop(*[f"__cuts_{c}" for c in cols])


def mad_outliers(
    df: DataFrame,
    cols: list[str],
    k: float = 3.5,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Robust outlier flags via median / MAD (median absolute
    deviation) — the outlier detector that survives what breaks
    z-scores: mean and stddev are themselves dragged by the outliers
    they are supposed to find, while median and MAD have a 50%
    breakdown point. Flags ``|x - median| > k * MAD`` (k=3.5 is the
    conventional cutoff ≈ 2.33σ under normality via the 0.6745
    consistency constant).

    Two scalar aggregates (medians, then MADs over the residuals),
    each ONE row broadcast back — the corpus never shuffles. Adds
    ``<col>__mad_resid`` (|x - median|, 6dp) and ``<col>__is_outlier``
    (NULL inputs stay NULL/false like :func:`winsorize`). A column
    with MAD = 0 (over half the values identical) flags every value
    off the median — documented behavior of the estimator, not a bug;
    widen with :func:`quantile_bins` diagnostics if that bites.

    ``approx=True`` swaps both median passes to the mergeable GK
    ``percentile_approx`` sketch — same one-reducer rationale as
    :func:`winsorize`; a robustness cutoff a few rank-ppm off the
    exact median is immaterial to an outlier gate."""
    if not cols:
        raise ValueError("mad_outliers: cols must be non-empty")
    if k <= 0:
        raise ValueError(f"mad_outliers: k must be positive, got {k}")

    def med(col: Column, alias: str) -> Column:
        if approx:
            return F.percentile_approx(col, F.lit(0.5), F.lit(accuracy)).cast(
                "double"
            ).alias(alias)
        return F.percentile(col, F.lit(0.5)).alias(alias)

    # the medians row is consumed TWICE (the MAD aggregate's input and
    # the final flag projection) — without truncation Catalyst plans two
    # identical percentile towers and the corpus pays the single-reducer
    # exact-percentile pass twice (observed in the executed plan: two
    # ObjectHashAggregate subtrees, zero exchange reuse). A lazy
    # localCheckpoint of the ONE-ROW frame makes the second reference a
    # scan of the first's result (r16 optimization; zero driver actions,
    # identical values by determinism of percentile).
    meds = df.agg(*[med(F.col(c), f"__med_{c}") for c in cols]).localCheckpoint(
        eager=False
    )
    with_med = df.crossJoin(F.broadcast(meds))
    mads = with_med.agg(
        *[
            med(F.abs(F.col(c) - F.col(f"__med_{c}")), f"__mad_{c}")
            for c in cols
        ]
    )
    out = with_med.crossJoin(F.broadcast(mads))
    for c in cols:
        resid = F.abs(F.col(c) - F.col(f"__med_{c}"))
        out = out.withColumn(
            f"{c}__mad_resid", F.round(resid, 6)
        ).withColumn(
            f"{c}__is_outlier",
            F.coalesce(resid > F.lit(k) * F.col(f"__mad_{c}"), F.lit(False)),
        )
    return out.drop(
        *[n for c in cols for n in (f"__med_{c}", f"__mad_{c}")]
    )


def impute_with_group_mean(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    out_col: str | None = None,
    flag_col: str = "was_imputed",
) -> DataFrame:
    """NULL imputation with the GROUP mean — the standard
    feature-preparation fill, computed in exact integer micro-units
    (``sum(floor(v·1e6)) div count`` over the group's non-null rows) so
    the imputed value is bit-reproducible, unlike a float ``avg`` whose
    accumulation order is engine-specific. Groups with NO observed
    value keep their NULLs (flagged false — nothing to impute from).
    The division truncates toward zero (Spark ``div``) — equal to
    floor for non-negative measures; signed series need a caveat.

    Plan shape: one group-sized aggregate, one broadcast-eligible join
    back, one in-row coalesce — two corpus scans total, no window.

    Returns all input columns plus ``out_col`` (default
    ``{value_col}_imputed_micro``, bigint micro-units) and
    ``flag_col``.
    """
    out_col = out_col or f"{value_col}_imputed_micro"
    vm = f"cast(floor({value_col} * 1000000.0) as bigint)"
    means = df.where(F.col(value_col).isNotNull()).groupBy(*group_cols).agg(
        F.expr(f"sum({vm}) div count(1)").alias("__grp_mean_micro")
    )
    joined = df.join(F.broadcast(means), group_cols, "left")
    return joined.select(
        *df.columns,
        F.expr(f"coalesce({vm}, __grp_mean_micro)").alias(out_col),
        (
            F.col(value_col).isNull() & F.col("__grp_mean_micro").isNotNull()
        ).alias(flag_col),
    )
