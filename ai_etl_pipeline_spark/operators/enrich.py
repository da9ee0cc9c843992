"""Value-map enrichment (SURVEY.md §2.4, §2.8 T3–T5).

The reference applies ``{original: translated}`` dicts per column with
``df[col].map(lambda x: m.get(x, x))`` (``/root/reference/translate.py:219-224``)
— semantically a broadcast LEFT OUTER equi-join with identity fallback.
That is exactly how it is expressed here:

    df JOIN broadcast(map_df) ON trim(df[c]) == orig
    c := coalesce(translated, c)

21,775 entries max at reference scale (``cache/translated-map.json``) ≪
any broadcast threshold; at 100 TB the fact side streams through the
broadcast hash join with zero shuffle. Tiny maps (≤ ~100 entries) go
through a ``create_map`` literal instead — no join at all, pure codegen.
"""

from __future__ import annotations

import time
from itertools import chain
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .distinct import distinct_column_values, extract_unique_text_values

LITERAL_MAP_MAX = 128  # below this, inline as a create_map literal


def value_map_to_df(spark: SparkSession, value_map: dict[str, str]) -> DataFrame:
    return spark.createDataFrame(
        [(k, v) for k, v in value_map.items()], schema="original string, translated string"
    )


def apply_value_map(
    df: DataFrame, column: str, value_map: dict[str, str], spark: SparkSession | None = None
) -> DataFrame:
    """T5: translate one column through a mapping with identity fallback.

    Row count is preserved exactly (left join on a key that is unique on
    the build side — uniqueness holds by construction of dict keys).

    Key contract: probes the RAW column value, because its companion
    builder ``translate_distinct_values`` keys the dict by raw distinct
    values. The distributed pair (``apply_value_map_df`` +
    ``translate_distinct_values_distributed``) trims on BOTH sides
    instead — each pair is internally consistent; don't mix a builder
    from one pair with the applier from the other.
    """
    if column not in df.columns:  # skip-if-missing guard, translate.py:223-224
        return df
    if not value_map:
        return df
    if len(value_map) <= LITERAL_MAP_MAX:
        mapping = F.create_map([F.lit(x) for x in chain(*value_map.items())])
        return df.withColumn(column, F.coalesce(mapping[F.col(column)], F.col(column)))
    spark = spark or df.sparkSession
    map_df = value_map_to_df(spark, value_map)
    joined = df.join(F.broadcast(map_df), on=df[column] == map_df["original"], how="left")
    return joined.withColumn(column, F.coalesce(map_df["translated"], df[column])).drop(
        "original", "translated"
    )


def apply_value_maps(
    df: DataFrame, maps: dict[str, dict[str, str]], spark: SparkSession | None = None
) -> DataFrame:
    """T5 over all columns (``translate.py:219-224`` loop)."""
    for column, value_map in maps.items():
        df = apply_value_map(df, column, value_map, spark=spark)
    return df


def translate_distinct_values(
    df: DataFrame,
    columns: list[str],
    translate_batch,
    batch_size: int = 100,
) -> dict[str, dict[str, str]]:
    """T3's shape (``translate.py:78-123``): collect every column's DISTINCT
    values in one job (semi-join reduction — the reference's one real
    optimization) and push them through ``translate_batch(list[str]) ->
    list[str]`` in batches, building ``{col: {orig: translated}}``.

    ``translate_batch`` is a provider callable (network, LLM, or the
    deterministic offline provider in semantic/providers.py). Batching +
    throttling live in the provider, mirroring batch_size=100 / 0.15 s
    (``translate.py:98-118``). Identity fallback on provider failure.
    """
    out: dict[str, dict[str, str]] = {}
    for c, values in extract_unique_text_values(df, columns).items():
        mapping: dict[str, str] = {}
        for i in range(0, len(values), batch_size):
            batch = values[i : i + batch_size]
            try:
                translated = translate_batch(batch)
                if len(translated) != len(batch):
                    raise ValueError("provider returned wrong batch size")
            except Exception:
                translated = batch  # identity fallback, translate.py:111-116
            mapping.update(dict(zip(batch, translated)))
        out[c] = mapping
    return out


def translate_distinct_values_distributed(
    df: DataFrame,
    column: str,
    translate_batch: Callable[[list[str]], list[str]],
    batch_size: int = 100,
    throttle_s: float = 0.0,
    num_partitions: int | None = None,
) -> DataFrame:
    """S7's scale path (SURVEY §2.1): the ``mapInPandas`` variant of
    ``translate_distinct_values`` — partition-batched provider calls
    instead of a driver-side loop.

    The driver-side path collects every distinct value (fine at the
    reference's 33k values, ``translate.py:85``); when the distinct set
    itself is large, this version keeps it distributed: distinct →
    (optional) repartition to bound per-task call volume → each Arrow
    batch is sliced into ``batch_size`` chunks (``translate.py:98``),
    pushed through the provider with the reference's inter-call throttle
    (0.15 s, ``translate.py:118``) and per-batch identity fallback
    (``translate.py:111-116``), yielding an ``(original, translated)``
    mapping relation. Feed it straight into a broadcast
    ``apply_value_map`` join — the mapping never lands on the driver.

    ``translate_batch`` must be picklable (providers in
    semantic/providers.py are plain dataclasses / functions)."""
    import pandas as pd

    distinct = distinct_column_values(df, column).withColumnRenamed("value", "original")
    if num_partitions is not None:
        distinct = distinct.repartition(num_partitions)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        first = True
        for pdf in batches:
            vals = pdf["original"].tolist()
            translated: list[str] = []
            for i in range(0, len(vals), batch_size):
                batch = vals[i : i + batch_size]
                if throttle_s and not first:
                    time.sleep(throttle_s)
                first = False
                try:
                    out = translate_batch(batch)
                    if len(out) != len(batch):
                        raise ValueError("provider returned wrong batch size")
                except Exception:
                    out = batch  # identity fallback, translate.py:111-116
                translated.extend(out)
            yield pd.DataFrame({"original": vals, "translated": translated})

    return distinct.mapInPandas(run, schema="original string, translated string")


def apply_value_map_df(
    df: DataFrame, column: str, map_df: DataFrame, broadcast_map: bool = True
) -> DataFrame:
    """T5 with a mapping RELATION instead of a driver-side dict — the
    closing half of the distributed path: the mapping produced by
    ``translate_distinct_values_distributed`` joins onto the corpus
    without ever being collected. ``broadcast_map=False`` falls back to
    a shuffle join for mappings too large to broadcast.

    Key contract: probes ``trim(column)`` because the distributed
    builder trims values before distinct-ing (see ``apply_value_map``
    for the raw-key driver-side pair — don't mix the pairs)."""
    if column not in df.columns:
        return df
    build = F.broadcast(map_df) if broadcast_map else map_df
    joined = df.join(build, on=F.trim(df[column]) == map_df["original"], how="left")
    return joined.withColumn(column, F.coalesce(map_df["translated"], df[column])).drop(
        "original", "translated"
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    id_col: str,
    k: int = 5,
    smoothing: int = 20,
    salt: str = "te",
) -> DataFrame:
    """Leakage-safe target encoding (the workhorse categorical feature
    for tabular ML): each category's encoding is the SMOOTHED mean of
    an integer-valued target, computed LEAVE-FOLD-OUT — a row's own
    fold's rows are excluded from its statistic, so the feature never
    memorizes its own label (the out-of-fold scheme CatBoost/Kaggle
    practice settled on). Folds are the deterministic md5 assignment
    of :func:`sampling.kfold_assign` — stable across runs and engines.

    ``target_col`` must be integer-valued (pre-scale money to cents,
    rates to micro-units): the encoding is ``(sum_out + smoothing ·
    prior) div (cnt_out + smoothing)`` in pure integer arithmetic
    (prior = global integer mean), so the fit artifact is bit-exact
    cross-engine. A category seen only inside the row's own fold
    degrades to the prior (cnt_out = 0) — the cold-start behavior you
    want.

    One corpus aggregate to (category × fold) granularity, then
    window sums over that BOUNDED frame and one scalar prior — the
    corpus is scanned once. Returns the fit TABLE ``(cat_col, fold,
    n_out, sum_out, target_enc)``; broadcast-join it back on
    ``(cat_col, fold)`` to featurize (train) or aggregate folds to
    featurize unseen data (serve).
    """
    if k < 2:
        raise ValueError(f"target_encode: k must be >= 2, got {k}")
    if smoothing < 1:
        raise ValueError(
            f"target_encode: smoothing must be >= 1, got {smoothing}"
        )
    from pyspark.sql import Window

    from .sampling import kfold_assign

    folded = kfold_assign(df, id_col, k=k, salt=salt)
    cf = folded.groupBy(F.col(cat_col), F.col("fold")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col(target_col).cast("bigint")).alias("__s"),
    )
    w = Window.partitionBy(cat_col)
    cf = cf.withColumn("__n_cat", F.sum("__n").over(w)).withColumn(
        "__s_cat", F.sum("__s").over(w)
    )
    prior = cf.groupBy().agg(
        F.expr("sum(__s) div sum(__n)").alias("__prior")
    )
    return (
        cf.crossJoin(F.broadcast(prior))
        .select(
            F.col(cat_col),
            F.col("fold"),
            (F.col("__n_cat") - F.col("__n")).alias("n_out"),
            (F.col("__s_cat") - F.col("__s")).alias("sum_out"),
            F.expr(
                f"(__s_cat - __s + {smoothing} * __prior) "
                f"div (__n_cat - __n + {smoothing})"
            ).alias("target_enc"),
        )
    )
