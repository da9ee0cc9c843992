"""Value-map enrichment (SURVEY.md §2.4, §2.8 T3–T5).

The reference applies ``{original: translated}`` dicts per column with
``df[col].map(lambda x: m.get(x, x))`` (``/root/reference/translate.py:219-224``)
— semantically a broadcast LEFT OUTER equi-join with identity fallback.
That is exactly how it is expressed here:

    df JOIN broadcast(map_df) ON trim(df[c]) == original
    c := coalesce(translated, c)

One key contract on both sides: maps are keyed by TRIMMED values (both
translators read the distinct trimmed values of
``distinct.distinct_values_long``), every applier probes ``trim(c)``, and
an unmapped value, ``NULL`` or ``""`` passes through unchanged.

21,775 entries max at reference scale (``cache/translated-map.json``) ≪
any broadcast threshold; at 100 TB the fact side streams through the
broadcast hash join with zero shuffle. Maps of at most
``LITERAL_MAP_MAX`` entries go through a ``create_map`` literal instead —
no join at all, pure codegen. Larger maps are built on the driver as an
Arrow table, which Spark plans as a ``LocalRelation``: the broadcast runs
in the JVM and starts no Python worker (a map built from a Python list
would be a pickled ``LogicalRDD``, one Python-worker job per action).
"""

from __future__ import annotations

from itertools import chain
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..semantic.providers import translate_in_batches
from .distinct import distinct_column_values, extract_unique_text_values

LITERAL_MAP_MAX = 128  # up to this size, inline as a create_map literal


def value_map_to_df(spark: SparkSession, value_map: dict[str, str]) -> DataFrame:
    """The ``(original, translated)`` relation of a driver-side map, as a
    ``LocalRelation`` whatever the session's Arrow setting."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({
            "original": pa.array(list(value_map.keys()), pa.string()),
            "translated": pa.array(list(value_map.values()), pa.string()),
        })
    )


def apply_value_map(df: DataFrame, column: str, value_map: dict[str, str]) -> DataFrame:
    """T5: translate one column through a mapping with identity fallback.

    Row count is preserved exactly. Maps larger than ``LITERAL_MAP_MAX``
    go through :func:`apply_value_map_df`'s broadcast join."""
    if column not in df.columns or not value_map:  # skip-if-missing guard, translate.py:223-224
        return df
    if len(value_map) > LITERAL_MAP_MAX:
        return apply_value_map_df(df, column, value_map_to_df(df.sparkSession, value_map))
    col = F.col(f"`{column}`")
    mapping = F.create_map([F.lit(x) for x in chain(*value_map.items())])
    return df.withColumn(column, F.coalesce(mapping[F.trim(col)], col))


def apply_value_maps(df: DataFrame, maps: dict[str, dict[str, str]]) -> DataFrame:
    """T5 over all columns (``translate.py:219-224`` loop)."""
    for column, value_map in maps.items():
        df = apply_value_map(df, column, value_map)
    return df


def translate_distinct_values(
    values: DataFrame,
    columns: list[str],
    translate_batch: Callable[[list[str]], list[str]],
    batch_size: int = 100,
) -> dict[str, dict[str, str]]:
    """T3's shape (``translate.py:78-123``): collect ``columns``' DISTINCT
    values from ``values``, a ``distinct.distinct_values_long`` relation
    (semi-join reduction — the reference's one real optimization), in one
    job, and push them through ``translate_batch(list[str]) -> list[str]``
    with ``semantic.providers.translate_in_batches``, building
    ``{col: {orig: translated}}``. Pass the relation the caller already
    built (and cached) for its samples, so the distinct runs once.

    ``translate_batch`` is a provider callable (network, LLM, or the
    deterministic offline provider in semantic/providers.py); the
    reference's 0.15 s throttle lives in the transport
    (``RestTranslatorClient.throttle_s``)."""
    return {
        c: dict(zip(vals, translate_in_batches(vals, translate_batch, batch_size)))
        for c, vals in extract_unique_text_values(values, columns).items()
    }


def translate_distinct_values_distributed(
    df: DataFrame,
    column: str,
    translate_batch: Callable[[list[str]], list[str]],
    batch_size: int = 100,
    num_partitions: int | None = None,
) -> DataFrame:
    """S7's scale path (SURVEY §2.1): the ``mapInPandas`` variant of
    ``translate_distinct_values`` — partition-batched provider calls
    instead of a driver-side loop.

    The driver-side path collects every distinct value (fine at the
    reference's 33k values, ``translate.py:85``); when the distinct set
    itself is large, this version keeps it distributed: distinct →
    (optional) repartition to bound per-task call volume → each Arrow
    batch goes through the same ``translate_in_batches`` as the driver
    path, yielding an ``(original, translated)`` mapping relation. Feed
    it straight into :func:`apply_value_map_df` — the mapping never
    lands on the driver.

    ``translate_batch`` must be picklable (providers in
    semantic/providers.py are plain dataclasses / functions)."""
    import pandas as pd

    distinct = distinct_column_values(df, column).withColumnRenamed("value", "original")
    if num_partitions is not None:
        distinct = distinct.repartition(num_partitions)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            vals = pdf["original"].tolist()
            yield pd.DataFrame(
                {"original": vals, "translated": translate_in_batches(vals, translate_batch, batch_size)}
            )

    return distinct.mapInPandas(run, schema="original string, translated string")


def apply_value_map_df(df: DataFrame, column: str, map_df: DataFrame) -> DataFrame:
    """T5 with a mapping RELATION ``(original, translated)`` instead of a
    driver-side dict: one broadcast left join, so a mapping produced by
    ``translate_distinct_values_distributed`` joins onto the corpus
    without ever being collected. The map's columns take private names
    inside the join, so ``df``'s own ``original`` and ``translated``
    columns pass through."""
    if column not in df.columns:
        return df
    col = df[f"`{column}`"]
    key, value = "__value_map_original", "__value_map_translated"
    m = map_df.select(F.col("original").alias(key), F.col("translated").alias(value))
    joined = df.join(F.broadcast(m), on=F.trim(col) == F.col(key), how="left")
    return joined.withColumn(column, F.coalesce(F.col(value), col)).drop(key, value)


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
