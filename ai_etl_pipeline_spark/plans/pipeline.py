"""The reference's two entry-point pipelines, recomposed on the engine
(SURVEY.md §3, §7 tier 6).

- Translation pipeline = ``/root/reference/translate.py:151-226``:
  load → clean → distinct text values → classify (T1) → detect (T2) →
  translate distinct (T3) → broadcast value-map apply (T5) → sink.
- Mapping pipeline = ``/root/reference/mapper.py:195-235``:
  clean → destination structure (P10) → LLM mapping (M1) → cleanup (M2)
  → vertical split (P9) → sink.

The reference's write-then-reload JSON checkpoint after every stage
(``translate.py:174-176`` etc.) is replaced by lazy composition; the
LLM-boundary artifacts (value dicts, mappings) — the things genuinely
worth persisting — still go through store_json_checkpoint when a
``checkpoint_dir`` is given.

Stage 2 fed stage 1's own output decides on the driver:

- Stage 1 caches its cleaned frame and returns it as
  ``artifacts["cleaned"]``; its translated frame is lazy over it. While
  it runs it also caches the cleaned frame's ``(column, value)``
  distinct relation, which feeds both its samples and its translator,
  and releases it before it returns. It records ``{samples, maps,
  cleaned}`` for that very translated frame object: every column's 10
  smallest values, from its one sample pass, and the value maps, which
  hold every original and translated value of the translated columns.
- Stage 2 re-cleans its input (``mapper.py:207``). On a recorded frame
  the re-clean is the identity, since every value but the translations
  is already ``preprocess_data`` output, unless a translated column
  fails one of three checks. Two originals may not share one effective
  value (``m[k]``, or ``k`` when ``m[k]`` is None), which is the only way
  the dedup could drop a row. No translation may change under P5→P6→P5
  (a placeholder, ``""`` or a padded value). And not every translation
  of a column may parse as a number, which P7 would cast. Spark's own
  expressions decide the last two, over a ``LocalRelation`` of the
  translations (a row-wise projection, folded on the driver: no job).
- When every check passes, stage 2 takes its samples from the record,
  builds no cache and runs no Spark job; each table projects from stage
  1's cache and applies only the value maps of the columns it selects.
  Its ``artifacts["cleaned"]`` is the translated frame, uncached, and its
  log is empty, as the re-clean's would be.
- When only the first check fails, the re-clean is A1's dedup alone:
  with the other two passing, no other step of ``preprocess_data``
  changes the translated frame. Stage 2 takes the same samples from the
  record, as the dedup drops rows but never a column's distinct value,
  and caches the deduplicated translated frame as its own
  ``artifacts["cleaned"]``, for every table to project from.
- Any other input (a caller's own frame, or any transformation of the
  translated frame) or a failed value check takes the re-clean: stage 2
  caches its input until its re-cleaned frame is built, then releases
  it, and returns the re-cleaned frame, cached, as its own
  ``artifacts["cleaned"]``. After a failed check its sample pass reads
  only the translated columns; the others keep stage 1's samples, as
  the re-clean changes no value of theirs and its dedup drops none.
- The caller unpersists both ``artifacts["cleaned"]`` after the sinks.
  Either stage releases what it cached if it raises.
"""

from __future__ import annotations

import os
import weakref

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clean import drop_duplicate_rows, numeric_value, preprocess_data, stage_value
from ..operators.distinct import column_samples, distinct_values_long, string_columns
from ..operators.enrich import apply_value_maps, translate_distinct_values
from ..operators.mapping import clean_column_mapping, extract_table_structure, split_into_tables
from ..semantic.providers import (
    NON_ENGLISH,
    TEXT,
    SemanticProvider,
    classify_text_columns,
    detect_column_languages,
    propose_column_mapping,
)
from ..sources.readers import read_parquet


# Stage 1's record of each translated frame it returns, keyed by that
# very object (DataFrames hash by identity): {samples, maps, cleaned}.
_STAGE1: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _checkpoint(payload, checkpoint_dir: str | None, name: str) -> None:
    if checkpoint_dir:
        from ..sources.writers import store_json_checkpoint

        store_json_checkpoint(payload, os.path.join(checkpoint_dir, name))


class ParquetCheckpointer:
    """Resumable stage materialization — the reference's write-then-
    reload checkpoint idiom (``translate.py:174-176``,
    ``mapper.py:214-231``: store every stage, reload on restart) at
    engine scale. Without it a failed 100 TB curation run restarts from
    zero; with it the run resumes at the first stage whose parquet is
    missing.

    Each stage is CONTENT-ADDRESSED by recipe: its key = sha256 of
    (pipeline name, stage name, stage params, upstream stage keys), so
    changing any upstream stage's definition or parameters changes
    every downstream key and forces recomputation of exactly the
    affected suffix — stale checkpoints can never be silently reused.
    (Keys hash the RECIPE, not the data bytes: encode a changing source
    in ``params`` — e.g. a snapshot date or input fingerprint.)

    Completion marker = Spark's own ``_SUCCESS`` file: a run killed
    mid-write leaves no marker, so the half-written stage re-runs.
    ``computed`` records which stages actually executed this run — the
    resume test asserts the already-materialized prefix is skipped.
    """

    def __init__(self, spark: SparkSession, root: str, pipeline: str = "pipeline"):
        self.spark = spark
        self.root = root
        self.pipeline = pipeline
        self._keys: dict[str, str] = {}
        self.computed: list[str] = []

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}-{self._keys[name]}.parquet")

    def stage(
        self,
        name: str,
        build,
        inputs: tuple[str, ...] = (),
        params: str = "",
    ) -> DataFrame:
        """Materialize ``build() -> DataFrame`` as parquet under a
        content-addressed path, or reload it if already complete.
        ``inputs`` are upstream stage names (must be declared in
        dependency order); ``params`` is any string capturing the
        stage's configuration."""
        import hashlib

        for i in inputs:
            if i not in self._keys:
                raise ValueError(f"stage {name!r}: unknown upstream stage {i!r}")
        recipe = "|".join([self.pipeline, name, params, *(self._keys[i] for i in inputs)])
        key = hashlib.sha256(recipe.encode()).hexdigest()[:16]
        self._keys[name] = key
        path = self.stage_path(name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            build().write.mode("overwrite").parquet(path)
            self.computed.append(name)
        return read_parquet(self.spark, path)


def run_curation_pipeline_checkpointed(
    docs: DataFrame,
    checkpoint_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_rate: float = 0.5,
    salt: str = "curate2",
) -> DataFrame:
    """q_pipeline_curation_v2's stages behind :class:`ParquetCheckpointer`:
    near-dup pairs → cluster dedup → fused curation metrics → hash
    sample, each stage materialized once and resumed for free on
    restart. Same operators, same parameters — the checkpointed twin of
    the lazy composition (which remains the default for one-shot runs:
    materialization costs one write per stage)."""
    from pyspark.sql import functions as F

    from ..operators import dedup, sampling, textstats

    spark = docs.sparkSession
    ck = ParquetCheckpointer(spark, checkpoint_root, "curation_v2")

    pairs = ck.stage(
        "pairs",
        lambda: dedup.minhash_lsh_near_duplicates(
            docs, id_col, text_col, shingle_k=3, num_hashes=16, bands=8, threshold=0.5
        ),
        params="shingle_k=3,num_hashes=16,bands=8,threshold=0.5",
    )
    clusters = ck.stage(
        "clusters",
        lambda: dedup.near_duplicate_clusters(pairs, docs.select(id_col), id_col),
        inputs=("pairs",),
    )
    metrics = ck.stage(
        "metrics",
        lambda: textstats.curation_metrics(
            docs.join(
                F.broadcast(
                    clusters.where(F.col(id_col) != F.col("cluster_id")).select(id_col)
                ),
                id_col,
                "left_anti",
            ),
            id_col,
            text_col,
            min_stop_hits=1,
            include_entropy=True,
        ).where(
            F.col("keep_gopher")
            & (F.col("dup_line_frac") <= 0.5)
            & (F.col("entropy") >= 1.0)
        ).select(id_col, "n_words", "dup_line_frac", "entropy"),
        inputs=("clusters",),
        params="min_stop_hits=1,dup_line<=0.5,entropy>=1.0",
    )
    return sampling.hash_sample(metrics, id_col, sample_rate, salt=salt)


def run_translation_pipeline(
    df: DataFrame,
    provider: SemanticProvider,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, dict]:
    """Stage 1: returns (translated_df, artifacts). Row count is
    preserved exactly; only TEXT ∩ NON-ENGLISH columns are translated
    (the reference's column-pruning, ``translate.py:184-204``).

    Stage 1 owns two caches. The cleaned frame is cached, and the
    returned frame is lazy over it, so every later action over the
    translated frame starts from the cache, not from the source scan and
    the dedup shuffle. It is ``artifacts["cleaned"]``; the caller
    unpersists it when the translated frame is no longer read. Its
    ``(column, value)`` distinct relation is cached too, for as long as
    stage 1 runs: the prompt samples build it, and the distinct values
    sent to the translator are a filter of it, so the cleaned frame is
    scanned and shuffled for distinct values once. It is released before
    stage 1 returns. On error both are released before the exception
    propagates.

    The sample pass covers every column, though only the string columns'
    samples reach the classifier, so that stage 2 can take its own
    samples from stage 1's record of the returned frame."""
    cleaned, log = preprocess_data(df)
    cleaned.cache()
    values = distinct_values_long(cleaned, cleaned.columns).cache()
    try:
        samples = column_samples(values, cleaned.columns, 10)
        labels = classify_text_columns({c: samples[c] for c in string_columns(cleaned)}, provider)
        text_cols = [c for c, lab in labels.items() if lab == TEXT]
        langs = detect_column_languages({c: samples[c] for c in text_cols}, provider)
        target_cols = [c for c in text_cols if langs.get(c) == NON_ENGLISH]
        maps = translate_distinct_values(values, target_cols, provider.translate_batch)
        _checkpoint(maps, checkpoint_dir, "translated-map.json")
    except BaseException:
        cleaned.unpersist()
        raise
    finally:
        values.unpersist()
    translated = apply_value_maps(cleaned, maps)
    # with no map applied, translated IS cleaned: a record must not hold its own key
    _STAGE1[translated] = {
        "samples": samples, "maps": maps, "cleaned": None if translated is cleaned else cleaned,
    }
    artifacts = {
        "log": log,
        "column_labels": labels,
        "column_languages": langs,
        "translated_columns": target_cols,
        "value_maps": maps,
        "cleaned": cleaned,
    }
    return translated, artifacts


def _translations(value_map: dict) -> set[str]:
    """The values a translated column holds: ``m[k]``, or ``k`` when
    ``m[k]`` is None, as ``apply_value_maps`` computes them."""
    return {k if t is None else t for k, t in value_map.items()}


def _merges(maps: dict) -> bool:
    """Whether two originals of a translated column share one effective
    value: the only way the re-clean's dedup can drop a row of stage 1's
    translated frame."""
    return any(len(_translations(m)) < len(m) for m in maps.values())


def _reclean_changes(spark: SparkSession, maps: dict) -> bool:
    """Whether stage 2's re-clean could change a value of stage 1's
    translated frame: a translation that P5→P6→P5 changes, or a column
    of translations that P7 casts (the second and third checks of the
    module docstring)."""
    translations = {c: _translations(m) for c, m in maps.items()}
    import pyarrow as pa

    value = F.col("value")
    rows = spark.createDataFrame(
        pa.table({"value": pa.array(sorted(set().union(*translations.values())), pa.string())})
    ).select(
        value.eqNullSafe(stage_value(value)).alias("kept"),
        F.when(numeric_value(value).isNotNull(), value).alias("numeric"),
    ).collect()
    numeric = {r["numeric"] for r in rows} - {None}
    return not all(r["kept"] for r in rows) or any(t and t <= numeric for t in translations.values())


def _with_recorded(record: dict, columns: list[str], own: dict[str, list[str]]) -> dict[str, list[str]]:
    """Every column's 5 smallest values: ``own``'s for the translated
    columns, stage 1's for the others, which the re-clean leaves as they
    are (its dedup drops rows, never a column's distinct value)."""
    return {c: own[c] if c in record["maps"] else record["samples"][c][:5] for c in columns}


def _split_translating(cleaned: DataFrame, maps: dict, mapping: dict) -> dict[str, DataFrame]:
    """``split_into_tables`` over ``cleaned``, each table applying only the
    value maps of the source columns it selects: a left join the table
    does not read would still run."""
    tables = {}
    for table in dict.fromkeys(spec["table"] for spec in mapping.values()):
        own = {s: spec for s, spec in mapping.items() if spec["table"] == table}
        translated = apply_value_maps(cleaned, {s: maps[s] for s in own if s in maps})
        tables.update(split_into_tables(translated, own))
    return tables


def _column_mapping(schema_description, structure, samples, provider, checkpoint_dir) -> dict:
    raw_mapping = propose_column_mapping(schema_description, structure, samples, provider)
    _checkpoint(raw_mapping, checkpoint_dir, "raw-mapping.json")
    mapping = clean_column_mapping(raw_mapping)
    _checkpoint(mapping, checkpoint_dir, "clean-mapping.json")
    return mapping


def run_mapping_pipeline(
    df: DataFrame,
    destination_tables: dict[str, DataFrame],
    schema_description: str,
    provider: SemanticProvider,
    checkpoint_dir: str | None = None,
) -> tuple[dict[str, DataFrame], dict]:
    """Stage 2: returns ({table: DataFrame}, artifacts).

    Fed the very frame stage 1 returned, and when its three checks pass,
    stage 2 owns no cache and runs no Spark job: its samples come from
    stage 1's record, each table projects from stage 1's cache through
    its own value maps, and ``artifacts["cleaned"]`` is ``df``, uncached.
    When only translations merge, it takes the same samples and caches
    ``df`` deduplicated as ``artifacts["cleaned"]``, still without a job
    of its own; the first sink builds that cache.

    Otherwise it re-cleans, and owns two caches; on stage 1's output it
    samples only the translated columns again. Its input is cached for
    the re-clean probe and the build of the re-cleaned frame's cache, and
    released once that cache is built; an input the caller already
    cached is left alone. The re-cleaned frame is cached because every
    table projects from it, so each table's sink is one scan. It is
    ``artifacts["cleaned"]``; the caller unpersists it after the writes.
    On error both caches are released before the exception propagates."""
    structure = extract_table_structure(destination_tables)
    _checkpoint(structure, checkpoint_dir, "table-structure.json")
    record = _STAGE1.get(df)
    maps = {} if record is None else record["maps"]
    if record is not None and not _reclean_changes(df.sparkSession, maps):
        own = {c: sorted(_translations(m))[:5] for c, m in maps.items()}
        samples = _with_recorded(record, df.columns, own)
        mapping = _column_mapping(schema_description, structure, samples, provider, checkpoint_dir)
        artifacts = {"log": [], "structure": structure, "mapping": mapping, "cleaned": df}
        if _merges(maps):  # the re-clean is A1's dedup alone
            artifacts["cleaned"] = drop_duplicate_rows(df).cache()
            return split_into_tables(artifacts["cleaned"], mapping), artifacts
        base = df if record["cleaned"] is None else record["cleaned"]
        return _split_translating(base, maps, mapping), artifacts
    own_input = df.storageLevel == StorageLevel.NONE
    if own_input:
        df.cache()
    cleaned = None
    try:
        cleaned, log = preprocess_data(df)  # idempotent re-clean, mapper.py:207
        cleaned.cache()
        resample = [c for c in cleaned.columns if record is None or c in maps]
        samples = column_samples(distinct_values_long(cleaned, resample), resample, 5)  # builds the cache
        if record is not None:
            samples = _with_recorded(record, cleaned.columns, samples)
        if own_input:
            own_input = False
            df.unpersist()
        mapping = _column_mapping(schema_description, structure, samples, provider, checkpoint_dir)
    except BaseException:
        if cleaned is not None:
            cleaned.unpersist()
        raise
    finally:
        if own_input:
            df.unpersist()
    tables = split_into_tables(cleaned, mapping)
    return tables, {"log": log, "structure": structure, "mapping": mapping, "cleaned": cleaned}
