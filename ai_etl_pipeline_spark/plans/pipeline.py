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

Caches, so that the translated frame is computed once:

- Stage 1 caches its cleaned frame and returns it as
  ``artifacts["cleaned"]``; its translated frame is lazy over it.
- Stage 2 caches its input until its re-cleaned frame is built, then
  releases it. It returns the re-cleaned frame, cached, as its own
  ``artifacts["cleaned"]``.
- The caller unpersists both ``artifacts["cleaned"]`` after the sinks.
  Either stage releases what it cached if it raises.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from ..operators.clean import preprocess_data
from ..operators.distinct import column_samples, string_columns
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
        return self.spark.read.parquet(path)


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

    Stage 1 owns one cache, the cleaned frame. Its two driver reads, the
    prompt samples and the distinct values sent to the translator, build
    it, and the returned frame is lazy over it, so every later action
    over the translated frame starts from the cache, not from the
    source scan and the dedup shuffle. It is ``artifacts["cleaned"]``;
    the caller unpersists it when the translated frame is no longer
    read. On error it is released before the exception propagates."""
    cleaned, log = preprocess_data(df)
    cleaned.cache()
    try:
        samples = column_samples(cleaned, string_columns(cleaned), 10)
        labels = classify_text_columns(samples, provider)
        text_cols = [c for c, lab in labels.items() if lab == TEXT]
        langs = detect_column_languages({c: samples[c] for c in text_cols}, provider)
        target_cols = [c for c in text_cols if langs.get(c) == NON_ENGLISH]
        maps = translate_distinct_values(cleaned, target_cols, provider.translate_batch)
        _checkpoint(maps, checkpoint_dir, "translated-map.json")
    except BaseException:
        cleaned.unpersist()
        raise
    translated = apply_value_maps(cleaned, maps)
    artifacts = {
        "log": log,
        "column_labels": labels,
        "column_languages": langs,
        "translated_columns": target_cols,
        "value_maps": maps,
        "cleaned": cleaned,
    }
    return translated, artifacts


def run_mapping_pipeline(
    df: DataFrame,
    destination_tables: dict[str, DataFrame],
    schema_description: str,
    provider: SemanticProvider,
    checkpoint_dir: str | None = None,
) -> tuple[dict[str, DataFrame], dict]:
    """Stage 2: returns ({table: DataFrame}, artifacts).

    Stage 2 owns two caches. Its input is cached for the re-clean probe
    and the build of the re-cleaned frame's cache, and released once that
    cache is built; an input the caller already cached is left alone.
    The re-cleaned frame is cached because every table projects from it,
    so each table's sink is one scan. It is ``artifacts["cleaned"]``; the
    caller unpersists it after the writes. On error both caches are
    released before the exception propagates."""
    structure = extract_table_structure(destination_tables)
    _checkpoint(structure, checkpoint_dir, "table-structure.json")
    own_input = df.storageLevel == StorageLevel.NONE
    if own_input:
        df.cache()
    cleaned = None
    try:
        cleaned, log = preprocess_data(df)  # idempotent re-clean, mapper.py:207
        cleaned.cache()
        samples = column_samples(cleaned, list(cleaned.columns), 5)  # builds the cache
        if own_input:
            own_input = False
            df.unpersist()
        raw_mapping = propose_column_mapping(schema_description, structure, samples, provider)
        _checkpoint(raw_mapping, checkpoint_dir, "raw-mapping.json")
        mapping = clean_column_mapping(raw_mapping)
        _checkpoint(mapping, checkpoint_dir, "clean-mapping.json")
    except BaseException:
        if cleaned is not None:
            cleaned.unpersist()
        raise
    finally:
        if own_input:
            df.unpersist()
    tables = split_into_tables(cleaned, mapping)
    return tables, {"log": log, "structure": structure, "mapping": mapping, "cleaned": cleaned}
