"""The paper's pipeline makes each column-level decision in one pass.

- ``distinct.column_samples``: one ``(column, value)`` distinct relation
  yields every column's prompt samples, the n smallest trimmed non-empty
  values, whatever the partitioning.
- Stage 1 builds that relation once: the translator's values are a
  filter of the cached relation its samples built, so its job group
  writes four shuffles, and it releases the relation whether it returns
  or raises.
- Job budget: load → translation pipeline → mapping pipeline → five
  parquet sinks runs a fixed number of Spark jobs, the same for a 4- and
  a 12-string-column file.
- Stage 2 fed stage 1's own output decides on the driver, and gives the
  mapping provider and the sinks exactly what its re-clean gives on an
  equal frame (``translated.select("*")``, which has no stage-1 record).
  A translation the re-clean would change sends it down the re-clean;
  one that only merges two originals caches the deduplicated frame.
- Cache lifecycle: each stage hands its cached frame to the caller as
  ``artifacts["cleaned"]`` (stage 2 on stage 1's output caches nothing);
  the mapping stage's input cache is released inside it, and a stage
  that raises releases what it cached.
- Sink sizing: at the session's shipped 32 shuffle partitions, AQE sizes
  the cached frame too, so each small star table is one parquet file.
"""

from __future__ import annotations

import contextlib
import itertools
import os

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark import plans
from ai_etl_pipeline_spark.plans import pipeline
from ai_etl_pipeline_spark.operators import distinct
from ai_etl_pipeline_spark.semantic import HeuristicProvider
from ai_etl_pipeline_spark.sources import readers, writers
from conftest import split_file_reads

JOB_BUDGET = 12
MERGE_JOB_BUDGET = 13
RECLEAN_JOB_BUDGET = 16
_GROUPS = itertools.count()


@contextlib.contextmanager
def _job_group(spark):
    """Runs the body in a job group of its own; yields the group's name."""
    sc = spark.sparkContext
    group = f"pipeline-passes-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, group: str) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_column_samples_are_smallest_n_per_column(spark):
    rows = [
        (i, i / 4, f"  v{i % 9} " if i % 5 else "", ["Ä", "z", "a b", "  ", None][i % 5])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, ratio double, s string, t string")

    def expected(n):
        return {
            c: sorted({str(r[i]).strip(" ") for r in rows if r[i] is not None} - {""})[:n]
            for i, c in enumerate(df.columns)
        }

    assert expected(3)["ratio"] == ["0.0", "0.25", "0.5"]  # non-string columns stringified
    assert expected(3)["t"] == ["a b", "z", "Ä"]
    for n in (1, 3, 100):
        for frame in (df, df.repartition(1), df.repartition(7)):
            values = distinct.distinct_values_long(frame, df.columns)
            assert distinct.column_samples(values, list(df.columns), n) == expected(n)
            assert distinct.column_samples(values, ["s", "t"], n) == {  # a subset of the relation
                c: expected(n)[c] for c in ("s", "t")
            }
    assert distinct.column_samples(distinct.distinct_values_long(df, []), [], 5) == {}


_GERMAN = ["Bäckerei Köln", "Tankstelle München", "Gasthof Nürnberg", "Apotheke Würzburg"]
_TRIPS = ["Kundentermin Göttingen", "Messebesuch Lübeck", "Schulung Düsseldorf"]


def _expense_csv(path: str, extra: int) -> dict[str, list[str]]:
    """An expense CSV with 4 + ``extra`` string columns, an amount and a
    date; returns the five-table star it maps onto."""
    notes = [f"note_{k}" for k in range(extra)]
    header = ["Merchant", "Trip Name", "Status", "Code", *notes, "Amount", "Transaction Date"]
    lines = [",".join(header)]
    for i in range(120):
        row = [
            _GERMAN[i % 4], _TRIPS[i % 3], ["approved and paid", "rejected by the manager"][i % 2],
            f"C{i % 5:02d}", *[f"the note {k} of row {i % 7}" for k in range(extra)],
            f"{1 + i / 4:.2f}", f"2024-01-{1 + i % 28:02d}",
        ]
        lines.append(",".join(row))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "DIM_Merchant": ["merchant"],
        "DIM_Trip": ["trip_name"],
        "DIM_Status": ["status", *notes],
        "DIM_Code": ["code", "transaction_date"],
        "FACT_Expense": ["amount"],
    }


def _inputs(spark, tmp_path, extra: int):
    """(loaded CSV, empty destination tables, star) for ``_expense_csv``."""
    tmp_path.mkdir(exist_ok=True)
    path = str(tmp_path / "expense.csv")
    star = _expense_csv(path, extra)
    dest = {t: spark.createDataFrame([], ", ".join(f"{c} string" for c in cols))
            for t, cols in star.items()}
    return readers.load_source_file(spark, path), dest, star


def test_pipeline_jobs_do_not_grow_with_columns(spark, tmp_path):
    """The three stage-2 paths: fed stage 1's own output, the same when
    two merchants share a translation, and fed an equal frame with no
    stage-1 record, which re-cleans."""
    overlay = {v: f"EN {v}" for v in _GERMAN + _TRIPS}
    fast = HeuristicProvider(translation_overlay=overlay)
    merging = HeuristicProvider(translation_overlay={**overlay, _GERMAN[3]: overlay[_GERMAN[0]]})
    providers = {"fast": fast, "merge": merging, "reclean": fast}
    counts = {}
    for path, provider in providers.items():
        for extra in (0, 8):  # 4 and 12 string columns
            out = tmp_path / f"{path}-{extra}"
            with _job_group(spark) as group:
                df, dest, star = _inputs(spark, out, extra)
                translated, stage1 = plans.run_translation_pipeline(df, provider)
                stage2_input = translated.select("*") if path == "reclean" else translated
                tables, stage2 = plans.run_mapping_pipeline(stage2_input, dest, "expense star", provider)
                for t, frame in tables.items():
                    writers.write_parquet(frame, str(out / "star" / t))
                stage1["cleaned"].unpersist()
                stage2["cleaned"].unpersist()
            counts[path, 4 + extra] = len(_jobs(spark, group))
            assert stage1["translated_columns"] == ["merchant", "trip_name"]
            assert {t: sorted(f.columns) for t, f in tables.items()} == {
                t: sorted(cols) for t, cols in star.items()
            }
    for path in providers:
        assert counts[path, 4] == counts[path, 12], counts
    assert counts["fast", 4] <= JOB_BUDGET, counts
    assert counts["merge", 4] <= MERGE_JOB_BUDGET < RECLEAN_JOB_BUDGET, counts
    assert counts["reclean", 4] <= RECLEAN_JOB_BUDGET, counts


def _shuffle_writing_stages(spark, group: str) -> int:
    """The stages of ``group``'s jobs that wrote shuffle output, read from
    the JVM status store.

    Once the store holds ``spark.ui.retainedStages`` stages it evicts
    skipped stages first, so a stage of these jobs can be gone by the
    time it is read, depending on how many stages the session ran
    before. A skipped stage wrote nothing, so it counts 0; the jobs'
    own skipped-stage totals bound how many may be missing."""
    from py4j.protocol import Py4JJavaError

    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = _jobs(spark, group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    written = missing = 0
    for s in stages:
        try:
            written += store.lastStageAttempt(s).shuffleWriteBytes() > 0
        except Py4JJavaError:
            missing += 1
    assert missing <= sum(store.job(j).numSkippedStages() for j in jobs), missing
    return written


def test_translation_builds_distinct_values_once(spark, tmp_path):
    for split in (True, False):
        _builds_distinct_values_once(spark, tmp_path / ("split" if split else "one"), split)


def _builds_distinct_values_once(spark, tmp_path, split: bool):
    with split_file_reads(spark) if split else contextlib.nullcontext():
        df, _, _ = _inputs(spark, tmp_path, 2)
        padded = F.concat(F.lit("  "), F.col("Merchant"), F.lit(" "))
        df = df.withColumn("Merchant", F.when(F.col("Code") == "C01", padded).otherwise(F.col("Merchant")))
        provider = HeuristicProvider(translation_overlay={v: f"EN {v}" for v in _GERMAN + _TRIPS})
        with _job_group(spark) as group:
            translated, stage1 = plans.run_translation_pipeline(df, provider)
    try:
        # over a CSV read in several partitions: the numeric probe, the
        # dedup, the distinct and the samples' window; the translator's
        # values are a filter of the cached distinct relation. Over one
        # partition none of them shuffles.
        assert _shuffle_writing_stages(spark, group) == (4 if split else 0)
        cleaned = stage1["cleaned"]
        targets = stage1["translated_columns"]
        assert targets == ["merchant", "trip_name"]
        assert {c: sorted(m) for c, m in stage1["value_maps"].items()} == (
            distinct.extract_unique_text_values(distinct.distinct_values_long(cleaned, targets), targets)
        )
        assert sorted(stage1["value_maps"]["merchant"]) == sorted(_GERMAN)  # padded ones trimmed
        samples = pipeline._STAGE1[translated]["samples"]
        assert samples == distinct.column_samples(
            distinct.distinct_values_long(cleaned, cleaned.columns), cleaned.columns, 10
        )
    finally:
        stage1["cleaned"].unpersist()


def test_translation_error_releases_its_caches(spark, tmp_path):
    df, _, _ = _inputs(spark, tmp_path, 2)
    not_a_directory = tmp_path / "checkpoints"
    not_a_directory.write_text("")
    before = _persisted(spark)
    with pytest.raises(OSError):  # raised after the translate step, by the map's checkpoint
        plans.run_translation_pipeline(df, HeuristicProvider(), checkpoint_dir=str(not_a_directory))
    assert _persisted(spark) == before  # the cleaned frame and the distinct relation


class _RecordsSamples(HeuristicProvider):
    def map_schema(self, description, structure, samples):
        self.samples = samples
        return super().map_schema(description, structure, samples)


def _stage2(spark, translated, dest) -> tuple[list, list, dict, set[int], int]:
    """(sample items, log, {table: (schema, sorted rows)}) of stage 2 over
    ``translated``, the RDDs it held persisted once its tables were read,
    and the Spark jobs stage 2 itself ran."""
    provider = _RecordsSamples()
    before = _persisted(spark)
    with _job_group(spark) as group:
        tables, artifacts = plans.run_mapping_pipeline(translated, dest, "expense star", provider)
    try:
        out = {t: (f.schema, sorted(map(str, f.collect()))) for t, f in tables.items()}
        held = _persisted(spark) - before
    finally:
        artifacts["cleaned"].unpersist()
    return list(provider.samples.items()), artifacts["log"], out, held, len(_jobs(spark, group))


@pytest.mark.parametrize("case", ["identity", "german", "untranslated"])
def test_pipeline_mapping_fast_path_is_exact(spark, tmp_path, case):
    overlay = {v: f"EN {v}" for v in _GERMAN + _TRIPS} if case == "german" else {}
    df, dest, _ = _inputs(spark, tmp_path, 2)
    if case == "untranslated":  # no map applied: the translated frame is stage 1's cache
        df = df.drop("Merchant", "Trip Name")
    translated, stage1 = plans.run_translation_pipeline(df, HeuristicProvider(translation_overlay=overlay))
    try:
        *fast, fast_held, fast_jobs = _stage2(spark, translated, dest)
        *reclean, reclean_held, _ = _stage2(spark, translated.select("*"), dest)
    finally:
        stage1["cleaned"].unpersist()
    assert not fast_held and len(reclean_held) == 1 and fast_jobs == 0
    assert fast == reclean
    samples, log, tables = fast
    assert log == [] and len(tables) == (3 if case == "untranslated" else 5)
    if overlay:
        assert dict(samples)["merchant"] == sorted(f"EN {v}" for v in _GERMAN)


@pytest.mark.parametrize("overlay, recleans", [
    ({"Bäckerei Köln": "n/a"}, True),  # a placeholder
    ({"Bäckerei Köln": ""}, True),
    ({"Bäckerei Köln": "  Bakery Cologne "}, True),  # padded
    ({v: str(i) for i, v in enumerate(_GERMAN)}, True),  # every merchant numeric: P7 casts it
    # a merge alone is deduplicated on stage 1's cache, decided on the driver
    ({"Bäckerei Köln": "Bakery", "Apotheke Würzburg": "Bakery"}, False),  # two originals merged
    ({"Bäckerei Köln": "Apotheke Würzburg"}, False),  # equal to another, untranslated original
], ids=["placeholder", "empty", "padded", "numeric", "merged", "onto-original"])
def test_pipeline_mapping_falls_back_when_a_translation_changes_the_clean(spark, tmp_path, overlay, recleans):
    df, dest, _ = _inputs(spark, tmp_path, 0)
    # 12 distinct rows, so a merge drops 3 of them; "Status" is not translated
    df = df.select("Merchant", "Trip Name", "Status")
    translated, stage1 = plans.run_translation_pipeline(df, HeuristicProvider(translation_overlay=overlay))
    try:
        *fallback, held, jobs = _stage2(spark, translated, dest)
        *reclean, _, _ = _stage2(spark, translated.select("*"), dest)
    finally:
        stage1["cleaned"].unpersist()
    assert stage1["translated_columns"] == ["merchant", "trip_name"]
    assert len(held) == 1  # stage 2 held its own cache
    assert (jobs > 0) == recleans, jobs
    assert fallback == reclean


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_pipeline_cache_lifecycle(spark, tmp_path):
    before = _persisted(spark)
    df, dest, _ = _inputs(spark, tmp_path, 2)
    translated, stage1 = plans.run_translation_pipeline(df, HeuristicProvider())
    after1 = _persisted(spark)
    assert before < after1 and len(after1 - before) == 1
    _, fast = plans.run_mapping_pipeline(translated, dest, "expense star", HeuristicProvider())
    assert _persisted(spark) == after1  # stage 1's own output: no cache of its own
    _, stage2 = plans.run_mapping_pipeline(translated.select("*"), dest, "expense star",
                                           HeuristicProvider())
    after2 = _persisted(spark)  # the input cache is already released
    assert after1 < after2 and len(after2 - before) == 2
    stage1["cleaned"].unpersist()
    fast["cleaned"].unpersist()
    stage2["cleaned"].unpersist()
    assert _persisted(spark) == before


def test_pipeline_mapping_leaves_a_cached_input_alone(spark, tmp_path):
    df, dest, _ = _inputs(spark, tmp_path, 0)
    df.cache().count()
    try:
        before = _persisted(spark)
        _, stage2 = plans.run_mapping_pipeline(df, dest, "expense star", HeuristicProvider())
        stage2["cleaned"].unpersist()
        assert _persisted(spark) == before  # the caller's cache is still there
    finally:
        df.unpersist()


class _MappingFails(HeuristicProvider):
    def map_schema(self, *args):
        raise RuntimeError("mapping service down")


def test_pipeline_mapping_error_releases_its_caches(spark, tmp_path):
    before = _persisted(spark)
    df, dest, _ = _inputs(spark, tmp_path, 2)
    translated, stage1 = plans.run_translation_pipeline(df, HeuristicProvider())
    after1 = _persisted(spark)
    try:
        for stage2_input in (translated, translated.select("*")):  # fast path, re-clean
            with pytest.raises(RuntimeError, match="mapping service down"):
                plans.run_mapping_pipeline(stage2_input, dest, "expense star", _MappingFails())
            assert _persisted(spark) == after1  # only stage 1's cache is left
    finally:
        stage1["cleaned"].unpersist()
    assert _persisted(spark) == before


def test_pipeline_sinks_are_sized_by_aqe(spark, tmp_path, default_partitions, split_reads):
    df, dest, _ = _inputs(spark, tmp_path, 2)
    translated, stage1 = plans.run_translation_pipeline(df, HeuristicProvider())
    try:
        for path, stage2_input in (("fast", translated), ("reclean", translated.select("*"))):
            tables, artifacts = plans.run_mapping_pipeline(stage2_input, dest, "expense star",
                                                           HeuristicProvider())
            try:
                for t, frame in tables.items():
                    writers.write_parquet(frame, str(tmp_path / path / t))
                files = {t: [f for f in os.listdir(tmp_path / path / t) if f.endswith(".parquet")]
                         for t in tables}
                assert {t: len(fs) for t, fs in files.items()} == {t: 1 for t in tables}, path
                assert artifacts["cleaned"].rdd.getNumPartitions() == 1, path
            finally:
                artifacts["cleaned"].unpersist()
    finally:
        stage1["cleaned"].unpersist()
