"""A source Spark plans as one partition is planned as one partition.

``sources.readers`` returns a one-partition scan as ``coalesce(1)`` over
it, so dedup, distinct, grouped aggregates, windows and sorts over it
plan no exchange. The same data read in several partitions keeps
Spark's own plan, both reads give the same results, and deciding which
case applies starts no Spark job."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.sources import readers
from conftest import split_file_reads

OPS = {
    "dropDuplicates": lambda df: df.dropDuplicates(["k", "v"]),
    "distinct": lambda df: df.distinct(),
    "groupBy": lambda df: df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")),
    "window": lambda df: df.withColumn("r", F.row_number().over(Window.partitionBy("k").orderBy("v"))),
    "orderBy": lambda df: df.orderBy("k", "v"),
}


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """One CSV file and one parquet file of the same 2,000 rows, a fifth
    of them exact duplicates."""
    root = tmp_path_factory.mktemp("one_partition")
    distinct_rows = [(i % 37, i % 400, f"s{i % 400}") for i in range(1600)]
    rows = distinct_rows + distinct_rows[:400]
    csv = root / "rows.csv"
    csv.write_text("k,v,s\n" + "".join(f"{k},{v},{s}\n" for k, v, s in rows))
    spark.createDataFrame(rows, "k int, v int, s string").coalesce(1).write.parquet(str(root / "rows"))
    return {
        "csv": lambda: readers.read_csv(spark, str(csv)),
        "parquet": lambda: readers.read_parquet(spark, str(root / "rows")),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _partitions(df) -> int:
    return df._jdf.queryExecution().sparkPlan().collectLeaves().head().inputRDD().getNumPartitions()


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_one_partition_source_plans_no_exchange(sources, fmt):
    df = sources[fmt]()
    assert "Coalesce 1" in _plan(df)
    for name, op in OPS.items():
        plan = _plan(op(df))
        assert "Exchange" not in plan, (name, plan)


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_split_source_keeps_sparks_plan(sources, split_reads, fmt):
    df = sources[fmt]()
    assert _partitions(df) > 1
    assert "Coalesce" not in _plan(df)
    for name, op in OPS.items():
        plan = _plan(op(df))
        assert "Exchange" in plan and "Coalesce" not in plan, (name, plan)


def _results(df) -> dict:
    return {name: [tuple(r) for r in op(df).collect()] for name, op in OPS.items()}


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_one_and_split_reads_agree(spark, sources, fmt):
    one = _results(sources[fmt]())
    with split_file_reads(spark):
        split = _results(sources[fmt]())
    for name in OPS:
        if name == "orderBy":
            assert one[name] == split[name]
        else:
            assert sorted(one[name]) == sorted(split[name]), name


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_partition_check_starts_no_job(spark, sources, fmt):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for split in (False, True):
        with split_file_reads(spark) if split else contextlib.nullcontext():
            df = sources[fmt]()
            schema = df.schema
            path = df.inputFiles()
            bare = spark.read.schema(schema)
            bare = bare.option("header", True).csv(path) if fmt == "csv" else bare.parquet(*path)
            j0 = dag.nextJobId()
            out = readers._one_partition(bare)
            assert dag.nextJobId() == j0
            assert ("Coalesce 1" in _plan(out)) != split

