"""``sources.readers.read_parquet`` takes its schema from the parquet
footers on the driver: the schema must be the one Spark infers, and
building a frame from local files must start no Spark job."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from ai_etl_pipeline_spark.sources import versioned
from ai_etl_pipeline_spark.sources.readers import footer_schema, read_parquet
from conftest import SF_DIR

TESTDATA = sorted(os.path.basename(p) for p in glob.glob(os.path.join(SF_DIR, "*.parquet")))
SPARK_TYPES = """select cast(1.5 as decimal(10, 2)) d, date'2024-01-05' dt,
  timestamp'2024-01-05 10:30:00' ts, timestamp_ntz'2024-01-05 10:30:00' tsn,
  array(1, 2) arr, named_struct('a', 1L, 'b', 'x') st, map('k', 1.5D) m,
  cast(null as string) s"""
# footer-path cases, then the ones Spark must infer itself
WRITTEN = {
    "spark_types": True, "spark_int96": True, "directory": True,
    "uint32": False, "nanos": False, "partitioned": False,
}


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """One local parquet path per ``WRITTEN`` case."""
    root = tmp_path_factory.mktemp("footer")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try:
        for case, ts_type in (("spark_types", "TIMESTAMP_MICROS"), ("spark_int96", "INT96")):
            spark.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
            spark.sql(SPARK_TYPES).coalesce(1).write.parquet(str(root / case))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    spark.sql(SPARK_TYPES).write.partitionBy("s").parquet(str(root / "partitioned"))
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "u": pa.array([3, 4], pa.uint32())}),
        root / "uint32.parquet",
    )
    ts = [dt.datetime(2024, 1, 5, 10, 30), None]
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("ns"))}), root / "nanos.parquet")
    return {
        "spark_types": glob.glob(str(root / "spark_types" / "*.parquet"))[0],
        "spark_int96": glob.glob(str(root / "spark_int96" / "*.parquet"))[0],
        "uint32": str(root / "uint32.parquet"),
        "nanos": str(root / "nanos.parquet"),
        "directory": str(root / "spark_types"),
        "partitioned": str(root / "partitioned"),
    }


@pytest.mark.parametrize("case", TESTDATA + list(WRITTEN))
def test_footer_schema_is_sparks(spark, written, case):
    path = written[case] if case in WRITTEN else os.path.join(SF_DIR, case)
    # Spark rejects nanosecond timestamps unless it reads them as longs
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        assert (footer_schema(spark, [path]) is not None) == WRITTEN.get(case, True)
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)


def test_footers_that_disagree_take_spark_inference(spark, tmp_path):
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), a)
    pq.write_table(pa.table({"k": pa.array([1], pa.int32())}), b)
    assert footer_schema(spark, [a, a]) is not None
    assert footer_schema(spark, [a, b]) is None
    dup = str(tmp_path / "dup.parquet")
    pq.write_table(pa.table({"k": [1], "K": [2]}), dup)
    assert footer_schema(spark, [dup]) is None


def _max_job_id(spark) -> int:
    """The highest job id in the status store; -1 before the first job."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc.statusStore().jobsList(None)
    )
    return max((j.jobId() for j in jobs), default=-1)


def test_local_parquet_reads_start_no_job(spark, sf_dir, tmp_path):
    base = str(tmp_path / "store")
    versioned.versioned_write(entry._t(spark, sf_dir, "nation"), base, n_files=2)
    directory = str(tmp_path / "region")
    entry._t(spark, sf_dir, "region").write.parquet(directory)
    before = _max_job_id(spark)
    assert entry._t(spark, sf_dir, "lineitem").schema.names[0] == "l_orderkey"
    assert versioned.snapshot_read(spark, base, 1).schema.names[0] == "n_nationkey"
    assert read_parquet(spark, directory).schema.names[0] == "r_regionkey"
    assert _max_job_id(spark) == before


def test_link_prediction_leaves_nothing_persisted(spark, sf_dir):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert entry.q_graph_link_prediction(spark, sf_dir).collect()
    assert set(jsc.getPersistentRDDs().keySet()) == before


def test_upsert_under_a_path_that_needs_url_escapes(spark, tmp_path):
    # _metadata.file_path is a URL-escaped file: URI; the manifests hold
    # plain paths, so a space or '%' in the store's path must round-trip
    base = str(tmp_path / "a b%41" / "store")
    df = spark.range(20).selectExpr("id as k", "id * 10 as v")
    versioned.versioned_write(df, base, n_files=4)
    upd = spark.createDataFrame([(3, -1)], "k long, v long")
    v2 = versioned.versioned_upsert(spark, base, upd, ["k"])
    rows = sorted(tuple(r) for r in versioned.snapshot_read(spark, base, v2).collect())
    assert rows == sorted([(k, 10 * k) for k in range(20) if k != 3] + [(3, -1)])
