import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ai_etl_pipeline_spark.session import get_session

    s = get_session("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def default_partitions(spark):
    """The session's shipped ``spark.sql.shuffle.partitions`` (32) for one
    test, instead of the 4 the test session pins."""
    from ai_etl_pipeline_spark.session import DEFAULT_SHUFFLE_PARTITIONS

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    try:
        yield DEFAULT_SHUFFLE_PARTITIONS
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@contextlib.contextmanager
def split_file_reads(spark):
    """File reads planned inside the block split even a small file into
    several partitions: the split size falls to a few KB."""
    confs = {"spark.sql.files.maxPartitionBytes": "4096", "spark.sql.files.openCostInBytes": "1024"}
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@pytest.fixture
def split_reads(spark):
    """``split_file_reads`` for one test: its reads keep Spark's
    multi-partition plan instead of the one-partition rule of
    ``sources.readers``."""
    with split_file_reads(spark):
        yield


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def dirty_expenses(spark):
    """FIXTURES.md A1-shaped dirty expense table (constructed in-test:
    messy names, placeholders, padded strings, all-or-nothing numeric
    columns, coercible dates, duplicate rows/columns, empty + unnamed
    columns)."""
    rows = [
        # Merchant, Trip Name, Amount, Amount Note, Transaction Date, Quantity, Unnamed, dup
        ("  Jet Tankstelle Würzburg ", "An/Abreise", " 42 ", "12 EUR", "2024-01-05", "3", None, "x"),
        ("Parkplatz Bahnhof", "n/a", "1e3", "7", "05.01.2024", "4", None, "y"),
        ("REWE Markt", "-", "17.5", "8 km", "garbage", "5", None, "z"),
        ("REWE Markt", "-", "17.5", "8 km", "garbage", "5", None, "z"),  # dup row
        ("Hotel  Central", "", "0", "9", "2024-02-01 10:30:00", "6", None, "w"),
    ]
    pdf_cols = [
        "Merchant ",
        "Trip Name",
        "Amount",
        "Amount Note",
        "Transaction Date",
        "Quantity",
        "Unnamed: 12",
        "XPD Blocked Comments!",
    ]
    df = spark.createDataFrame(rows, schema=", ".join(f"`{c}` string" for c in pdf_cols))
    return df
