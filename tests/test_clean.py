"""Cleaning chain P1-P8 + A1 (SURVEY.md §2.2/§2.3) — golden tests on the
FIXTURES.md A1-shaped dirty table plus property checks."""

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import clean


def test_normalize_column_name_kernel():
    # preprocess.py:33-38 semantics: strip -> lower -> spaces -> _ -> drop junk
    assert clean.normalize_column_name("  XPD Blocked Comments! ") == "xpd_blocked_comments"
    assert clean.normalize_column_name("Merchant ") == "merchant"
    assert clean.normalize_column_name("Unnamed: 12") == "unnamed_12"


def test_full_chain_golden(dirty_expenses):
    out, log = clean.preprocess_data(dirty_expenses, collect_counts=True)
    # P1: normalized names; P2: empty col dropped; P3: unnamed dropped
    assert out.columns == [
        "merchant", "trip_name", "amount", "amount_note",
        "transaction_date", "quantity", "xpd_blocked_comments",
    ]
    rows = {r["merchant"]: r for r in out.collect()}
    # A1: duplicate row dropped
    assert out.count() == 4
    # P6: trimmed strings (including internal names preserved)
    assert "Jet Tankstelle Würzburg" in rows
    # P5: placeholders -> NULL
    assert rows["Parkplatz Bahnhof"]["trip_name"] is None
    assert rows["REWE Markt"]["trip_name"] is None
    # P7: Amount fully parseable (" 42 ", "1e3", decimals) -> numeric
    amounts = {m: r["amount"] for m, r in rows.items()}
    assert amounts["Parkplatz Bahnhof"] == 1000.0
    assert amounts["Jet Tankstelle Würzburg"] == 42.0
    # P7: Amount Note has unparseable values -> stays string
    assert dict(out.dtypes)["amount_note"] == "string"
    # P7: Quantity all-integral -> bigint
    assert dict(out.dtypes)["quantity"] == "bigint"
    # P8: date column coerced per-value, garbage -> NULL
    assert dict(out.dtypes)["transaction_date"] == "timestamp"
    assert rows["REWE Markt"]["transaction_date"] is None
    assert rows["Jet Tankstelle Würzburg"]["transaction_date"] is not None
    assert any("duplicate rows" in m for m in log)


def test_chain_idempotent(spark, dirty_expenses):
    # the reference re-preprocesses its own output (mapper.py:207)
    # "p" holds only placeholders: it must be empty in the first pass already
    placeholders_only = spark.createDataFrame(
        [("a", "n/a", "x"), ("b", "-", None), ("c", "null", "y")], "k string, p string, q string"
    )
    # no date parses: P8 empties the column, so it must be dropped in the first pass too
    undated = spark.createDataFrame(
        [("a", "kein Datum", "1.5"), ("b", "nie", "2"), ("c", None, "3")],
        "name string, `Transaction Date` string, amount string",
    )
    for df, columns in ((dirty_expenses, None), (placeholders_only, ["k", "q"]),
                        (undated, ["name", "amount"])):
        once, _ = clean.preprocess_data(df)
        twice, _ = clean.preprocess_data(once)
        assert once.schema == twice.schema
        a = sorted(map(str, once.collect()))
        b = sorted(map(str, twice.collect()))
        assert a == b
        assert columns is None or once.columns == columns


def test_dedup_monotone(lineitem):
    proj = lineitem.select("l_returnflag", "l_linestatus")
    assert clean.drop_duplicate_rows(proj).count() <= proj.count()


def test_duplicate_named_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int").toDF("x", "x", "y")
    out = clean.drop_duplicate_named_columns(df)
    assert out.columns == ["x", "y"]
    assert out.first()["x"] == 1  # keeps FIRST occurrence


def test_placeholder_case_sensitivity(spark):
    # reference matches case-sensitively: "N/A" survives (preprocess.py:60-62)
    df = spark.createDataFrame([("n/a",), ("N/A",)], "v string")
    out = clean.replace_placeholders_with_null(df)
    vals = [r["v"] for r in out.collect()]
    assert None in vals and "N/A" in vals


@pytest.mark.parametrize(
    "op", [clean.replace_placeholders_with_null, clean.cast_numeric_columns_all_or_nothing]
)
def test_explicit_empty_column_list_changes_nothing(spark, op):
    # columns=[] names no column; only columns=None means "every string column"
    df = spark.createDataFrame([(" 1 ", "n/a")], "a string, b string")
    out = op(df, columns=[])
    assert out.dtypes == df.dtypes
    assert out.collect() == df.collect()
