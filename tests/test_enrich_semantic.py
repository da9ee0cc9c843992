"""Enrichment (T3/T5), semantic providers (T1/T2/M1/M2), mapping split
(P9/P10) — SURVEY.md §2.8."""

import pytest

from ai_etl_pipeline_spark.operators import distinct, enrich, mapping
from ai_etl_pipeline_spark.semantic.providers import (
    ENGLISH,
    NON_ENGLISH,
    NON_TEXT,
    TEXT,
    HeuristicProvider,
    classify_text_columns,
    detect_column_languages,
    translate_in_batches,
)


def test_value_map_literal_and_broadcast_agree(spark):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(300)], "id long, v string")
    small = {"v0": "zero", "v1": "one"}
    big = {f"v{i}": f"t{i}" for i in range(200)}  # > LITERAL_MAP_MAX -> join path
    out_small = enrich.apply_value_map(df, "v", small)
    out_big = enrich.apply_value_map(df, "v", big)
    assert out_small.count() == 300  # row count preserved exactly
    assert out_big.count() == 300
    got = {r["id"]: r["v"] for r in out_small.collect()}
    assert got[0] == "zero" and got[2] == "v2"  # identity fallback
    got_big = {r["id"]: r["v"] for r in out_big.collect()}
    assert got_big[5] == "t5" and got_big[250] == "v250"


def test_value_map_missing_column_skipped(spark):
    df = spark.createDataFrame([(1,)], "id long")
    assert enrich.apply_value_map(df, "nope", {"a": "b"}) is df  # translate.py:223-224 guard


APPLY_PATHS = ["literal", "join", "relation"]


def _apply(spark, df, column, value_map, path):
    """One value map through the applier ``path`` names: the create_map
    literal, the dict above LITERAL_MAP_MAX (broadcast join), or the
    mapping relation. Filler keys that match no row lift the map past
    the literal size without changing what it translates."""
    if path == "literal":
        assert len(value_map) <= enrich.LITERAL_MAP_MAX
        return enrich.apply_value_map(df, column, value_map)
    big = {**value_map, **{f"filler{i}": "F" for i in range(enrich.LITERAL_MAP_MAX)}}
    if path == "join":
        return enrich.apply_value_map(df, column, big)
    return enrich.apply_value_map_df(df, column, enrich.value_map_to_df(spark, big))


@pytest.mark.parametrize("path", APPLY_PATHS)
def test_value_map_one_key_contract(spark, path):
    # every applier probes trim(v): a padded value is translated, while an
    # unmapped value (padded or not), NULL and "" pass through unchanged
    rows = [(1, "v000"), (2, "  v000  "), (3, "v001"), (4, "zz"), (5, " zz "), (6, None), (7, "")]
    df = spark.createDataFrame(rows, "id long, v string")
    value_map = enrich.translate_distinct_values(
        distinct.distinct_values_long(df.where("id <= 3"), ["v"]), ["v"],
        lambda batch: [f"T:{v}" for v in batch],
    )["v"]
    assert value_map == {"v000": "T:v000", "v001": "T:v001"}
    out = _apply(spark, df, "v", value_map, path)
    assert out.columns == ["id", "v"]
    assert dict(out.collect()) == {
        1: "T:v000", 2: "T:v000", 3: "T:v001", 4: "zz", 5: " zz ", 6: None, 7: "",
    }


@pytest.mark.parametrize("path", APPLY_PATHS)
def test_value_map_dotted_column_name(spark, path):
    df = spark.createDataFrame([("a",), (" b ",), ("c",)], "`x.y` string")
    value_map = enrich.translate_distinct_values(
        distinct.distinct_values_long(df, ["x.y"]), ["x.y"], lambda batch: [v.upper() for v in batch]
    )["x.y"]
    out = _apply(spark, df, "x.y", value_map, path)
    assert out.columns == ["x.y"]
    assert sorted(r[0] for r in out.collect()) == ["A", "B", "C"]


@pytest.mark.parametrize("path", APPLY_PATHS)
def test_value_map_keeps_columns_named_like_the_map(spark, path):
    # the map relation's (original, translated) never shadow the caller's
    rows = [(1, "v000", "o1", "t1"), (2, "zz", "o2", "t2")]
    df = spark.createDataFrame(rows, "id long, text string, original string, translated string")
    out = _apply(spark, df, "text", {"v000": "T:v000"}, path)
    assert out.columns == df.columns
    assert sorted(out.collect()) == [(1, "T:v000", "o1", "t1"), (2, "zz", "o2", "t2")]
    out = _apply(spark, df, "original", {"o1": "O1"}, path)
    assert out.columns == df.columns
    assert sorted(out.collect()) == [(1, "v000", "O1", "t1"), (2, "zz", "o2", "t2")]


def test_value_map_never_goes_through_python(spark):
    # a map above LITERAL_MAP_MAX is a LocalRelation, not a pickled RDD
    df = spark.range(300).selectExpr("id", "concat('v', id) AS v")
    big = {f"v{i}": f"t{i}" for i in range(enrich.LITERAL_MAP_MAX + 1)}

    def plan() -> str:
        out = enrich.apply_value_map(df, "v", big)
        return out._jdf.queryExecution().optimizedPlan().toString()

    assert "LogicalRDD" not in plan()
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert "LogicalRDD" not in plan()
    finally:
        spark.conf.set(key, prev)


def test_translate_distinct_semi_join_reduction(spark):
    # 1000 rows but only 3 distinct values -> provider sees each value once
    df = spark.createDataFrame([(i, f"w{i % 3}") for i in range(1000)], "id long, v string")
    seen = []

    def fake_translate(batch):
        seen.extend(batch)
        return [b.upper() for b in batch]

    maps = enrich.translate_distinct_values(distinct.distinct_values_long(df, ["v"]), ["v"], fake_translate)
    assert sorted(seen) == ["w0", "w1", "w2"]  # distinct-only, the reference's key idiom
    assert maps["v"]["w1"] == "W1"


def test_translate_identity_fallback_on_failure(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    def broken(batch):
        raise RuntimeError("api down")

    maps = enrich.translate_distinct_values(distinct.distinct_values_long(df, ["v"]), ["v"], broken)
    assert maps["v"] == {"a": "a", "b": "b"}  # translate.py:111-116


def test_translate_in_batches_slices_and_falls_back_per_slice():
    values = [f"v{i:02d}" for i in range(25)]
    calls = []

    def provider(batch):
        calls.append(len(batch))
        if "v10" in batch:
            raise RuntimeError("provider down")
        if "v20" in batch:
            return batch[:-1]  # wrong count
        return [v.upper() for v in batch]

    out = translate_in_batches(values, provider, batch_size=10)
    assert calls == [10, 10, 5]
    # slice 1 translated; the raising slice 2 and the short slice 3 each
    # fall back to identity on their own (translate.py:111-116)
    assert out == [v.upper() for v in values[:10]] + values[10:]


def test_heuristic_classifier_and_detector():
    p = HeuristicProvider()
    samples = {
        "merchant": ["Jet Tankstelle Würzburg", "Parkplatz am Bahnhof Hbf", "REWE Markt GmbH"],
        "mileagecode": ["M01", "M02", "X9"],
    }
    labels = classify_text_columns(samples, p)
    assert labels["merchant"] == TEXT
    assert labels["mileagecode"] == NON_TEXT  # codes classify NON-TEXT (FIXTURES.md)
    langs = detect_column_languages(
        {"german": ["Würzburg Straße über", "Bahnhof für möglich"],
         "english": ["the quick brown fox and the dog", "a tale of two cities"]},
        p,
    )
    assert langs["german"] == NON_ENGLISH
    assert langs["english"] == ENGLISH


def test_mapping_cleanup_m2():
    raw = {
        "1. **merchant**": "DIM_Company.company_name",
        "trip_name": "Unclear (needs review)",
        "amount": "FACT_EmissionActivityData.amount (numeric value)",
    }
    cleaned = mapping.clean_column_mapping(raw)
    assert cleaned == {
        "merchant": {"table": "DIM_Company", "column": "company_name"},
        "amount": {"table": "FACT_EmissionActivityData", "column": "amount"},
    }  # mapper.py:86 key strip, :92-93 unclear drop, :96 parenthetical strip


def test_split_tables_p9(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "k long, name string, amt double")
    tables = mapping.split_into_tables(
        df,
        {
            "k": {"table": "FACT", "column": "id"},
            "amt": {"table": "FACT", "column": "amount"},
            "name": {"table": "DIM", "column": "label"},
            "missing_col": {"table": "DIM", "column": "x"},  # guard: skipped
        },
    )
    assert sorted(tables) == ["DIM", "FACT"]
    assert tables["FACT"].columns == ["id", "amount"]
    assert tables["DIM"].columns == ["label"]


def test_m1_heuristic_schema_mapping(spark):
    p = HeuristicProvider()
    structure = {"DIM_Company": ["company_id", "company_name"], "DIM_Unit": ["unit_id", "unit_name"]}
    samples = {"company_name": ["ACME"], "unit": ["kWh"], "zzz_opaque": ["?"]}
    raw = p.map_schema("desc", structure, samples)
    assert raw["company_name"] == "DIM_Company.company_name"
    assert raw["unit"].startswith("DIM_Unit.")
    cleaned = mapping.clean_column_mapping(raw)
    assert "zzz_opaque" not in cleaned  # Unclear -> dropped by M2


def test_m1_mapping_injective_per_destination(spark):
    # Round-2 driver crash repro: every orders key-ish column scores >=0.5
    # against FACT_Orders.o_orderkey; without the injectivity rule the
    # split frame repeats o_orderkey 4x and the driver's canonicalizer
    # dies on duplicate labels. The highest-scoring source must win and
    # the losers must land on 'Unclear'.
    p = HeuristicProvider()
    structure = {"FACT_Orders": ["o_orderkey", "o_totalprice", "o_orderdate"]}
    samples = {
        c: ["x"]
        for c in [
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ]
    }
    raw = p.map_schema("orders fact", structure, samples)
    assert raw["o_orderkey"] == "FACT_Orders.o_orderkey"
    assert raw["o_totalprice"] == "FACT_Orders.o_totalprice"
    assert raw["o_orderdate"] == "FACT_Orders.o_orderdate"
    for loser in ["o_custkey", "o_orderstatus", "o_orderpriority"]:
        assert raw[loser] == "Unclear (needs review)"
    targets = [v for v in raw.values() if not v.startswith("Unclear")]
    assert len(targets) == len(set(targets))  # injective


def test_split_tables_keeps_first_on_duplicate_destination(spark):
    # Defense in depth behind the injective mapper: even a hand-written
    # mapping routing two sources to one destination column must not emit
    # a duplicate-named schema (mirrors P4, reference preprocess.py:54-57).
    df = spark.createDataFrame([(1, 2, 3.0)], "a long, b long, c double")
    tables = mapping.split_into_tables(
        df,
        {
            "a": {"table": "FACT", "column": "k"},
            "b": {"table": "FACT", "column": "k"},  # duplicate dest -> dropped
            "c": {"table": "FACT", "column": "amt"},
        },
    )
    assert tables["FACT"].columns == ["k", "amt"]
    assert tables["FACT"].collect()[0] == (1, 3.0)  # keep-first: src 'a'


def test_distinct_profiles_single_pass(documents):
    prof = distinct.column_profiles(documents, approx=False)
    assert prof["lang"]["distinct"] == 5
    assert prof["doc_id"]["non_null"] == prof["doc_id"]["total"]
    nulls = distinct.null_counts(documents)
    assert nulls["doc_id"] == 0
    samples = distinct.column_samples(distinct.distinct_values_long(documents, ["lang"]), ["lang"], 3)["lang"]
    assert len(samples) == 3
