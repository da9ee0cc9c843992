"""Distributed (mapInPandas) translation path — S7 scale variant.

Parity contract with the reference's batch translator
(``/root/reference/translate.py:98-118``): ≤ batch_size values per
provider call, identity fallback for a failing batch only
(``:111-116``), and the mapping applies back with identity for unmapped
values (``:219-224``). The inter-call throttle (``:118``) belongs to the
transport; ``tests/test_adapters.py`` checks it on this path.
"""

import pytest
from pyspark.sql import functions as F

from ai_etl_pipeline_spark.operators import distinct, enrich


def _corpus(spark, n=250, dupes=3):
    vals = [f"v{i:03d}" for i in range(n)] * dupes + [None, "", "  v000  "]
    return spark.createDataFrame([(v,) for v in vals], "v string")


def _translate_ok():
    # defined per-test inside a closure: cloudpickle ships closures by
    # VALUE to python workers; module-level test functions are pickled by
    # reference and the test module is not importable there
    def f(batch):
        return [f"T:{v}|n{len(batch)}" for v in batch]
    return f


def test_distributed_batching_respects_batch_size(spark):
    df = _corpus(spark)
    mapping = enrich.translate_distinct_values_distributed(
        df, "v", _translate_ok(), batch_size=7, num_partitions=4
    )
    rows = {r["original"]: r["translated"] for r in mapping.collect()}
    assert len(rows) == 250  # trimmed+deduped distinct, no null/blank
    sizes = {int(t.rsplit("|n", 1)[1]) for t in rows.values()}
    assert max(sizes) <= 7
    assert all(t.startswith("T:") for t in rows.values())


def test_distributed_identity_fallback_is_per_batch(spark):
    df = _corpus(spark)

    def flaky(batch):
        if "v013" in batch:
            raise RuntimeError("provider down")
        return [f"T:{v}" for v in batch]

    mapping = enrich.translate_distinct_values_distributed(
        df, "v", flaky, batch_size=7, num_partitions=4
    )
    rows = {r["original"]: r["translated"] for r in mapping.collect()}
    assert rows["v013"] == "v013"  # failing batch degrades to identity
    identity = {k for k, v in rows.items() if k == v}
    assert "v013" in identity and len(identity) <= 7  # only that one batch
    assert rows["v000"] == "T:v000" or "v000" in identity


def test_apply_value_map_df_roundtrip_preserves_rows(spark):
    df = _corpus(spark)
    n_before = df.count()
    mapping = enrich.translate_distinct_values_distributed(
        df, "v", _translate_ok(), batch_size=50, num_partitions=2
    )
    out = enrich.apply_value_map_df(df, "v", mapping)
    assert out.count() == n_before  # left join on unique build key
    got = out.where(F.col("v").isNotNull() & (F.trim(F.col("v")) != "")).select("v")
    assert got.where(~F.col("v").startswith("T:")).count() == 0
    # null/blank rows fall through untouched
    assert out.where(F.col("v").isNull()).count() == 1


def test_distributed_matches_driver_side_path(spark):
    """Same provider, same batch size → the two paths produce the same
    mapping (driver path batches over a sorted collect; distributed path
    batches per partition — contents must agree even if batching
    differs)."""
    df = _corpus(spark, n=120)
    dist = {
        r["original"]: r["translated"].rsplit("|n", 1)[0]
        for r in enrich.translate_distinct_values_distributed(
            df, "v", _translate_ok(), batch_size=40, num_partitions=3
        ).collect()
    }
    values = distinct.distinct_values_long(df, ["v"])
    drv = enrich.translate_distinct_values(values, ["v"], _translate_ok(), batch_size=40)["v"]
    drv = {k: v.rsplit("|n", 1)[0] for k, v in drv.items()}
    assert dist == drv
