"""The two workloads: what one op is, which ops make a pass, how each
op's output is checked.

A pass issues its ops one after another (a closed loop with one client).
Registry ops are one query call plus ``toPandas``; the etl op is the
paper's whole pipeline plus its parquet sink.
"""

from __future__ import annotations

import os
import random
from collections import Counter

import pyarrow.parquet as pq

import expense
import tables

# One registry query per layer behind the registry, the cheapest that
# exercises it, so that set-up and a timed pass of every run fit the run
# budget on a 4-CPU host.
REGISTRY_QUERIES = [
    "q_pricing_summary",         # operators.relational: scan, aggregate
    "q_graph_link_prediction",   # operators.graph
    "q_entity_resolution",       # operators.linkage, dedup: hash-min components loop
    "q_merge_upsert",            # operators.cdc
    "q_cdc_time_travel",         # sources.versioned: write, then read back
    "q_media_png_decode",        # operators.multimodal
    "q_embed_feature_hash",      # operators.similarity
    "q_text_tokens",             # operators.textstats
    "q_embed_gramian",           # operators.embedstats
    "q_pack_sequences",          # operators.packing
    "q_pandas_udaf_weighted",    # functions
    "q_events_stream_tumbling",  # streaming micro-batches
]
REGISTRY = {"registry": REGISTRY_QUERIES}
WORKLOADS = ["etl_expense", *REGISTRY]
TABLES_SF = 0.001
EXPENSE_ROWS = 5_000


class RegistryWorkload:
    """Registry queries over the fixed tables; the seed orders the passes
    after the first."""

    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed = name, seed
        self.sf_dir = tables.ensure_tables(os.path.join(work, "tables"), TABLES_SF)
        self._rng = random.Random(seed)
        self._passes = 0
        self._oracle: dict[str, tuple] = {}

    def prepare(self, spark) -> None:
        """Oracle signatures on DuckDB, computed once, off the clock."""
        import duckdb

        import __spark_entry__ as entry
        from check_parity import frame_signature

        self._queries = entry.queries()
        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in REGISTRY[self.name]:
                self._oracle[q] = frame_signature(con.sql(sql[q]).df())
        finally:
            con.close()
        self._signature = frame_signature

    def next_pass(self) -> list[str]:
        # The first, cold pass keeps the listed order: a query's first-use
        # cost depends on what ran before it (entity resolution took 5.5 s
        # late in a pass and 13.5 s first), so a seeded cold order would
        # turn the seed into noise. Later passes run in the seeded order.
        if not self._passes:
            self._passes += 1
            return list(REGISTRY[self.name])
        return self._rng.sample(REGISTRY[self.name], len(REGISTRY[self.name]))

    def run_op(self, spark, q: str, tracer=None):
        fn = self._queries[q]
        if tracer is None:
            return fn(spark, self.sf_dir).toPandas()
        df = tracer.call("entry.build", q, fn, spark, self.sf_dir)
        return tracer.call("collect", "toPandas", df.toPandas)

    def check(self, q: str, pdf) -> str | None:
        cols, rows = self._signature(pdf)
        want_cols, want_rows = self._oracle[q]
        if cols != want_cols:
            return f"columns {cols} != oracle {want_cols}"
        if rows != want_rows:
            return f"{len(rows)} rows differ from the oracle's {len(want_rows)}"
        return None


class EtlWorkload:
    """The paper's batch job on a seeded expense export."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.csv_path = os.path.join(work, "expense.csv")
        self.out_dir = os.path.join(work, "star")
        text, self.overlay, self.expect = expense.make_expense(seed, EXPENSE_ROWS)
        os.makedirs(work, exist_ok=True)
        with open(self.csv_path, "w", encoding="utf-8") as fh:
            fh.write(text)

    def prepare(self, spark) -> None:
        from ai_etl_pipeline_spark.semantic import HeuristicProvider

        self.provider = HeuristicProvider(translation_overlay=self.overlay)

    def next_pass(self) -> list[str]:
        return ["pipeline"]

    def run_op(self, spark, _op: str, tracer=None) -> list[str]:
        from ai_etl_pipeline_spark import plans
        from ai_etl_pipeline_spark.sources import readers, writers

        # module attributes are looked up per call, so traced passes see the wrappers
        dest = {t: spark.createDataFrame([], ", ".join(f"{c} string" for c in cols))
                for t, cols in expense.STAR.items()}
        df = readers.load_source_file(spark, self.csv_path)
        translated, _ = plans.run_translation_pipeline(df, self.provider)
        star, _ = plans.run_mapping_pipeline(translated, dest, "expense star schema",
                                             self.provider)
        for t, frame in star.items():
            writers.write_parquet(frame, os.path.join(self.out_dir, t))
        return sorted(star)

    def check(self, _op: str, written: list[str]) -> str | None:
        if written != sorted(expense.STAR):
            return f"tables {written} != {sorted(expense.STAR)}"
        for t, cols in expense.STAR.items():
            got = pq.read_table(os.path.join(self.out_dir, t))
            if sorted(got.column_names) != sorted(cols):
                return f"{t} columns {got.column_names} != {cols}"
            if got.num_rows != self.expect["rows"]:
                return f"{t} has {got.num_rows} rows, expected {self.expect['rows']} after dedup"
            for c in set(cols) & set(self.expect["values"]):
                if Counter(got.column(c).to_pylist()) != self.expect["values"][c]:
                    return f"{t}.{c} values differ from the overlay translation"
        return None


def inputs(name: str, seed: int):
    """What the seed decides: the expense file, or the registry query order
    of the passes after the first."""
    if name == "etl_expense":
        return expense.make_expense(seed, EXPENSE_ROWS)[0]
    rng = random.Random(seed)
    return [rng.sample(REGISTRY[name], len(REGISTRY[name])) for _ in range(4)]


def make(name: str, seed: int, work: str):
    if name == "etl_expense":
        return EtlWorkload(seed, work)
    if name in REGISTRY:
        return RegistryWorkload(name, seed, work)
    raise SystemExit(f"unknown workload {name!r}; choose one of {WORKLOADS}")
