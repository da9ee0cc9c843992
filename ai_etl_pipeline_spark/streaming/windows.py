"""Structured Streaming surface (SURVEY.md §2.7 — ABSENT in the
reference; planned per §7 tier 4).

Event-time windowed aggregation, session windows, watermarked late-data
handling and streaming dedup over the ``events`` table shape
(event_id, ts, user_id, event_type, value, props).

Each transformation is defined once and applied to BOTH batch and
streaming DataFrames (Structured Streaming's unified model), so the
DuckDB oracle can verify the batch rendering while tests run the real
micro-batch engine via ``run_stream_to_memory`` (file source →
Trigger.AvailableNow → memory sink).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import read_parquet


def _events_ddl(ts_type: str) -> str:
    """Events schema DDL with the ``ts`` rendering the file actually
    uses. The testdata generator has shipped BOTH TIMESTAMP(NANOS)
    (reads back ``bigint`` under ``nanosAsLong``, needs ``div 1000``)
    and timestamp[us] (reads back ``timestamp_ntz``, needs nothing) —
    so the type is probed per file, never assumed."""
    return (
        f"event_id long, ts {ts_type}, user_id long, event_type string, "
        "value double, props string"
    )


EVENTS_DDL = _events_ddl("long")  # the TIMESTAMP(NANOS) rendering


def tumbling_window_agg(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling event-time windows: count + sum(value) per (window,
    event_type). Works identically on batch and stream inputs."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_window_agg(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Native session windows (gap-based), per user."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def with_watermark(events: DataFrame, delay: str = "30 minutes") -> DataFrame:
    """Late-data bound: state for windows older than max(event time) -
    delay is evicted; later events are dropped. Required for append-mode
    streaming aggregation."""
    return events.withWatermark("ts", delay)


def streaming_dedup(events: DataFrame, keys: list[str], watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps only in-watermark keys."""
    wm = events.withWatermark("ts", watermark)
    try:
        return wm.dropDuplicatesWithinWatermark(keys)
    except Exception:  # batch DataFrames have no watermark semantics
        return events.dropDuplicates(keys)


def sessionize_batch(events: DataFrame, gap_minutes: int = 5) -> DataFrame:
    """Batch sessionization via the gaps-and-islands idiom (lag + running
    sum of gap breaks) — the window-function rendering of
    session_window_agg, SQL-expressible for the oracle."""
    from pyspark.sql import Window

    # explicit fan-out on the session key (same guard as doc_tokens): a
    # corpus arriving as few files would otherwise run the whole window
    # stage on few tasks; the window's own hash(user_id) requirement is
    # satisfied by this exchange, so no second shuffle is added
    events = events.repartition(F.col("user_id"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > gap_minutes * 60),
        1,
    ).otherwise(0)
    marked = events.withColumn("new_session", gap)
    sess = marked.withColumn(
        "session_no", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet data; schema is
    declared (streams can't infer). ``path`` may be the parquet file
    itself — the file source wants a directory, so we stream its parent
    with a glob filter.

    The ``ts`` unit is NOT assumed: a driver-side footer read probes
    what Spark renders the column as, PER FILE matched by the glob.
    TIMESTAMP(NANOS) files read back ``bigint`` under ``nanosAsLong``
    and get the exact integer-division conversion; micros files read
    back a timestamp type and stream through unchanged (applying
    ``div 1000`` to micros would collapse the corpus 1000×, which is
    exactly the r4 defect). A directory mixing the two units cannot be
    streamed under one declared schema, and a source without ``ts`` is
    not an events stream — both raise instead of mis-converting the
    minority unit or silently defaulting."""
    import glob as _glob
    import os

    if path.endswith(".parquet") and os.path.isfile(path):
        base, fname = os.path.dirname(path), os.path.basename(path)
    else:
        base, fname = path, "*.parquet"
    # Deliberately session-scoped (not set-and-restore): the scan is
    # lazy and every micro-batch re-reads SQL conf at trigger time, so
    # restoring the flag after plan construction would break trigger
    # N+1. The setting is idempotent and strictly widens what the
    # reader accepts (nanos files become readable; nothing else changes
    # shape), so leaking it to the session is the safe direction.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # footer-only probes — no data scan; mirrors the dtype guard in
    # sources/readers.py::read_parquet_nanos_ts. One footer per FILE,
    # not per path: merged-schema inference would pick one footer and
    # silently mis-convert a unit-mixed directory.
    matched = sorted(_glob.glob(os.path.join(base, fname)))
    if not matched:
        raise ValueError(f"read_events_stream: no parquet files match {base}/{fname}")
    ts_types = set()
    for f in matched:
        t = dict(read_parquet(spark, f).dtypes).get("ts")
        if t is None:
            raise ValueError(f"read_events_stream: {f} has no 'ts' column")
        ts_types.add("bigint" if t == "bigint" else "timestamp")
    if len(ts_types) > 1:
        raise ValueError(
            f"read_events_stream: mixed ts units under {base} "
            "(TIMESTAMP(NANOS) and micros files cannot share one stream schema); "
            "rewrite the minority files or stream them separately"
        )
    ts_type = ts_types.pop()
    # micros files: declare TIMESTAMP outright (NTZ is only the batch
    # inference default; watermarks/windows require TIMESTAMP, and the
    # session tz is pinned UTC so the wall-clock values are identical)
    stream = (
        spark.readStream.schema(_events_ddl("long" if ts_type == "bigint" else "timestamp"))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", fname)
        .parquet(base)
    )
    if ts_type == "bigint":
        # true nanos: exact integer division (float would lose micros)
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return stream


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-STATIC join — the standard streaming enrichment pattern:
    each micro-batch joins the (small) static dimension, planned as a
    broadcast hash join, so the stream side never shuffles and no join
    state is kept (unlike stream-stream joins, a static side needs no
    watermark). Works identically on batch frames, which is what the
    oracle checks."""
    return stream.join(F.broadcast(dim), key, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream INNER join on an equality key plus an event-time
    interval (right within [left.ts, left.ts + within]).

    Both sides are watermarked so the join state store is bounded: a
    buffered left row can be dropped once the right watermark passes
    left.ts + within (and vice versa) — without watermarks a
    stream-stream join buffers forever. Works identically on batch
    frames (watermark is a no-op there), which is what the oracle
    checks."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.ts >= l.ts AND r.ts <= l.ts + interval {within}"
    )
    return l.join(r, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col("l.ts").alias("ts_left"),
        F.col("r.ts").alias("ts_right"),
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion with Trigger.AvailableNow →
    in-memory sink, return the final result as a batch DataFrame. Gives
    streaming operators a REAL micro-batch execution in tests/correctness
    checks instead of a batch stand-in.

    ``state_partitions`` (r12) pins ``spark.sql.shuffle.partitions`` for
    the DURATION OF THIS RUN only (the call is synchronous — start →
    awaitTermination — so the set/restore bracket cannot leak into
    other queries): a stateful micro-batch loads and commits one state
    store per shuffle partition PER TRIGGER, so a 3-trigger receipt
    over a few thousand rows pays 32 × 3 state-store cycles of pure
    overhead at the session default. Receipt-sized runs pass a small
    value; results are partition-count-invariant either way. A real
    deployment sizes this to its key cardinality instead."""
    spark = stream_df.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)
