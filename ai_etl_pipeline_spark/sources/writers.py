"""Sinks (SURVEY.md §2.1 S4–S6).

- S4 JSON checkpoint (Timestamp-safe): ``/root/reference/preprocess.py:95-110``.
  Checkpoint payloads are small driver-side mappings (value dicts, column
  mappings) — data-scale checkpoints go through ``write_parquet``.
- S5 CSV sink: ``/root/reference/translate.py:226``.
- S6 multi-sheet Excel sink with 31-char sheet-name truncation:
  ``/root/reference/mapper.py:123-136``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .readers import read_parquet


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """The scale-path sink. ``partition_by`` enables partition pruning for
    downstream readers — choose low-cardinality keys (date, region)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Layout-optimizing sink: ``sortWithinPartitions`` clusters each
    output file on ``sort_cols``, so parquet row-group min/max stats
    become selective and point/range reads on those columns skip row
    groups without a cluster-wide sort (no global Exchange beyond what
    ``partition_by`` implies). The single-machine analogue is an index;
    at 100 TB this is the cheap half of Z-ordering — right for one
    dominant filter column."""
    out = df.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table sink — the shuffle-free-join
    primitive at 100 TB: two tables bucketed on the same key with the
    same bucket count join with NO Exchange (and with ``sort_cols`` on
    the key, no Sort either). Pay the shuffle once at write time, skip
    it on every subsequent join/aggregation on that key.

    Bucketing metadata lives in the session catalog, so this writes a
    TABLE (``saveAsTable``), not a bare path; pass ``path`` to keep the
    files in an external location (e.g. a test tmp dir).

    With ``sort_cols`` the frame is first repartitioned ONTO the bucket
    key so each bucket lands as ONE file: Spark's scan only trusts (and
    skips the join-side Sort for) per-bucket sort order when a bucket
    is a single sorted file — a many-tasks write produces several files
    per bucket and the sort metadata is silently unusable (the join
    plans Sorts again and the write-time sorting was wasted). Readers
    additionally need ``spark.sql.legacy.bucketedTableScan.
    outputOrdering=true`` (since Spark 3.0 the scan hides bucket sort
    order from the planner by default)."""
    if sort_cols:
        df = df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    target_files: int | None = None,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction — the operational fix for streaming sinks
    and over-parallel writes that leave thousands of tiny part files
    (each file costs a task, a footer read, and NameNode/listing
    pressure at scale). Rewrites ``path`` with ``target_files`` output
    files (default: total bytes / ``target_bytes_per_file``, min 1)
    using ``coalesce`` — a narrow, shuffle-free plan; use an explicit
    ``repartition`` upstream instead if the data must also be
    rebalanced. Writes to a sibling temp dir first and atomically swaps
    directories, so a failed compaction never corrupts the source (on
    an object store, where rename is a copy, point the second leg at a
    versioned prefix instead). Returns the number of files written."""
    import glob
    import shutil

    df = read_parquet(spark, path)
    if target_files is None:
        total = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))
        )
        target_files = max(1, total // target_bytes_per_file)
    tmp = path.rstrip("/") + ".compact.tmp"
    df.coalesce(int(target_files)).write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".compact.old"
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return len(glob.glob(os.path.join(path, "*.parquet")))


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S5: distributed CSV sink (directory of part files, header per part)."""
    df.write.mode(mode).option("header", True).csv(path)


def _json_default(obj):
    if isinstance(obj, (_dt.datetime, _dt.date)):
        return obj.isoformat()
    raise TypeError(f"not JSON serializable: {type(obj)}")


def store_json_checkpoint(payload, path: str) -> None:
    """S4: driver-side JSON checkpoint; Timestamps serialized via
    ``isoformat()`` exactly like ``preprocess.py:96-98``."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(payload, fh, ensure_ascii=False, indent=2, default=_json_default)


def load_json_checkpoint(path: str):
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def write_excel_sheets(tables: dict[str, DataFrame], path: str) -> None:
    """S6: one sheet per table, sheet names truncated to Excel's 31-char
    limit (``mapper.py:134``). Data is collected per table — callers are
    expected to pass dimension-sized frames (the reference's destination
    tables); a 100 TB fact table has no business in an .xlsx file.
    Falls back to the vendored stdlib SpreadsheetML writer when openpyxl
    is absent.
    """
    import pandas as pd

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    try:
        with pd.ExcelWriter(path, engine="openpyxl") as writer:
            for name, df in tables.items():
                df.toPandas().to_excel(writer, sheet_name=name[:31], index=False)
    except ImportError:
        from . import _xlsx_lite

        sheets = {}
        for name, df in tables.items():
            pdf = df.toPandas()
            sheets[name[:31]] = (
                [str(c) for c in pdf.columns],
                list(pdf.itertuples(index=False, name=None)),
            )
        _xlsx_lite.write_xlsx(path, sheets)


def zorder_value(cols: list[str], bits: int = 16):
    """Morton (Z-order) interleave of N integer columns as a pure
    codegen expression: bit i of column j lands at position
    ``i * n_cols + j`` of the z-value. Columns must be non-negative and
    < 2**bits (rank/bucket upstream for other types) — enforced at
    runtime with one ``assert_true`` per row, because a silently
    bit-truncated value produces a garbage Morton key that quietly
    destroys the clustering (the data would still be correct, the
    layout would not). The z-value preserves multi-dimensional
    locality, so sorting by it clusters rows that are close in EVERY
    dimension."""
    from pyspark.sql import functions as F

    n = len(cols)
    if not 1 <= n <= 4:
        raise ValueError(f"zorder_value supports 1-4 columns, got {n}")
    if bits * n > 62:
        raise ValueError(f"{bits} bits x {n} cols overflows a signed long")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    # range guard, evaluated ONCE per row (not per bit): assert_true
    # returns NULL on success, so the when() passes z through; an
    # out-of-contract value fails the job loudly instead of degrading
    # the layout silently
    lim = F.lit(1 << bits).cast("long")
    in_range = F.lit(True)
    for c in cols:
        cc = F.col(c).cast("long")
        in_range = in_range & (cc >= 0) & (cc < lim)
    guard = F.assert_true(
        in_range,
        F.concat(
            F.lit(f"zorder_value: column value out of [0, 2^{bits}) in ("),
            F.concat_ws(",", *[F.col(c).cast("string") for c in cols]),
            F.lit(")"),
        ),
    )
    return F.when(guard.isNull(), z)


def write_zorder_parquet(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-ordered layout sink — the FULL multi-column half of what
    ``write_sorted_parquet`` does for one column: rows are
    range-partitioned and sorted by the Morton interleave of
    ``zorder_cols``, so row-group min/max stats stay selective for
    point/range filters on ANY of the interleaved columns (a plain
    sort only serves its leading column). One global sort shuffle at
    write time — the standard pay-once layout cost (Delta/Iceberg
    OPTIMIZE ZORDER shape). Columns must be non-negative integers
    below 2**bits; rank/bucket upstream for other types."""
    z = zorder_value(zorder_cols, bits)
    # one global range-sort on the z-value (orderBy = range exchange +
    # per-partition sort); the helper column never reaches the files
    out = df.withColumn("__z", z).orderBy("__z").drop("__z")
    out.write.mode(mode).parquet(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    compression: str | None = None,
) -> None:
    """JSON-Lines sink (directory of part files, one JSON object per
    line) — the interchange format training stacks ingest directly.
    ``compression='gzip'`` trades splittability for size; leave None
    when a downstream Spark/streaming job re-reads the output."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if compression is not None:
        w = w.option("compression", compression)
    w.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_cols: list[str] | None = None,
    compression: str = "zstd",
) -> None:
    """ORC sink (native Spark writer, zstd by default) — emit for
    Hive/Trino-ecosystem consumers without an extra conversion hop;
    ``partition_cols`` gives the same hive-layout directory pruning as
    the parquet sink."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.orc(path)


def write_fixed_width(
    df: DataFrame,
    path: str,
    fields: list[tuple[str, int]],
    mode: str = "overwrite",
) -> None:
    """FIXED-WIDTH text sink (inverse of ``readers.read_fixed_width``):
    every field is rendered as a string, LEFT-padded to its declared
    width (numeric-ledger convention), and concatenated — one
    ``concat`` projection, then a plain text write. A value WIDER than
    its declared width raises (``raise_error``) rather than silently
    corrupting every downstream field's offsets — the failure mode
    fixed-width formats are infamous for."""
    if not fields:
        raise ValueError("write_fixed_width: need at least one field")
    parts = []
    for name, width in fields:
        s = f"cast(`{name}` as string)"
        parts.append(
            f"CASE WHEN length({s}) > {width} THEN "
            f"raise_error(concat('fixed-width overflow in {name}: ', {s})) "
            f"ELSE lpad(coalesce({s}, ''), {width}, ' ') END"
        )
    out = df.select(F.expr("concat(" + ", ".join(parts) + ")").alias("value"))
    out.write.mode(mode).text(path)
