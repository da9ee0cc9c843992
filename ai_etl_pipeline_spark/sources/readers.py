"""Sources (SURVEY.md §2.1 S1–S3).

Reference behavior being re-expressed (citations into /root/reference):
- S1 CSV scan with full dtype inference: ``preprocess.py:21-24``
  (``pd.read_csv(..., low_memory=False)`` = whole-file inference). Spark
  equivalent: ``spark.read.csv(header=True, inferSchema=True)`` — the
  inference pass is distributed instead of single-process.
- S2 Excel multi-sheet scan: ``preprocess.py:17-19``
  (``pd.read_excel(sheet_name=None)`` → dict of frames). Spark has no
  built-in Excel source; sheets are small by construction (Excel caps at
  ~1M rows), so we read on the driver and promote each sheet with
  ``spark.createDataFrame`` (Arrow-accelerated).
- S3 unsupported-extension rejection: ``preprocess.py:25-26``.

At 100 TB the real source is columnar: ``read_parquet`` is the hot path —
predicate pushdown and column pruning reach the row groups, and partition
discovery handles directory-partitioned layouts for free. The schema
comes from the footer. When every path names a local file, the footers
are read on the driver (footer bytes only, no data) and handed to Spark
as the read's schema, so building the frame starts no Spark job; left to
infer, Spark sends even one footer through a one-task job. The footer
schema is the one Spark infers: the Spark row-metadata JSON when a
footer carries it, otherwise the Arrow schema mapped as Spark maps it,
for a closed set of types. Every other read is Spark's own inference:
directories, paths that are not local files, nanosecond timestamps
(INT96 included, which Arrow reads as nanoseconds), unsigned integers
and any type outside the set, footers that disagree, and duplicate
column names.

A local directory counts as its data files: every file in it whose name
does not start with ``_`` or ``.`` (Spark skips those too), one footer
each. The frame is still read from the directory, so Spark lists it
itself. A directory that holds a directory (a ``k=v/`` partitioned
layout, or a write in progress) and a ``mergeSchema`` read keep Spark's
own inference.

One partition, planned as one. A file scan reports
``UnknownPartitioning``, so even when Spark plans a source as one
partition it puts a hash exchange before every dedup, distinct, window,
grouped or global aggregate and sort over it: one more stage, and one
more Spark job under AQE, to move rows that already sit together. So
every batch frame a reader here returns goes through ``_one_partition``:
when the scan Spark plans for it has exactly one partition, the frame is
``coalesce(1)`` over that scan. ``CoalesceExec(1)`` reports
``SinglePartition``, which satisfies every clustered, ordered and
all-tuples distribution, so those exchanges go. A join still shuffles
where Spark estimates a side above ``spark.sql.maxSinglePartitionBytes``. The count is read from the input RDD of the scan in the
frame's physical plan, so the rule keeps Spark's own row-to-partition
assignment and results cannot change. Reading it starts no job and
compiles no code; it costs about 25 ms per read warm on a 4-core box,
and 0.6–0.7 s on the first read of a process, most of it class loading
the first scan pays anyway (after a scan, the first check took 60 ms).

Several non-empty files, or one splittable file larger than
``spark.sql.files.openCostInBytes`` (4 MB), never plan as one partition
on a session with more than one core: split packing charges each file
that open cost, and the split size is the larger of the open cost and
the total, open costs included, over the cores. One unsplittable file (a gzipped CSV or JSON) is one
partition at any size, so it takes the rule: what follows the scan then
runs in the scan's one task up to the first operator that plans its own
exchange.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

# the key under which Spark's writer stores the frame's schema as JSON
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """Columnar scan — the scale path. Pushdown/pruning verified in tests
    via ``explain`` (PushedFilters / ReadSchema). The schema is read from
    the footers on the driver when every path is a local file (see the
    module docstring), so building the frame starts no Spark job."""
    schema = footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _one_partition(reader.parquet(*paths))


def _one_partition(df: DataFrame) -> DataFrame:
    """``df``, a bare scan, as ``coalesce(1)`` when the scan Spark plans
    for it has exactly one partition; otherwise ``df`` itself (see the
    module docstring)."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    if leaves.length() == 1 and leaves.head().inputRDD().getNumPartitions() == 1:
        return df.coalesce(1)
    return df


def local_path(path: str) -> str:
    """``path`` with a ``file:`` URI (``_metadata.file_path``'s form,
    ``file:/tmp/...``) turned into a plain local path; other paths are
    returned unchanged."""
    if not path.startswith("file:"):
        return path
    return unquote(path.removeprefix("file://") if path.startswith("file://") else path.removeprefix("file:"))


def footer_schema(spark: SparkSession, paths) -> StructType | None:
    """The schema Spark would infer for ``paths``, read from their
    footers on the driver; None where only Spark's inference can say."""
    files = _data_files(paths)
    if not files:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = None
    for p in files:
        try:
            arrow = pq.read_schema(p)
        except (OSError, pa.ArrowException):
            return None
        one = _spark_schema(spark, arrow)
        if one is None or schema is not None and one != schema:
            return None
        schema = one
    names = [f.name.lower() for f in schema.fields]
    return schema if len(set(names)) == len(names) else None


def _data_files(paths) -> list[str]:
    """The local files behind ``paths``: a file is itself, a directory of
    files is its files not named ``_*`` or ``.*``; empty when any path is
    neither (a directory holding a directory included)."""
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
            continue
        if not os.path.isdir(p):
            return []
        with os.scandir(p) as entries:
            entries = list(entries)
        if any(e.is_dir() for e in entries):
            return []
        files += sorted(e.path for e in entries if not e.name.startswith(("_", ".")))
    return files


def _spark_schema(spark: SparkSession, arrow) -> StructType | None:
    """One footer's schema as Spark reads it, made nullable as Spark's
    ``asNullable`` does for every file source."""
    row_metadata = (arrow.metadata or {}).get(_SPARK_ROW_METADATA)
    if row_metadata is not None:
        # ParquetFileFormat.readSchemaFromFooter prefers this JSON too
        try:
            return _as_nullable(StructType.fromJson(json.loads(row_metadata)))
        except (ValueError, KeyError, TypeError):
            return None
    from pyspark.sql.pandas.types import from_arrow_schema

    binary_as_string = spark.conf.get("spark.sql.parquet.binaryAsString") == "true"
    if not all(_spark_maps(f.type, binary_as_string) for f in arrow):
        return None
    prefer_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
    return _as_nullable(from_arrow_schema(arrow, prefer_timestamp_ntz=prefer_ntz))


def _spark_maps(t, binary_as_string: bool) -> bool:
    """Whether Spark reads the parquet column behind Arrow type ``t`` as
    ``from_arrow_type`` maps it: a closed set, lists and structs of it."""
    import pyarrow as pa

    if pa.types.is_list(t):
        return _spark_maps(t.value_type, binary_as_string)
    if pa.types.is_struct(t):
        return all(_spark_maps(t.field(i).type, binary_as_string) for i in range(t.num_fields))
    if pa.types.is_timestamp(t):
        return t.unit in ("ms", "us")
    if pa.types.is_binary(t):
        return not binary_as_string
    return pa.types.is_decimal128(t) or t in (
        pa.bool_(), pa.int8(), pa.int16(), pa.int32(), pa.int64(),
        pa.float32(), pa.float64(), pa.string(), pa.date32(),
    )


def _as_nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def read_parquet_nanos_ts(spark: SparkSession, path: str, ts_cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns, which vanilla
    Spark rejects (PARQUET_TYPE_ILLEGAL). Reads nanos as long
    (``spark.sql.legacy.parquet.nanosAsLong``) and converts the named
    columns to microsecond timestamps — still a pushdown-capable columnar
    scan, no Python in the path."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    for c in ts_cols:
        if c in df.columns and dict(df.dtypes).get(c) == "bigint":
            # integer division — epoch-nanos (~1.7e18) overflows a double
            # mantissa, so float division here silently loses microseconds
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def read_csv(spark: SparkSession, path: str, infer_schema: bool = True) -> DataFrame:
    """S1: header + whole-file dtype inference, mirroring
    ``pd.read_csv(low_memory=False)`` semantics declaratively."""
    return _one_partition(spark.read.csv(path, header=True, inferSchema=infer_schema))


def read_excel_sheets(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """S2: all sheets → ``{sheet_name: DataFrame}``.

    Driver-side ``pd.read_excel(sheet_name=None)`` then promote. Excel
    data is bounded (≤ ~1M rows/sheet) so this never becomes the scale
    bottleneck; huge inputs arrive as CSV/Parquet instead. Falls back to
    the vendored stdlib SpreadsheetML reader when openpyxl is absent.
    """
    import pandas as pd

    try:
        sheets = pd.read_excel(path, sheet_name=None)
    except ImportError:
        from . import _xlsx_lite

        sheets = {
            name: pd.DataFrame(rows, columns=cols)
            for name, (cols, rows) in _xlsx_lite.read_xlsx(path).items()
        }
    out: dict[str, DataFrame] = {}
    for name, pdf in sheets.items():
        # Spark can't infer a type for all-NaN object columns; stringify
        # them so empty columns survive (P2 drops them later anyway).
        for col in pdf.columns:
            if pdf[col].isna().all():
                pdf[col] = pdf[col].astype("object")
                pdf[col] = None
        out[name] = spark.createDataFrame(pdf)
    return out


def load_source_file(spark: SparkSession, path: str) -> DataFrame | dict[str, DataFrame]:
    """Dispatch on extension, mirroring ``preprocess.py:15-26`` (S1/S2/S3)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".xlsx", ".xls"):
        return read_excel_sheets(spark, path)
    if ext == ".csv":
        return read_csv(spark, path)
    if ext == ".parquet":
        return read_parquet(spark, path)
    raise ValueError(f"Unsupported file extension: {ext!r} (expected .csv/.xlsx/.xls/.parquet)")


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-Lines scan — the lingua franca of LLM training corpora.
    Spark's json source is line-delimited by default, so this is a
    splittable distributed scan (each executor reads its own byte
    ranges; a single huge .jsonl still parallelizes by line blocks).

    Pass ``schema`` (DDL string or StructType) in production: without
    it Spark runs a full inference pre-pass over the data — twice the
    I/O at 100 TB. Column pruning still applies; predicate pushdown
    does not (row format), so filter-heavy pipelines should convert to
    parquet first (``write_jsonl`` ↔ ``read_parquet`` round-trip)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return _one_partition(reader.json(path))


def zone_map_manifest(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Per-file zone map (min/max/null-count per column + row count) over
    a parquet dataset — the data-skipping index Delta/Iceberg keep in
    their transaction logs, built here as a plain DataFrame via the
    ``_metadata.file_path`` hidden column (one distributed scan, one
    file-keyed aggregate; file count partitions, so the result is
    manifest-sized, not data-sized). Persist it next to the data and
    feed it to ``zone_map_pruned_scan`` to skip files at planning time.

    Returns ``(file_path, n_rows, min_<c>, max_<c>, nulls_<c>, ...)``.
    """
    df = read_parquet(spark, path)
    aggs: list = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
        aggs.append(
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"nulls_{c}"
            )
        )
    return df.groupBy(
        F.col("_metadata.file_path").alias("file_path")
    ).agg(*aggs)


def zone_map_pruned_scan(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    col: str,
    lo=None,
    hi=None,
) -> DataFrame:
    """Range scan that consults a ``zone_map_manifest`` FIRST: files
    whose [min, max] zone cannot intersect [lo, hi] are dropped from
    the read plan entirely — I/O skipping above and beyond parquet
    row-group pushdown (Spark still opens every footer without this;
    at 100 TB with millions of files, planning-time pruning is the
    difference between touching 1% and 100% of the listing).

    The manifest is file-count-sized by contract — the only
    driver-side collect here. Files with an all-NULL zone (min/max
    NULL) are conservatively KEPT, and the predicate is re-applied to
    the surviving files, so results never depend on zone tightness —
    a STALE manifest (missing newly added files) is the caller's
    contract to avoid. Returns the filtered DataFrame; inspect
    ``.inputFiles()`` to see the skipping."""
    if lo is None and hi is None:
        raise ValueError("zone_map_pruned_scan: need lo and/or hi")
    keep = F.lit(True)
    if hi is not None:
        keep = keep & (F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= hi))
    if lo is not None:
        keep = keep & (F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= lo))
    files = [local_path(r["file_path"]) for r in manifest.where(keep).select("file_path").collect()]
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (F.col(col) >= lo)
    if hi is not None:
        pred = pred & (F.col(col) <= hi)
    if not files:
        return read_parquet(spark, path).where(F.lit(False))
    return read_parquet(spark, *files).where(pred)


def bloom_index_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
) -> DataFrame:
    """Per-FILE Bloom index over a high-cardinality column — the
    data-skipping index for EQUALITY lookups where min/max zones never
    prune (a hash-partitioned layout interleaves key ranges, so every
    file's [min, max] covers everything): Delta Lake's
    ``bloomFilterIndex``, built as a plain DataFrame. One distributed
    scan, one (file, word)-keyed aggregate; the result is
    manifest-sized (files × ≤ m_bits/64 sparse words), never
    data-sized.

    Each manifest row carries the file's set Bloom words as a
    ``map<bigint, bigint>`` (sparse — absent word = all-zero bits).
    Probing does ``num_hashes`` ``element_at`` lookups per FILE row;
    the map is per-file small, so the linear-scan cost of Spark map
    lookups stays bounded (this is not the O(n²) densify case —
    r6 lesson applies to per-index loops over one big map).

    Positions come from ``xxhash64(j, col)`` like
    :func:`~ai_etl_pipeline_spark.operators.relational.bloom_filter_build`
    — the index is internal, never replayed by an oracle, so the
    portable-md5 contract doesn't apply. Probe values must carry the
    COLUMN'S type (xxhash64 hashes type-tagged)."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if not (1 <= num_hashes <= 16):
        raise ValueError(f"num_hashes must be in [1,16], got {num_hashes}")
    df = read_parquet(spark, path)
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.lit(j), F.col(col)), F.lit(m_bits))
                for j in range(num_hashes)
            ]
        )
    ).alias("__pos")
    words = (
        df.select(F.col("_metadata.file_path").alias("file_path"), pos)
        .select(
            "file_path",
            F.shiftright(F.col("__pos"), 6).alias("__w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast((__pos & 63) as int))"
            ).alias("__mask"),
        )
        .groupBy("file_path", "__w")
        .agg(F.expr("bit_or(__mask)").alias("__word"))
    )
    return words.groupBy("file_path").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("__w", "__word")))
        ).alias("bf_words")
    )


def bloom_index_pruned_scan(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    col: str,
    value,
    m_bits: int = 1 << 16,
    num_hashes: int = 4,
    value_type: str = "bigint",
) -> DataFrame:
    """Point-lookup scan that consults a :func:`bloom_index_manifest`
    FIRST: files whose Bloom filter cannot contain ``value`` are
    dropped from the read plan entirely (planning-time skipping for
    ``col = value`` — the lookup zone maps can't serve). The membership
    test runs JVM-side over the manifest frame; only the surviving
    file list (manifest-sized by contract) reaches the driver. The
    equality predicate is re-applied to the surviving files, so false
    positives never surface and results never depend on filter
    tightness — like zone maps, a STALE manifest is the caller's
    contract to avoid.

    ``value_type`` must name the indexed column's Spark type:
    ``xxhash64`` is type-tagged, so probing an int literal against an
    index built over a bigint column would miss every file.

    The probe positions are built with column functions
    (``F.lit(value).cast(value_type)``) mirroring
    :func:`bloom_index_manifest`'s build side — never by splicing the
    Python ``repr`` of ``value`` into SQL text (r11 ADVICE: a string
    key containing a quote either broke the expression or silently
    hashed a different literal than the build side)."""
    probed = manifest
    word_tests = []
    for j in range(num_hashes):
        probed = probed.withColumn(
            f"__p{j}",
            F.pmod(
                F.xxhash64(F.lit(j), F.lit(value).cast(value_type)),
                F.lit(m_bits),
            ),
        )
        word_tests.append(
            F.expr(
                f"coalesce((element_at(bf_words, shiftright(__p{j}, 6))"
                f" & shiftleft(cast(1 as bigint), cast((__p{j} & 63) as int)))"
                " != 0, false)"
            )
        )
    probe = word_tests[0]
    for t in word_tests[1:]:
        probe = probe & t
    files = [
        local_path(r["file_path"])
        for r in probed.where(probe).select("file_path").collect()
    ]
    if not files:
        return read_parquet(spark, path).where(F.lit(False))
    return read_parquet(spark, *files).where(F.col(col) == value)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: ``mergeSchema`` unions
    the footers of every file under ``path``, so files written before a
    column existed read back with NULLs in that column — the
    append-only ingest reality at 100 TB, where a corpus accretes
    columns over years and no one rewrites old partitions. Merging
    reads one footer per file at planning time (not the data), and the
    per-file scans remain pushdown-capable columnar scans."""
    return _one_partition(spark.read.option("mergeSchema", True).parquet(path))


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC scan — the other columnar interchange format big-data stacks
    (Hive/Trino heritage) hand off. Spark's native ORC reader gives the
    same scan services as parquet: column pruning, predicate pushdown
    into stripe/row-group indexes (PushedFilters in the plan), split
    parallelism per stripe — so an ORC-shaped upstream needs no convert
    step before querying. ``columns`` applies an explicit projection at
    the scan."""
    df = _one_partition(spark.read.orc(path))
    return df.select(*columns) if columns else df


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, str]],
) -> DataFrame:
    """FIXED-WIDTH text reader — the mainframe/COBOL-heritage layout
    that still feeds bank/telco ingest and has no Spark built-in:
    every line is a concatenation of constant-width fields.
    ``fields`` is ``[(name, width, type), ...]`` in record order.

    Implementation is a plain ``text`` scan plus one JVM-side
    projection of ``substr`` slices (positions are compile-time
    constants, so the whole record parse is codegen — no Python, no
    regex). Values are trimmed then cast; a cast failure yields NULL
    (per-field, like every schema-on-read source here). Splittable and
    parallel like any text source.

    Rows SHORTER than the declared record raise at cast time only if
    the missing field can't cast from '' — by fixed-width contract the
    writer pads every record to full width (see
    ``writers.write_fixed_width``)."""
    if not fields:
        raise ValueError("read_fixed_width: need at least one field")
    raw = _one_partition(spark.read.text(path))
    cols = []
    pos = 1
    for name, width, typ in fields:
        if width <= 0:
            raise ValueError(f"field {name}: width must be positive, got {width}")
        # nullif: an all-blank field is NULL in every type (the
        # fixed-width convention — there is no other way to spell NULL)
        cols.append(
            F.expr(
                f"cast(nullif(trim(substring(value, {pos}, {width})), '')"
                f" as {typ})"
            ).alias(name)
        )
        pos += width
    return raw.select(*cols)
