"""Versioned snapshot store with copy-on-write upserts — the
manifest-of-files core of every lakehouse table format (Delta's
transaction log, Iceberg's snapshot manifests), rendered as plain
parquet files plus JSON manifests so the mechanics are inspectable:

- a VERSION is a manifest (ordered list of parquet file paths); reading
  version N reads exactly that list — TIME TRAVEL is reading an older
  manifest, no data is ever rewritten or deleted by a new version;
- an UPSERT is COPY-ON-WRITE at file granularity: only the files that
  contain affected keys are rewritten (merged with the updates) into
  new files; untouched files are carried into the new manifest BY
  REFERENCE. At 100 TB with millions of files, a 1000-row upsert
  rewrites a handful of files, not the table — and the file-level
  "which files hold these keys" probe is a manifest-×-keys semi-join,
  never a table scan of untouched files.

No counterpart in the reference (its only sink rewrites whole CSVs —
``/root/reference/main.py`` write paths); this is the SURVEY §2.4
lakehouse extension tier.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _manifest_path(base: str, version: int) -> str:
    return os.path.join(base, "_manifests", f"v{version}.json")


def list_versions(base: str) -> list[int]:
    """All committed versions, ascending."""
    return sorted(
        int(os.path.basename(p)[1:-5])
        for p in _glob.glob(os.path.join(base, "_manifests", "v*.json"))
    )


def versioned_write(df: DataFrame, base: str, n_files: int = 4) -> int:
    """Create version 1 of a snapshot table at ``base``: ``n_files``
    hash-partitioned parquet files plus the v1 manifest. Returns the
    version number (always 1 — initial commit)."""
    data_dir = os.path.join(base, "data", "v1")
    df.repartition(n_files).write.mode("overwrite").parquet(data_dir)
    files = sorted(
        p
        for p in _glob.glob(os.path.join(data_dir, "part-*.parquet"))
    )
    os.makedirs(os.path.dirname(_manifest_path(base, 1)), exist_ok=True)
    with open(_manifest_path(base, 1), "w", encoding="utf-8") as fh:
        json.dump({"version": 1, "files": files}, fh, indent=1)
    return 1


def snapshot_read(spark: SparkSession, base: str, version: int) -> DataFrame:
    """Read EXACTLY the files of ``version``'s manifest — time travel.
    Raises ``FileNotFoundError`` for an uncommitted version."""
    mp = _manifest_path(base, version)
    if not os.path.exists(mp):
        raise FileNotFoundError(f"snapshot version {version} not committed at {base}")
    with open(mp, encoding="utf-8") as fh:
        manifest = json.load(fh)
    files = manifest["files"]
    if not files:
        raise ValueError(f"empty manifest for version {version}")
    return spark.read.parquet(*files)


def versioned_upsert(
    spark: SparkSession,
    base: str,
    updates: DataFrame,
    key_cols: list[str],
    version: int | None = None,
) -> int:
    """Copy-on-write upsert producing a NEW version: files of the
    current (or given) snapshot that contain an affected key are
    rewritten with the updates merged in (update wins, new keys
    append); every other file carries over by reference. Returns the
    new version number.

    Mechanics, all DataFrame-shaped:
    1. probe: scan the snapshot WITH ``_metadata.file_path``, semi-join
       on the update keys → the touched-file list (update-sized work:
       the semi-join's build side is the updates);
    2. rewrite: rows of touched files, anti-joined against the update
       keys, unioned with ALL update rows, land in one new file set
       under ``data/v{N}``;
    3. commit: new manifest = untouched files + new files. Readers of
       older versions are untouched (their manifests still list the
       old files, which are never deleted).

    File-count contract: the rewrite ``coalesce``s to ``len(touched)``
    partitions, and coalesce cannot add partitions or balance rows, so
    it may write FEWER than ``len(touched)`` new files (at least one),
    with uneven row counts. No reader may depend on the file count or
    on which file a row lands in; ``snapshot_read`` and ``change_feed``
    read the manifest's actual files and are placement-invariant."""
    versions = list_versions(base)
    if not versions:
        raise ValueError(f"no committed versions at {base}")
    cur = version if version is not None else versions[-1]
    snap_files = json.load(open(_manifest_path(base, cur), encoding="utf-8"))["files"]
    new_version = versions[-1] + 1
    with_path = (
        spark.read.parquet(*snap_files)
        .withColumn("__file", F.col("_metadata.file_path"))
    )
    keys = updates.select(*key_cols)
    touched = sorted(
        r["__file"]
        for r in with_path.join(F.broadcast(keys), key_cols, "left_semi")
        .select("__file")
        .distinct()
        .collect()
    )
    # manifests carry plain paths; _metadata.file_path is a file: URI
    # (single-slash authority-less form, `file:/tmp/...`)
    touched_plain = {
        t.removeprefix("file://") if t.startswith("file://")
        else t.removeprefix("file:")
        for t in touched
    }
    untouched = [f for f in snap_files if f not in touched_plain]
    data_dir = os.path.join(base, "data", f"v{new_version}")
    if touched:
        survivors = (
            spark.read.parquet(*sorted(touched_plain))
            .join(F.broadcast(keys), key_cols, "left_anti")
        )
        merged = survivors.unionByName(updates)
    else:
        merged = updates
    # coalesce, not repartition (r17, guide §6 coalesce-on-write): the
    # rewrite's file-count target is len(touched) either way, but
    # repartition paid a full shuffle of every surviving row just to
    # spread them evenly; coalesce folds the target into the scan+join
    # stage (one task per touched file — the rewrite's natural
    # parallelism at any scale) and the write happens in the same
    # stage. Row placement across the new files may differ; every
    # reader of the store is placement-invariant by construction
    # (snapshot_read unions the manifest, change_feed cancels
    # unchanged rows null-safely) and the CDC oracles hash-match.
    merged.coalesce(max(1, len(touched_plain) or 1)).write.mode(
        "overwrite"
    ).parquet(data_dir)
    new_files = sorted(_glob.glob(os.path.join(data_dir, "part-*.parquet")))
    with open(_manifest_path(base, new_version), "w", encoding="utf-8") as fh:
        json.dump(
            {"version": new_version, "files": untouched + new_files}, fh, indent=1
        )
    return new_version


def drop_snapshot_store(base: str) -> None:
    """Remove the whole store (tests/scratch cleanup)."""
    shutil.rmtree(base, ignore_errors=True)


def vacuum(base: str, keep_versions: int = 1, dry_run: bool = False) -> dict:
    """Snapshot EXPIRATION — the lifecycle half every time-travel store
    needs (Delta VACUUM / Iceberg expire_snapshots): retire manifests
    older than the newest ``keep_versions`` and delete the data files
    no surviving manifest references.

    Correct-by-construction GC: the removable set is
    ``union(files of expired manifests) − union(files of kept
    manifests)`` — a file carried forward BY REFERENCE into any kept
    version survives no matter how old the version that wrote it. This
    is pure manifest arithmetic (set ops over file LISTS, never a data
    scan): at 100 TB with millions of files the cost is reading N JSON
    manifests, and the deletes are per-file unlinks a real deployment
    would fan out to object-store batch deletes.

    ``dry_run`` reports without deleting. Returns ``{"kept_versions",
    "expired_versions", "removed_files", "kept_files"}`` (counts +
    lists, deterministic order). Expiring below one kept version is
    refused — a store must stay readable."""
    if keep_versions < 1:
        raise ValueError(f"vacuum: keep_versions must be >= 1, got {keep_versions}")
    versions = list_versions(base)
    if not versions:
        raise ValueError(f"no committed versions at {base}")
    kept = versions[-keep_versions:]
    expired = [v for v in versions if v not in kept]
    def files_of(vs):
        out = set()
        for v in vs:
            with open(_manifest_path(base, v), encoding="utf-8") as fh:
                out.update(json.load(fh)["files"])
        return out
    kept_files = files_of(kept)
    removable = sorted(files_of(expired) - kept_files)
    if not dry_run:
        for f in removable:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
        for v in expired:
            os.remove(_manifest_path(base, v))
    return {
        "kept_versions": kept,
        "expired_versions": expired,
        "removed_files": removable,
        "kept_files": sorted(kept_files),
    }


def change_feed(
    spark: SparkSession,
    base: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two committed versions —
    Delta CDF's shape (insert / delete / update with pre+post images),
    derived from the manifests alone:

    MANIFEST-PRUNED by construction: under copy-on-write a key lives in
    exactly one file per version, and a file carried BY REFERENCE into
    ``v_to`` is physically the same bytes — its rows cannot have
    changed. So the feed scans ONLY the symmetric difference of the
    two manifests (files retired since ``v_from`` + files added since),
    never the table: at 100 TB with a GB-sized upsert the diff reads a
    handful of rewritten files. Untouched rows inside rewritten files
    (copy-on-write rewrites whole files) cancel in the null-safe
    equality filter.

    One full-outer join on ``key_cols`` over the differing-file scans:
    ``change_type`` = 'insert' (key only in ``v_to``), 'delete' (only
    in ``v_from``), 'update' (any non-key column differs null-safely).
    Returns keys + ``change_type`` + ``old_<c>`` / ``new_<c>`` for
    every non-key column — pre- and post-image in one row (the
    hash-gate-friendly rendering of CDF's preimage/postimage pair).
    Snapshot keys must be unique per version (the upsert contract)."""
    for v in (v_from, v_to):
        if not os.path.exists(_manifest_path(base, v)):
            raise FileNotFoundError(f"snapshot version {v} not committed at {base}")
    f_from = json.load(open(_manifest_path(base, v_from), encoding="utf-8"))["files"]
    f_to = json.load(open(_manifest_path(base, v_to), encoding="utf-8"))["files"]
    only_old = sorted(set(f_from) - set(f_to))
    only_new = sorted(set(f_to) - set(f_from))

    def read_or_empty(files, fallback_version):
        if files:
            return spark.read.parquet(*files)
        return snapshot_read(spark, base, fallback_version).where(F.lit(False))

    old = read_or_empty(only_old, v_from)
    new = read_or_empty(only_new, v_to)
    val_cols = [c for c in old.columns if c not in key_cols]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in val_cols]
    )
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in val_cols]
    )
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    # presence is keyed on a per-side MARKER, not value nullness — an
    # all-NULL-values row would otherwise read as absent
    o = o.withColumn("__old", F.lit(1))
    n = n.withColumn("__new", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    change_type = (
        F.when(F.col("__old").isNull(), F.lit("insert"))
        .when(F.col("__new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .where(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[F.col(f"old_{c}") for c in val_cols],
            *[F.col(f"new_{c}") for c in val_cols],
        )
    )
