"""Schema mapping & table splitting (SURVEY.md §2.2 P9/P10, §2.8 M2).

Reference kernels:
- P9 vertical split: ``/root/reference/mapper.py:106-121`` — route source
  columns into per-destination-table frames with rename; missing-column
  guard at ``mapper.py:117``.
- P10 structure extraction: ``/root/reference/mapper.py:168-192``.
- M2 mapping cleanup: ``/root/reference/mapper.py:76-103`` — strip LLM
  markdown artifacts, drop 'unclear' targets, strip parentheticals.

P9 is pure projection (no shuffle, no data movement beyond the scan);
each destination table prunes its columns at the Parquet reader.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ColumnMapping = dict[str, dict[str, str]]  # source_col -> {"table": T, "column": C}


def clean_column_mapping(raw: ColumnMapping | dict[str, str]) -> ColumnMapping:
    """M2 (``mapper.py:76-103``): normalize LLM-produced mapping output.

    - keys like ``1. **merchant**`` → ``merchant`` (``mapper.py:86``)
    - drop targets containing 'unclear' (``mapper.py:92-93``)
    - strip parenthetical commentary from targets (``mapper.py:96``)
    Accepts either ``{src: "Table.column"}`` strings or structured dicts.
    """
    cleaned: ColumnMapping = {}
    for key, target in raw.items():
        k = re.sub(r"^\s*\d+\.\s*", "", str(key))
        k = k.replace("**", "").replace("`", "").strip()
        if isinstance(target, dict):
            table, column = str(target.get("table", "")), str(target.get("column", ""))
        else:
            t = re.sub(r"\(.*?\)", "", str(target)).strip()
            if "." in t:
                table, column = t.split(".", 1)
            else:
                table, column = t, ""
        table, column = table.strip(), re.sub(r"\(.*?\)", "", column).strip()
        if "unclear" in table.lower() or "unclear" in column.lower():
            continue
        if not table or not column:
            continue
        cleaned[k] = {"table": table, "column": column}
    return cleaned


def split_into_tables(df: DataFrame, mapping: ColumnMapping) -> dict[str, DataFrame]:
    """P9 (``mapper.py:106-121``): ``{table: df.select(src AS dest, ...)}``.

    Pure multi-projection — each output is a lazy column-pruned view of
    the same scan; nothing is materialized here. Source columns absent
    from ``df`` are skipped (the ``mapper.py:117`` guard). If a mapping
    routes two sources to the same destination column, only the first
    (in mapping order) is kept — mirroring P4's duplicate-column rule
    (``/root/reference/preprocess.py:54-57``) so the output schema never
    repeats a name."""
    by_table: dict[str, list[tuple[str, str]]] = {}
    seen: set[tuple[str, str]] = set()
    for src, spec in mapping.items():
        if src in df.columns and (spec["table"], spec["column"]) not in seen:
            seen.add((spec["table"], spec["column"]))
            by_table.setdefault(spec["table"], []).append((src, spec["column"]))
    return {
        table: df.select([F.col(f"`{s}`").alias(d) for s, d in pairs])
        for table, pairs in by_table.items()
    }


def extract_table_structure(tables: dict[str, DataFrame]) -> dict[str, list[str]]:
    """P10 (``mapper.py:168-192``): ``{table: [column names]}`` — pure
    metadata, no jobs."""
    return {name: list(df.columns) for name, df in tables.items()}

