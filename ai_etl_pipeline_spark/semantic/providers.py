"""Semantic (LLM-backed) operators behind a provider interface
(SURVEY.md §2.8 T1/T2/M1, §2.1 S7/S8).

The reference calls Azure OpenAI / Azure Translator directly
(``/root/reference/translate.py:36-76``, ``mapper.py:13-73``,
client init ``mapper.py:196-204`` / ``translate.py:159-167``). Here every
semantic kernel goes through a ``SemanticProvider`` so that:

- tests and offline runs use the deterministic ``HeuristicProvider``
  (no network, reproducible);
- a production deployment plugs in an LLM/translator provider without
  touching pipeline code;
- failures degrade gracefully (UNKNOWN/ERROR labels, identity
  translation), mirroring ``translate.py:51-54``, ``:72-75``, ``:111-116``.

These operate on per-column SAMPLES (5-10 values, ``mapper.py:48``,
``translate.py:43``, ``:64``) — cost is O(columns), never O(rows), which
is why they stay driver-side even at 100 TB.
"""

from __future__ import annotations

import difflib
import re
from dataclasses import dataclass, field
from typing import Callable, Protocol

TEXT = "TEXT"
NON_TEXT = "NON-TEXT"
ENGLISH = "ENGLISH"
NON_ENGLISH = "NON-ENGLISH"
UNKNOWN = "UNKNOWN"

_EN_STOPWORDS = {
    "the", "and", "of", "to", "in", "a", "is", "for", "on", "with", "at",
    "by", "from", "this", "that", "it", "as", "are", "was", "be", "or",
}


class SemanticProvider(Protocol):
    """The three semantic kernels the pipelines need."""

    def classify_column(self, name: str, samples: list[str]) -> str: ...
    def detect_language(self, name: str, samples: list[str]) -> str: ...
    def map_schema(
        self,
        schema_description: str,
        table_structure: dict[str, list[str]],
        column_samples: dict[str, list[str]],
    ) -> dict[str, str]: ...
    def translate_batch(self, values: list[str]) -> list[str]: ...


@dataclass
class HeuristicProvider:
    """Deterministic offline stand-in for the LLM/translator.

    - T1 classify (ref prompt ``prompts/text_column_classifier.txt``):
      a column is TEXT if its samples look like natural language —
      multi-word or long alphabetic values; codes/numbers are NON-TEXT.
    - T2 detect (ref prompt ``prompts/detect_language.txt``): ENGLISH if
      samples are mostly ASCII and stopword-bearing; else NON-ENGLISH.
    - M1 map_schema (ref ``mapper.py:13-73``): name-similarity matcher
      source column → best (table, column) via difflib ratio.
    - translate_batch: identity (plus an optional overlay dict for tests
      to simulate real translations).
    """

    translation_overlay: dict[str, str] = field(default_factory=dict)

    def classify_column(self, name: str, samples: list[str]) -> str:
        vals = [s for s in samples if s]
        if not vals:
            return UNKNOWN
        texty = 0
        for v in vals:
            v = str(v).strip()
            alpha_ratio = sum(ch.isalpha() or ch.isspace() for ch in v) / max(len(v), 1)
            if (" " in v and alpha_ratio > 0.7) or (len(v) >= 12 and alpha_ratio > 0.8):
                texty += 1
        return TEXT if texty >= max(1, len(vals) // 2) else NON_TEXT

    def detect_language(self, name: str, samples: list[str]) -> str:
        vals = [str(s) for s in samples if s]
        if not vals:
            return UNKNOWN
        non_english = 0
        for v in vals:
            non_ascii = sum(ord(ch) > 127 for ch in v) / max(len(v), 1)
            words = re.findall(r"[A-Za-z]+", v.lower())
            stop_hits = sum(w in _EN_STOPWORDS for w in words)
            if non_ascii > 0.05 or (len(words) >= 3 and stop_hits == 0):
                non_english += 1
        return NON_ENGLISH if non_english > len(vals) / 2 else ENGLISH

    def map_schema(
        self,
        schema_description: str,
        table_structure: dict[str, list[str]],
        column_samples: dict[str, list[str]],
    ) -> dict[str, str]:
        # Injective per destination (table, column): when several source
        # columns score against the same destination (e.g. every orders
        # key column resembling ``o_orderkey``), only the highest-scoring
        # source wins; the rest become 'Unclear' rather than producing a
        # split frame with duplicate output column names. Ties break on
        # source name for determinism.
        candidates = [
            (table, col) for table, cols in table_structure.items() for col in cols
        ]
        best_by_src: dict[str, tuple[tuple[str, str], float]] = {}
        for src in column_samples:
            key = src.lower().replace("_", " ")
            best, best_score = None, 0.0
            for table, col in candidates:
                score = difflib.SequenceMatcher(
                    None, key, col.lower().replace("_", " ")
                ).ratio()
                if score > best_score:
                    best, best_score = (table, col), score
            if best and best_score >= 0.5:
                best_by_src[src] = (best, best_score)
        winner_by_dest: dict[tuple[str, str], tuple[float, str]] = {}
        for src, (dest, score) in best_by_src.items():
            incumbent = winner_by_dest.get(dest)
            if (
                incumbent is None
                or score > incumbent[0]
                or (score == incumbent[0] and src < incumbent[1])
            ):
                winner_by_dest[dest] = (score, src)
        winners = {src for _, src in winner_by_dest.values()}
        out: dict[str, str] = {}
        for src in column_samples:
            if src in winners:
                table, col = best_by_src[src][0]
                out[src] = f"{table}.{col}"
            else:
                out[src] = "Unclear (needs review)"
        return out

    def translate_batch(self, values: list[str]) -> list[str]:
        return [self.translation_overlay.get(v, v) for v in values]


def translate_in_batches(
    values: list[str],
    translate_batch: Callable[[list[str]], list[str]],
    batch_size: int = 100,  # translate.py:78
) -> list[str]:
    """S7/T3's batching (``translate.py:98-116``): ``values`` in slices of
    ``batch_size`` through ``translate_batch``; a slice whose call raises
    or returns the wrong count falls back to identity on its own. The
    0.15 s throttle (``translate.py:118``) belongs to the transport
    (``adapters.RestTranslatorClient.throttle_s``)."""
    out: list[str] = []
    for i in range(0, len(values), batch_size):
        batch = values[i : i + batch_size]
        try:
            translated = list(translate_batch(batch))
        except Exception:
            translated = batch
        out.extend(translated if len(translated) == len(batch) else batch)
    return out


def translate_one(value: str, provider: SemanticProvider) -> str:
    """T4 (``translate.py:125-149``): single-string translation with
    identity fallback on any failure."""
    return translate_in_batches([value], provider.translate_batch)[0]


def classify_text_columns(
    samples_by_column: dict[str, list[str]], provider: SemanticProvider
) -> dict[str, str]:
    """T1 (``translate.py:36-55``): column → TEXT/NON-TEXT/UNKNOWN."""
    out = {}
    for name, samples in samples_by_column.items():
        try:
            out[name] = provider.classify_column(name, samples[:10])  # translate.py:43
        except Exception:
            out[name] = "ERROR"
    return out


def detect_column_languages(
    samples_by_column: dict[str, list[str]], provider: SemanticProvider
) -> dict[str, str]:
    """T2 (``translate.py:57-76``): column → ENGLISH/NON-ENGLISH/UNKNOWN."""
    out = {}
    for name, samples in samples_by_column.items():
        try:
            out[name] = provider.detect_language(name, samples[:10])  # translate.py:64
        except Exception:
            out[name] = "ERROR"
    return out


def propose_column_mapping(
    schema_description: str,
    table_structure: dict[str, list[str]],
    column_samples: dict[str, list[str]],
    provider: SemanticProvider,
) -> dict[str, str]:
    """M1 (``mapper.py:13-73``): raw ``{src: "Table.column"}`` proposal;
    feed through mapping.clean_column_mapping (M2) before use."""
    return provider.map_schema(schema_description, table_structure, column_samples)
