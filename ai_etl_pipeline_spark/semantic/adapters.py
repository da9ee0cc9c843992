"""Concrete network provider adapters (SURVEY §2.1 S7/S8 deployment
surface).

The reference calls Azure Translator over REST
(``/root/reference/translate.py:84-103``: POST
``{endpoint}/translate?api-version=3.0&to=en`` with
``Ocp-Apim-Subscription-Key`` / ``-Region`` headers, body
``[{"text": v}, ...]``) and an OpenAI-compatible chat deployment
(``mapper.py:196-204`` / ``translate.py:159-167``), configured from env
(``config.py:16-27``). These adapters complete that parity while staying
OFFLINE-SAFE:

- stdlib ``urllib`` only — no SDK dependency;
- a ``transport`` callable is injectable, so tests exercise the full
  request/response path with a fake and NO network;
- every adapter degrades exactly like the reference: identity
  translation per failing batch (``translate.py:111-116``),
  UNKNOWN/ERROR labels (``translate.py:51-54``, ``:72-75``);
- ``NetworkProvider`` implements the same ``SemanticProvider`` protocol
  the pipelines consume, so swapping HeuristicProvider → NetworkProvider
  is a one-line config change and no pipeline code moves.

``semantic/__init__.py`` imports this module, so every importer of
``ai_etl_pipeline_spark.semantic`` loads it, but nothing here runs and
nothing touches the network until a caller builds one of these clients.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Callable

from .providers import (
    ENGLISH,
    NON_ENGLISH,
    NON_TEXT,
    TEXT,
    UNKNOWN,
    HeuristicProvider,
)

# transport: (url, headers, body_bytes, timeout_s) -> (status, body_bytes)
Transport = Callable[[str, dict, bytes, float], tuple[int, bytes]]


def _urllib_transport(url: str, headers: dict, body: bytes, timeout: float) -> tuple[int, bytes]:
    req = urllib.request.Request(url, data=body, headers=headers, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx still carries a body
        return e.code, e.read()


@dataclass
class RestTranslatorClient:
    """Azure-Translator-v3-shaped batch translator (the public wire
    format of ``translate.py:84-103``). Any service speaking the same
    shape works — endpoint/key/region are plain strings.

    ``translate_batch`` is the provider callable the engine consumes —
    pass it to ``translate_distinct_values`` (driver path) or
    ``translate_distinct_values_distributed`` (mapInPandas path; the
    dataclass pickles to python workers). ``throttle_s`` is the package's
    one inter-call throttle (``translate.py:118``): it sleeps before every
    POST, whichever path makes the call.
    """

    api_key: str
    endpoint: str = "https://api.cognitive.microsofttranslator.com/"
    region: str = "eastus"
    to_lang: str = "en"
    timeout_s: float = 30.0
    throttle_s: float = 0.15  # translate.py:118
    transport: Transport = field(default=_urllib_transport, repr=False)

    @classmethod
    def from_env(cls, env: dict | None = None) -> "RestTranslatorClient":
        """Env names mirror the reference's config.py: the key comes from
        ``AZURE_TRANSLATE_API_KEY``; endpoint/region override the
        reference's hardcoded defaults when set."""
        env = os.environ if env is None else env
        return cls(
            api_key=env.get("AZURE_TRANSLATE_API_KEY", ""),
            endpoint=env.get("AZURE_TRANSLATE_ENDPOINT", cls.endpoint),
            region=env.get("AZURE_TRANSLATE_REGION", cls.region),
        )

    def translate_batch(self, values: list[str]) -> list[str]:
        """One POST per call; raises on failure so the per-batch identity
        fallback of ``providers.translate_in_batches`` engages — the same
        net behavior as ``translate.py:105-116``."""
        url = f"{self.endpoint.rstrip('/')}/translate?api-version=3.0&to={self.to_lang}"
        headers = {
            "Ocp-Apim-Subscription-Key": self.api_key,
            "Ocp-Apim-Subscription-Region": self.region,
            "Content-type": "application/json",
        }
        body = json.dumps([{"text": str(v)} for v in values]).encode("utf-8")
        if self.throttle_s:
            time.sleep(self.throttle_s)
        status, payload = self.transport(url, headers, body, self.timeout_s)
        if status != 200:
            raise RuntimeError(f"translator HTTP {status}")
        parsed = json.loads(payload)
        out = [item["translations"][0]["text"] for item in parsed]
        if len(out) != len(values):
            raise RuntimeError("translator returned wrong batch size")
        return out


@dataclass
class OpenAIChatClient:
    """OpenAI-compatible chat-completions client (the public wire format
    behind ``mapper.py:196-204``'s AzureChatOpenAI). Works against any
    ``{base_url}/chat/completions`` endpoint; Azure-style deployments
    pass their full deployment URL as ``base_url`` and the api-version
    query via ``extra_query``."""

    api_key: str
    base_url: str
    model: str = "gpt-4o"
    temperature: float = 0.0  # the reference pins temperature=0
    timeout_s: float = 60.0
    extra_query: str = ""
    transport: Transport = field(default=_urllib_transport, repr=False)

    @classmethod
    def from_env(cls, env: dict | None = None) -> "OpenAIChatClient":
        env = os.environ if env is None else env
        return cls(
            api_key=env.get("AZURE_OPENAI_API_KEY", env.get("OPENAI_API_KEY", "")),
            base_url=env.get("AZURE_OPENAI_ENDPOINT", env.get("OPENAI_BASE_URL", "")),
            model=env.get("AZURE_OPENAI_DEPLOYMENT", env.get("OPENAI_MODEL", cls.model)),
        )

    def complete(self, prompt: str) -> str:
        url = f"{self.base_url.rstrip('/')}/chat/completions"
        if self.extra_query:
            url = f"{url}?{self.extra_query}"
        headers = {
            "Authorization": f"Bearer {self.api_key}",
            "api-key": self.api_key,  # Azure-style header; harmless elsewhere
            "Content-type": "application/json",
        }
        body = json.dumps(
            {
                "model": self.model,
                "temperature": self.temperature,
                "messages": [{"role": "user", "content": prompt}],
            }
        ).encode("utf-8")
        status, payload = self.transport(url, headers, body, self.timeout_s)
        if status != 200:
            raise RuntimeError(f"chat HTTP {status}")
        return json.loads(payload)["choices"][0]["message"]["content"]


@dataclass
class NetworkProvider:
    """``SemanticProvider`` over real services, with the reference's
    failure semantics: label kernels answer UNKNOWN on malformed output
    and ERROR on transport failure (``translate.py:51-54``, ``:72-75``);
    ``map_schema`` falls back to the heuristic matcher; translation
    raises per batch so ``providers.translate_in_batches``' identity
    fallback engages."""

    chat: OpenAIChatClient
    translator: RestTranslatorClient
    _fallback: HeuristicProvider = field(default_factory=HeuristicProvider)

    def _label(self, prompt: str, allowed: tuple[str, str]) -> str:
        try:
            label = self.chat.complete(prompt).strip().upper()
        except Exception:
            return "ERROR"
        return label if label in allowed else UNKNOWN

    def classify_column(self, name: str, samples: list[str]) -> str:
        sample_block = "\n- " + "\n- ".join(str(s) for s in samples[:10])
        prompt = (
            "Classify whether this column contains natural-language TEXT "
            "or NON-TEXT (codes, ids, numbers). Answer TEXT or NON-TEXT "
            f"only.\nColumn: {name}\nSamples:{sample_block}"
        )
        return self._label(prompt, (TEXT, NON_TEXT))

    def detect_language(self, name: str, samples: list[str]) -> str:
        sample_block = "\n- " + "\n- ".join(str(s) for s in samples[:10])
        prompt = (
            "Are these values written in English? Answer ENGLISH or "
            f"NON-ENGLISH only.\nColumn: {name}\nSamples:{sample_block}"
        )
        return self._label(prompt, (ENGLISH, NON_ENGLISH))

    def map_schema(self, schema_description, table_structure, column_samples):
        prompt = (
            "Map each source column to destination table.column. Answer "
            "as JSON {source: \"Table.column\"}.\n"
            f"Destination: {json.dumps(table_structure)}\n"
            f"Description: {schema_description}\n"
            f"Samples: {json.dumps(column_samples, default=str)}"
        )
        try:
            raw = self.chat.complete(prompt)
            mapping = json.loads(raw[raw.index("{") : raw.rindex("}") + 1])
            if not isinstance(mapping, dict):
                raise ValueError("not a dict")
            return {str(k): str(v) for k, v in mapping.items()}
        except Exception:
            return self._fallback.map_schema(
                schema_description, table_structure, column_samples
            )

    def translate_batch(self, values: list[str]) -> list[str]:
        return self.translator.translate_batch(values)
