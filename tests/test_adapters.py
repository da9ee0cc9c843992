"""Network provider adapters — full request/response path via an
injected fake transport; no network, no SDKs.

Wire-shape parity targets in the reference:
- translator POST body/headers/URL: ``translate.py:84-103``
- per-batch identity fallback on non-200/exception: ``translate.py:105-116``
- label kernels UNKNOWN/ERROR degradation: ``translate.py:51-54``, ``:72-75``
- env configuration surface: ``config.py:16-27``
"""

import json
import time

import pytest

from ai_etl_pipeline_spark.operators import distinct, enrich
from ai_etl_pipeline_spark.semantic.adapters import (
    NetworkProvider,
    OpenAIChatClient,
    RestTranslatorClient,
)


class FakeTransport:
    def __init__(self, responder):
        self.responder = responder
        self.calls = []

    def __call__(self, url, headers, body, timeout):
        self.calls.append((url, headers, json.loads(body)))
        return self.responder(url, headers, json.loads(body))


def _translator_ok(url, headers, body):
    out = [{"translations": [{"text": f"EN:{item['text']}"}]} for item in body]
    return 200, json.dumps(out).encode()


def _chat_ok(reply):
    def responder(url, headers, body):
        return 200, json.dumps(
            {"choices": [{"message": {"content": reply}}]}
        ).encode()

    return responder


def test_translator_wire_shape_and_roundtrip():
    t = FakeTransport(_translator_ok)
    client = RestTranslatorClient(
        api_key="k", endpoint="https://svc.example/", region="westeu",
        throttle_s=0.0, transport=t,
    )
    out = client.translate_batch(["Hallo", "Welt"])
    assert out == ["EN:Hallo", "EN:Welt"]
    url, headers, body = t.calls[0]
    assert url == "https://svc.example/translate?api-version=3.0&to=en"
    assert headers["Ocp-Apim-Subscription-Key"] == "k"
    assert headers["Ocp-Apim-Subscription-Region"] == "westeu"
    assert body == [{"text": "Hallo"}, {"text": "Welt"}]  # translate.py:100


def test_translator_non_200_raises_and_enrich_falls_back():
    client = RestTranslatorClient(
        api_key="k", throttle_s=0.0,
        transport=FakeTransport(lambda u, h, b: (429, b"slow down")),
    )
    with pytest.raises(RuntimeError, match="HTTP 429"):
        client.translate_batch(["x"])


def test_translator_feeds_driver_side_enrich_path(spark):
    df = spark.createDataFrame([("Hallo",), ("Welt",), ("Hallo",)], "v string")
    client = RestTranslatorClient(
        api_key="k", throttle_s=0.0, transport=FakeTransport(_translator_ok)
    )
    values = distinct.distinct_values_long(df, ["v"])
    maps = enrich.translate_distinct_values(values, ["v"], client.translate_batch)
    assert maps["v"] == {"Hallo": "EN:Hallo", "Welt": "EN:Welt"}


def _stamping_transport():
    # a closure, shipped by value to python workers (see _translate_ok in
    # tests/test_enrich_distributed.py): each translation carries the
    # monotonic time its POST reached the transport
    def transport(url, headers, body, timeout):
        t = time.monotonic()
        out = [{"translations": [{"text": f"{item['text']}|t{t:.4f}"}]} for item in json.loads(body)]
        return 200, json.dumps(out).encode()

    return transport


def test_translator_throttle_spaces_distributed_calls(spark):
    # the transport holds the package's one throttle (translate.py:118),
    # so the mapInPandas path's provider calls are spaced by it too
    df = spark.createDataFrame([(f"v{i:02d}",) for i in range(30)], "v string")
    client = RestTranslatorClient(api_key="k", throttle_s=0.12, transport=_stamping_transport())
    mapping = enrich.translate_distinct_values_distributed(
        df, "v", client.translate_batch, batch_size=10, num_partitions=1
    )
    stamps = sorted({float(r["translated"].rsplit("|t", 1)[1]) for r in mapping.collect()})
    assert len(stamps) == 3  # 30 values / batch_size 10
    gaps = [b - a for a, b in zip(stamps, stamps[1:])]
    assert all(g >= 0.1 for g in gaps)


def test_translator_from_env_mirrors_reference_config():
    env = {
        "AZURE_TRANSLATE_API_KEY": "secret",
        "AZURE_TRANSLATE_REGION": "northeurope",
    }
    c = RestTranslatorClient.from_env(env)
    assert c.api_key == "secret"
    assert c.region == "northeurope"
    # endpoint default matches config.py:17
    assert c.endpoint.startswith("https://api.cognitive.microsofttranslator.com")


def test_chat_client_complete_and_env():
    t = FakeTransport(_chat_ok("TEXT"))
    c = OpenAIChatClient(api_key="k", base_url="https://llm.example/v1", transport=t)
    assert c.complete("classify") == "TEXT"
    url, headers, body = t.calls[0]
    assert url == "https://llm.example/v1/chat/completions"
    assert headers["Authorization"] == "Bearer k"
    assert body["temperature"] == 0.0  # mapper.py:203 pins temperature=0
    env = {"AZURE_OPENAI_API_KEY": "a", "AZURE_OPENAI_ENDPOINT": "https://x", "AZURE_OPENAI_DEPLOYMENT": "gpt-4o"}
    ce = OpenAIChatClient.from_env(env)
    assert (ce.api_key, ce.base_url, ce.model) == ("a", "https://x", "gpt-4o")


def test_network_provider_label_degradation():
    ok = OpenAIChatClient(api_key="k", base_url="u", transport=FakeTransport(_chat_ok("NON-ENGLISH")))
    weird = OpenAIChatClient(api_key="k", base_url="u", transport=FakeTransport(_chat_ok("MAYBE?")))
    down = OpenAIChatClient(
        api_key="k", base_url="u", transport=FakeTransport(lambda u, h, b: (500, b""))
    )
    tr = RestTranslatorClient(api_key="k", throttle_s=0.0, transport=FakeTransport(_translator_ok))
    assert NetworkProvider(ok, tr).detect_language("c", ["ä"]) == "NON-ENGLISH"
    assert NetworkProvider(weird, tr).detect_language("c", ["ä"]) == "UNKNOWN"
    assert NetworkProvider(down, tr).detect_language("c", ["ä"]) == "ERROR"  # translate.py:72-75


def test_network_provider_map_schema_json_and_fallback():
    good = OpenAIChatClient(
        api_key="k", base_url="u",
        transport=FakeTransport(_chat_ok('mapping: {"amount": "FACT.total"} done')),
    )
    tr = RestTranslatorClient(api_key="k", throttle_s=0.0, transport=FakeTransport(_translator_ok))
    p = NetworkProvider(good, tr)
    assert p.map_schema("d", {"FACT": ["total"]}, {"amount": ["1"]}) == {"amount": "FACT.total"}
    down = OpenAIChatClient(
        api_key="k", base_url="u", transport=FakeTransport(lambda u, h, b: (500, b""))
    )
    fb = NetworkProvider(down, tr).map_schema("d", {"FACT": ["amount_total"]}, {"amount": ["1"]})
    assert isinstance(fb, dict)  # heuristic fallback still proposes a mapping


# ---------------------------------------------------------------------------
# OPTIONAL real-network smoke — off by default, enabled explicitly with
# SPARK_GRAFT_NET_SMOKE=1 plus live credentials (the same public env
# surface the reference's config.py reads). CI and the driver never set
# these, so the suite stays hermetic; a deployment can flip the flag to
# prove the wire path against the real services.
# ---------------------------------------------------------------------------

import os  # noqa: E402

_NET_SMOKE = os.environ.get("SPARK_GRAFT_NET_SMOKE") == "1"


@pytest.mark.skipif(
    not (_NET_SMOKE and os.environ.get("AZURE_TRANSLATE_API_KEY")),
    reason="network smoke: set SPARK_GRAFT_NET_SMOKE=1 + AZURE_TRANSLATE_API_KEY",
)
def test_real_translator_network_smoke():
    client = RestTranslatorClient.from_env()
    out = client.translate_batch(["Hallo Welt", "Guten Morgen"])
    # identity fallback means a soft outage still returns the inputs;
    # a live key must return two non-empty strings either way
    assert len(out) == 2 and all(isinstance(s, str) and s for s in out)


@pytest.mark.skipif(
    not (
        _NET_SMOKE
        and (os.environ.get("AZURE_OPENAI_API_KEY") or os.environ.get("OPENAI_API_KEY"))
    ),
    reason="network smoke: set SPARK_GRAFT_NET_SMOKE=1 + an OpenAI-compatible key",
)
def test_real_chat_network_smoke():
    client = OpenAIChatClient.from_env()
    reply = client.complete("Reply with exactly the word TEXT.")
    assert isinstance(reply, str) and reply.strip()
