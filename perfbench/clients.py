"""Duck-typed client wrappers that count every call the pipeline makes
into the fake HTTP, renderer and LLM clients. The counts travel back
from the UDF workers through one Spark accumulator keyed by
(call kind, URL class)."""

from __future__ import annotations

from pyspark.accumulators import AccumulatorParam

from .expect import classify


class CallCountParam(AccumulatorParam):
    """Accumulates {(kind, url_class): calls} dicts."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0) + v
        return a


class CountingHttpClient:
    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc

    def fetch(self, url: str):
        self.acc.add({("http", classify(url)): 1})
        return self.inner.fetch(url)


class CountingRendererClient:
    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc

    def render(self, url: str):
        self.acc.add({("render", classify(url)): 1})
        return self.inner.render(url)


class CountingLlmClient:
    def __init__(self, inner, acc):
        self.inner, self.acc = inner, acc

    def extract(self, snippet: dict) -> str:
        self.acc.add({("llm", classify(snippet.get("url", ""))): 1})
        return self.inner.extract(snippet)

    def notes(self, snippet: dict) -> str:
        self.acc.add({("llm", classify(snippet.get("url", ""))): 1})
        return self.inner.notes(snippet)


def counting_clients(sc):
    """(accumulator, http, renderer, llm): the package's fakes, wrapped."""
    from joblink_etl_spark.clients import FakeLlmClient, FakeRendererClient, ThrowingHttpClient

    acc = sc.accumulator({}, CallCountParam())
    return (
        acc,
        CountingHttpClient(ThrowingHttpClient(), acc),
        CountingRendererClient(FakeRendererClient(), acc),
        CountingLlmClient(FakeLlmClient(), acc),
    )
