"""Simulated model endpoint, owned by the benchmark.

``enrich_table`` builds its client on the executor through a picklable
``client_factory``; :class:`EndpointFactory` is that factory. Each
client answers like ``MockLLMClient`` (so results stay checkable), but

- waits a fixed, stated latency per call (``asyncio.sleep``);
- fails a brand request with a 429 on its first attempt when the hash of
  its content lands in the schedule shared with the generator
  (:func:`perfbench.gen.fails_first_attempt`); the engine's retry policy
  then retries it;
- "reads" an image by returning the text the generator stored in the
  PNG's ``tEXt`` chunk (an ideal OCR);
- counts calls, retries, injected failures, in-flight requests and the
  rows sent to the model (first attempts of text requests; an OCR'd row
  also sends an image request first) in Spark accumulators, which the
  driver reads after each job.

It runs in-process in the Python workers and opens no sockets.
"""

from __future__ import annotations

import asyncio
import base64

from pyspark.accumulators import AccumulatorParam

from gov_data_pipeline_spark.llm.client import LLMRequest, MockLLMClient, RateLimitError
from perfbench.gen import fails_first_attempt, png_text

LATENCY_S = 0.02  # stated per-call model latency
_DATA_URI = "data:image/png;base64,"


class MaxParam(AccumulatorParam):
    """Accumulator that keeps the largest value added."""

    def zero(self, value):
        return 0

    def addInPlace(self, a, b):
        return max(a, b)


def _content(request: LLMRequest) -> tuple[str | None, str]:
    """(image data URI or None, user text) of a request."""
    text = ""
    for m in request.messages:
        c = m.get("content")
        if isinstance(c, list):
            for part in c:
                if part.get("type") == "image_url":
                    return part["image_url"]["url"], text
        elif m.get("role") == "user" and isinstance(c, str):
            text = c
    return None, text


class SimulatedEndpoint:
    def __init__(self, acc: dict):
        self._mock = MockLLMClient()
        self._acc = acc
        self._failed_once: set[str] = set()
        self._inflight = 0

    async def complete(self, request: LLMRequest) -> str:
        image, text = _content(request)
        key = image or text
        retry = key in self._failed_once
        self._inflight += 1
        self._acc["calls"].add(1)
        self._acc["retries"].add(int(retry))
        self._acc["rows"].add(int(image is None and not retry))
        self._acc["inflight_sum"].add(self._inflight)
        self._acc["inflight_max"].add(self._inflight)
        try:
            await asyncio.sleep(LATENCY_S)
            if not retry and image is None and fails_first_attempt(text):
                self._failed_once.add(key)
                self._acc["failed"].add(1)
                raise RateLimitError("simulated 429")
            if image is not None:
                return png_text(base64.b64decode(image.removeprefix(_DATA_URI))) or ""
            return await self._mock.complete(request)
        finally:
            self._inflight -= 1


class EndpointFactory:
    """Picklable ``client_factory`` carrying the shared accumulators."""

    def __init__(self, sc):
        self.acc = {
            "calls": sc.accumulator(0),
            "retries": sc.accumulator(0),
            "failed": sc.accumulator(0),
            "rows": sc.accumulator(0),
            "inflight_sum": sc.accumulator(0),
            "inflight_max": sc.accumulator(0, MaxParam()),
        }

    def __call__(self) -> SimulatedEndpoint:
        return SimulatedEndpoint(self.acc)

    def snapshot(self) -> dict[str, int]:
        return {k: a.value for k, a in self.acc.items()}
