"""Unit tests for the LLM runtime: retry semantics (R25), concurrency,
gating, and the enrichment composition."""

from __future__ import annotations

import asyncio

import pytest
from pyspark.sql import functions as F

from gov_data_pipeline_spark.llm import (
    LLMRequest,
    MockLLMClient,
    RateLimitError,
    call_with_retry,
    llm_map,
)


class TestRetry:
    def test_succeeds_after_transient_failures(self):
        client = MockLLMClient(fail_first=3)
        sleeps: list[float] = []

        async def fake_sleep(d: float) -> None:
            sleeps.append(d)

        req = LLMRequest(messages=[{"role": "user", "content": "hi"}])
        out = asyncio.run(
            call_with_retry(lambda: client.complete(req), sleep=fake_sleep)
        )
        assert out == "hi"
        # reference backoff: 2, 4, 8 (doubling from 2s)
        assert sleeps == [2.0, 4.0, 8.0]

    def test_raises_after_max_retries(self):
        client = MockLLMClient(fail_first=99)

        async def fake_sleep(d: float) -> None:
            pass

        req = LLMRequest(messages=[{"role": "user", "content": "hi"}])
        with pytest.raises(RateLimitError):
            asyncio.run(
                call_with_retry(
                    lambda: client.complete(req), max_retries=5, sleep=fake_sleep
                )
            )


class TestOpenAICompatClient:
    """The stdlib-HTTP provider adapter against a local fake server:
    happy path, 429-then-success through the retry policy, auth-fatal
    after exhaustion, and non-retryable 4xx."""

    @staticmethod
    def _serve(script):
        """Start a one-shot HTTP server whose responses follow
        ``script`` (list of (status, body_dict) consumed per request);
        returns (base_url, requests_seen, shutdown)."""
        import http.server
        import json as _json
        import threading

        seen: list[dict] = []

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                seen.append(
                    {
                        "path": self.path,
                        "auth": self.headers.get("Authorization"),
                        "body": _json.loads(self.rfile.read(n) or b"{}"),
                    }
                )
                status, body = script[min(len(seen) - 1, len(script) - 1)]
                data = _json.dumps(body).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):
                pass

        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return f"http://127.0.0.1:{srv.server_address[1]}/v1", seen, srv.shutdown

    @staticmethod
    def _ok(text):
        return (200, {"choices": [{"message": {"content": text}}]})

    def test_happy_path_payload_shape(self):
        from gov_data_pipeline_spark.llm.client import OpenAICompatClient

        url, seen, stop = self._serve([self._ok("hello back")])
        try:
            client = OpenAICompatClient(base_url=url, api_key="sk-test")
            req = LLMRequest(
                messages=[{"role": "user", "content": "hi"}],
                model="gpt-4o-mini",
                max_tokens=64,
                response_format="json_object",
            )
            assert asyncio.run(client.complete(req)) == "hello back"
            body = seen[0]["body"]
            assert seen[0]["path"].endswith("/chat/completions")
            assert seen[0]["auth"] == "Bearer sk-test"
            assert body["model"] == "gpt-4o-mini"
            assert body["max_tokens"] == 64
            assert body["response_format"] == {"type": "json_object"}
        finally:
            stop()

    def test_429_retries_then_succeeds(self):
        from gov_data_pipeline_spark.llm.client import OpenAICompatClient

        url, seen, stop = self._serve(
            [(429, {"error": "slow down"}), (429, {"error": "slow down"}),
             self._ok("ok")]
        )
        try:
            client = OpenAICompatClient(base_url=url)
            sleeps: list[float] = []

            async def fake_sleep(d):
                sleeps.append(d)

            req = LLMRequest(messages=[{"role": "user", "content": "hi"}])
            out = asyncio.run(
                call_with_retry(lambda: client.complete(req), sleep=fake_sleep)
            )
            assert out == "ok"
            assert len(seen) == 3
            assert sleeps == [2.0, 4.0]  # reference backoff, doubling from 2s
        finally:
            stop()

    def test_auth_error_fatal_after_exhaustion(self):
        from gov_data_pipeline_spark.llm.client import AuthError, OpenAICompatClient

        url, seen, stop = self._serve([(401, {"error": "bad key"})])
        try:
            client = OpenAICompatClient(base_url=url, api_key="sk-bad")

            async def fake_sleep(d):
                pass

            req = LLMRequest(messages=[{"role": "user", "content": "hi"}])
            with pytest.raises(AuthError):
                asyncio.run(
                    call_with_retry(
                        lambda: client.complete(req), max_retries=3, sleep=fake_sleep
                    )
                )
            assert len(seen) == 3  # retried to exhaustion, as the reference does
        finally:
            stop()

    def test_non_retryable_4xx_raises_immediately(self):
        from gov_data_pipeline_spark.llm.client import OpenAICompatClient

        url, seen, stop = self._serve([(400, {"error": "bad request"})])
        try:
            client = OpenAICompatClient(base_url=url)

            async def fake_sleep(d):
                raise AssertionError("must not retry a 400")

            req = LLMRequest(messages=[{"role": "user", "content": "hi"}])
            with pytest.raises(ValueError, match="400"):
                asyncio.run(
                    call_with_retry(lambda: client.complete(req), sleep=fake_sleep)
                )
            assert len(seen) == 1
        finally:
            stop()


class TestLlmMap:
    def test_skip_and_complete(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha"), (2, ""), (3, "gamma")], "id long, txt string"
        )

        def build(row):
            if not row["txt"]:
                return None
            return LLMRequest(messages=[{"role": "user", "content": row["txt"]}])

        out = llm_map(df, build, "resp", MockLLMClient, initial_delay=0.0)
        rows = {r["id"]: r["resp"] for r in out.collect()}
        assert rows == {1: "alpha", 2: None, 3: "gamma"}

    def test_failed_request_nulls_row_not_partition(self, spark):
        """A request that exhausts retries yields a null cell; the other
        rows in the same partition still get their completions and the
        task does not fail/replay (ADVICE r1: gather(return_exceptions))."""

        class FlakyClient(MockLLMClient):
            async def complete(self, request):
                text = request.messages[-1]["content"]
                if text == "boom":
                    from gov_data_pipeline_spark.llm.client import RateLimitError

                    raise RateLimitError("permanent 429")
                return await super().complete(request)

        df = spark.createDataFrame(
            [(1, "alpha"), (2, "boom"), (3, "gamma")], "id long, txt string"
        ).coalesce(1)

        def build(row):
            return LLMRequest(messages=[{"role": "user", "content": row["txt"]}])

        out = llm_map(
            df, build, "resp", FlakyClient, max_retries=2, initial_delay=0.0
        )
        rows = {r["id"]: r["resp"] for r in out.collect()}
        assert rows == {1: "alpha", 2: None, 3: "gamma"}

    def test_programming_error_fails_task(self, spark):
        """A bug in build_request (not a request failure) must fail the
        job, not ship silent nulls."""
        df = spark.createDataFrame([(1, "alpha")], "id long, txt string")

        def build(row):
            return LLMRequest(
                messages=[{"role": "user", "content": row["missing_col"]}]
            )

        out = llm_map(df, build, "resp", MockLLMClient, initial_delay=0.0)
        with pytest.raises(Exception, match="missing_col|KeyError|PythonException"):
            out.collect()

    def test_auth_error_fails_task_not_silent_nulls(self, spark):
        """Bad credentials are a global failure: after retries exhaust,
        the job fails loudly instead of shipping an all-null column."""
        from gov_data_pipeline_spark.llm.client import AuthError

        class BadKeyClient(MockLLMClient):
            async def complete(self, request):
                raise AuthError("401 bad key")

        df = spark.createDataFrame([(1, "alpha")], "id long, txt string")

        def build(row):
            return LLMRequest(messages=[{"role": "user", "content": row["txt"]}])

        out = llm_map(
            df, build, "resp", BadKeyClient, max_retries=2, initial_delay=0.0
        )
        with pytest.raises(Exception, match="AuthError|401|PythonException"):
            out.collect()


class TestEnrichPieces:
    def test_ocr_gate_and_suffix(self, spark):
        import base64

        from gov_data_pipeline_spark.llm import ocr_enrich

        uri = "data:image/png;base64," + base64.b64encode(b"LOGO TEXT").decode()
        df = spark.createDataFrame(
            [
                (1, "", uri),          # -> OCR fills
                (2, "HasBrand", uri),  # brand present -> untouched
                (3, "", ""),           # no image -> untouched
            ],
            "id long, brand string, image string",
        )
        out = {r["id"]: r["brand"] for r in
               ocr_enrich(df, "brand", "image", MockLLMClient).collect()}
        assert out == {1: "LOGO TEXT (RECOG)", 2: "HasBrand", 3: ""}

    def test_brand_variants_strips_recog_and_gates(self, spark):
        from gov_data_pipeline_spark.llm import brand_variants

        df = spark.createDataFrame(
            [(1, "Acme 42 (RECOG)", "widgets"), (2, "", "x")],
            "id long, brand string, descr string",
        )
        out = {r["id"]: (r["variants_en"], r["variants_ru"]) for r in
               brand_variants(df, "brand", "descr", MockLLMClient).collect()}
        # digits stripped, RECOG removed; the '.' orphaned by digit
        # stripping is a punctuation-only token and gets dropped
        # (reference gpt.py:287-297 does the same).
        assert out[1] == ("ACME DESCRIPTION: WIDGETS", "acme description: widgets")
        assert out[2] == ("", "")

    def test_correct_rows_normalizes_values(self, spark):
        from gov_data_pipeline_spark.llm import correct_rows

        df = spark.createDataFrame([(1, "  a   b  ")], "id long, v string")
        out = correct_rows(df, MockLLMClient).collect()[0]
        assert out["v"] == "a b"
        assert out["id"] == "1"  # whole row goes through the string round-trip


class TestPartialCorrection:
    def test_correct_rows_keeps_columns_omitted_by_model(self, spark):
        """A real model may return a partial corrected_row; omitted keys
        must keep their original values, not become NULL."""
        from gov_data_pipeline_spark.llm.enrich import correct_rows

        class PartialClient:
            async def complete(self, request):
                return '{"corrected_row": {"a": "FIXED"}}'

        df = spark.createDataFrame([(1, "orig_a", "orig_b")], "id long, a string, b string")
        row = correct_rows(df, PartialClient).collect()[0]
        assert row["a"] == "FIXED"
        assert row["b"] == "orig_b"  # used to be nulled
        assert row["id"] == "1"


class TestRowSafety:
    def test_each_stage_runs_once_per_row_under_a_random_model(self, spark):
        """enrich_table must not depend on the model being deterministic
        or on how often Spark evaluates a lineage: with an OCR answer
        that is random per call (sometimes empty, which flips the brand
        stage's gate), the output keeps exactly the input rows, each OCR
        row's image request is sent once, and each non-excluded row
        sends one correction request. Calls are counted per request key
        in an accumulator across the Python workers."""
        import base64
        import json
        import random
        from collections import Counter

        from pyspark.accumulators import AccumulatorParam

        from gov_data_pipeline_spark.llm import enrich_table
        from gov_data_pipeline_spark.llm.client import _image_payload

        class CounterParam(AccumulatorParam):
            def zero(self, value):
                return Counter()

            def addInPlace(self, a, b):
                a.update(b)
                return a

        class RandomOcrClient(MockLLMClient):
            def __init__(self, acc):
                super().__init__()
                self.acc = acc

            async def complete(self, request):
                image = _image_payload(request)
                if image is not None:
                    self.acc.add(Counter({("image", image): 1}))
                    return random.choice(["", f"LOGO {random.random():.6f}"])
                if request.model == "correction":
                    row = json.loads(request.messages[-1]["content"])
                    self.acc.add(Counter({("correction", row["id"]): 1}))
                else:
                    self.acc.add(Counter({(request.model, None): 1}))
                return await super().complete(request)

        class Factory:
            def __init__(self, acc):
                self.acc = acc

            def __call__(self):
                return RandomOcrClient(self.acc)

        def uri(i: int) -> str:
            return "data:image/png;base64," + base64.b64encode(f"img {i}".encode()).decode()

        n = 120
        rows = []
        for i in range(n):
            excluded = i % 6 == 0
            needs_image = i % 5 == 0
            rows.append(
                (
                    i,
                    "" if needs_image else f"Brand {i}",
                    uri(i) if needs_image else "",
                    "исключен" if excluded else f"descr {i}",
                )
            )
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 5),
            "id long, brand string, image string, descr string",
        )
        assert df.rdd.getNumPartitions() >= 4

        acc = spark.sparkContext.accumulator(Counter(), CounterParam())
        out = enrich_table(df, "brand", "image", "descr", Factory(acc), correction=True).collect()
        calls = acc.value

        # row identity: same count, same keys, no duplicates
        assert len(out) == n
        assert sorted(int(r["id"]) for r in out) == list(range(n))

        ocr_rows = {uri(i) for i, _, img, _ in rows if img and i % 6 != 0}
        image_calls = {k: v for (kind, k), v in calls.items() if kind == "image"}
        assert image_calls == dict.fromkeys(ocr_rows, 1)

        kept = {i for i in range(n) if i % 6 != 0}
        corr_calls = {k: v for (kind, k), v in calls.items() if kind == "correction"}
        assert corr_calls == dict.fromkeys(kept, 1)

        # the brand stage ran once for every kept row that ended up with
        # a brand, whatever the random OCR answered for it
        branded = sum(1 for r in out if r["excluded"] == "Нет" and r["brand"])
        assert calls[("brand", None)] == branded
