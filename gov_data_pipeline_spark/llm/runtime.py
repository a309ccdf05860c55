"""``llm_map`` — the batched async model-call column (SURVEY L1).

The reference awaits one request per row on a single event loop
(``utils/gpt.py:386-460``) — its biggest performance naïveté. Here the
same work runs as:

- ``mapInPandas``: Arrow-batched partitions, so each Python worker gets
  thousands of rows per batch, not one;
- an asyncio event loop *per batch* with a bounded-concurrency gather:
  ``concurrency`` requests in flight per task, times however many tasks
  the cluster runs — at 1000 executors the pipeline sustains
  1000 × concurrency requests in flight vs the reference's 1;
- R25 retry/backoff per request inside the batch (a failed request
  retries alone; the partition is never replayed);
- rows whose request builder returns ``None`` are skipped for free
  (no network call, no retry budget). Callers gate a stage by
  evaluating its predicate as a native column the builder reads.

Invariant: ``llm_map`` adds exactly one ``mapInPandas`` node on top of
its input — one linear plan, so the upstream lineage is evaluated once
and each gated row sends one request per stage (plus its retries),
whether or not the model is deterministic.
"""

from __future__ import annotations

import asyncio
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, types as T

from gov_data_pipeline_spark.llm.client import (
    LLMRequest,
    RateLimitError,
    TransientAPIError,
    call_with_retry,
)

ClientFactory = Callable[[], Any]
RequestBuilder = Callable[[dict[str, Any]], LLMRequest | None]

# Error types that null the row instead of failing the task: the
# request-level failures a model endpoint emits. Programming errors
# (KeyError, AttributeError, ...) propagate and fail the task — and so
# does AuthError: bad credentials are a global, deterministic failure
# (every row would null silently otherwise), so after its R25 retries
# exhaust it fails the job loudly rather than shipping an all-null
# column.
NONFATAL_ERRORS: tuple[type[Exception], ...] = (
    RateLimitError,
    TransientAPIError,
    TimeoutError,
    ConnectionError,
)


def _run_batch(
    pdf: pd.DataFrame,
    build_request: RequestBuilder,
    client: Any,
    concurrency: int,
    max_retries: int,
    initial_delay: float,
) -> list[str | None]:
    async def run() -> list[str | None]:
        sem = asyncio.Semaphore(concurrency)

        async def one(row: dict[str, Any]) -> str | None:
            req = build_request(row)
            if req is None:
                return None
            async with sem:
                return await call_with_retry(
                    lambda: client.complete(req),
                    max_retries=max_retries,
                    initial_delay=initial_delay,
                )

        results = await asyncio.gather(
            *[one(r) for r in pdf.to_dict(orient="records")],
            return_exceptions=True,
        )
        # A request that exhausted its retries yields a null cell
        # instead of failing the Spark task — otherwise one bad row
        # replays the whole partition, re-sending every other row's
        # request to the model endpoint. Only the declared request
        # error types are nulled: a programming error (KeyError in
        # build_request, a typo'd attribute) or a cancellation must
        # still fail loudly, not ship as silent nulls.
        out: list[str | None] = []
        for r in results:
            if isinstance(r, NONFATAL_ERRORS):
                out.append(None)
            elif isinstance(r, BaseException):
                raise r
            else:
                out.append(r)
        return out

    return asyncio.run(run())


def llm_map(
    df: DataFrame,
    build_request: RequestBuilder,
    output_col: str,
    client_factory: ClientFactory,
    concurrency: int = 8,
    max_retries: int = 5,
    initial_delay: float = 2.0,
) -> DataFrame:
    """Append ``output_col`` (string) = model completion per row.

    ``build_request`` maps a row dict to an ``LLMRequest`` (or ``None``
    to skip the row: no request, null ``output_col``).
    ``client_factory`` is constructed once per partition on the
    executor (connection reuse across the batch); it must be picklable.

    Every input row passes through the one ``mapInPandas`` exactly
    once, so row count and row identity are preserved and each row's
    request is sent once per evaluation of the result.
    """
    # mapInPandas cannot resolve column names containing dots (registry
    # columns like "Рег. №" do), so the UDF boundary runs under
    # positional placeholder names; the mapper sees the real names.
    orig = list(df.columns)
    safe = [f"__c{i}" for i in range(len(orig))]
    out_schema = T.StructType(
        [
            T.StructField(s, f.dataType, f.nullable)
            for s, f in zip(safe, df.schema.fields)
        ]
        + [T.StructField("__out", T.StringType(), True)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        for pdf in batches:
            pdf = pdf.copy()
            pdf.columns = orig
            results = _run_batch(
                pdf,
                build_request,
                client,
                concurrency,
                max_retries,
                initial_delay,
            )
            out = pdf.assign(__out=pd.Series(results, index=pdf.index, dtype="object"))
            out.columns = safe + ["__out"]
            yield out

    return df.toDF(*safe).mapInPandas(mapper, schema=out_schema).toDF(*orig, output_col)
