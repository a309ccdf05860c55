"""Enrichment operators composed from native gates + ``llm_map``
(SURVEY L2-L4 — reference ``utils/gpt.py:180-462`` ``process_table``).

The reference's per-row Python loop becomes: native column predicates
decide *which* rows need model calls (a ``__need_*`` flag per stage),
``llm_map`` runs the calls batched-async on executors, native
expressions splice results back. Excluded rows never reach the model —
the same short-circuit the reference does row-by-row
(``gpt.py:399-406``): their request builder returns ``None``.

The plan is linear: source → OCR ``mapInPandas`` → brand
``mapInPandas`` → correction ``mapInPandas``. Every row passes through
each stage once, so the row count is preserved and each gated row sends
one request per stage, whether or not the model is deterministic.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from gov_data_pipeline_spark.llm.client import LLMRequest
from gov_data_pipeline_spark.llm.runtime import ClientFactory, llm_map
from gov_data_pipeline_spark.util import qcol
from gov_data_pipeline_spark.transforms.text import is_excluded_col

# Python re's punctuation-only token pattern (gpt.py:293-297), Java-regex escaped.
_PUNCT_TOKEN = r"^[!\"#$%&'()*+,\-./:;<=>?@\[\]\^_`{|}~]+$"

RECOG_SUFFIX = " (RECOG)"


def clean_brand_prompt_col(brand: Column, desc: Column | None = None) -> Column:
    """Prompt cleaning, rule-for-rule from ``utils/gpt.py:283-302``:
    append ``. Description: <desc>`` when present; strip digits;
    collapse whitespace and trim; drop punctuation-only tokens;
    truncate at 2000 chars with ``...``. All native regex/array ops."""
    p = brand
    if desc is not None:
        p = F.when(
            desc.isNotNull() & (F.trim(desc) != ""),
            F.concat(brand, F.lit(". Description: "), desc),
        ).otherwise(brand)
    p = F.regexp_replace(p, r"\d+", "")
    p = F.regexp_replace(p, r"\s+", " ")
    p = F.regexp_replace(p, r"^\s+|\s+$", "")
    p = F.array_join(
        F.filter(F.split(p, " "), lambda t: ~t.rlike(_PUNCT_TOKEN)), " "
    )
    return F.when(
        F.length(p) > 2000, F.concat(F.substring(p, 1, 2000), F.lit("..."))
    ).otherwise(p)


def _ocr_request(image_value: str) -> LLMRequest:
    """Vision request shape per ``utils/gpt.py:148-177``."""
    return LLMRequest(
        messages=[
            {
                "role": "user",
                "content": [
                    {
                        "type": "text",
                        "text": (
                            "You must return ONLY the text found in the image."
                            "No descriptions, no explanations, no formatting."
                            "Just the raw text."
                        ),
                    },
                    {"type": "image_url", "image_url": {"url": image_value}},
                ],
            }
        ],
        model="vision",
        temperature=0.1,
        max_tokens=64,
    )


def ocr_enrich(
    df: DataFrame,
    brand_col: str,
    image_col: str,
    client_factory: ClientFactory,
    gate: Column | None = None,
) -> DataFrame:
    """L2: rows with an empty brand and a non-empty image get the brand
    filled from OCR, suffixed ``(RECOG)`` (``gpt.py:408-423``).

    The gate is evaluated natively; non-gated rows skip the model via
    the request builder returning None (no network, no retry budget).
    """
    need = (
        (qcol(brand_col).isNull() | (F.trim(qcol(brand_col)) == ""))
        & qcol(image_col).isNotNull()
        & (qcol(image_col) != "")
    )
    if gate is not None:
        need = need & gate
    flagged = df.withColumn("__need_ocr", need)

    def build(row: dict[str, Any]) -> LLMRequest | None:
        if not row["__need_ocr"]:
            return None
        return _ocr_request(row[image_col])

    out = llm_map(flagged, build, "__ocr_text", client_factory)
    return out.withColumn(
        brand_col,
        F.when(
            F.col("__need_ocr")
            & F.col("__ocr_text").isNotNull()
            & (F.col("__ocr_text") != ""),
            F.concat(F.col("__ocr_text"), F.lit(RECOG_SUFFIX)),
        ).otherwise(qcol(brand_col)),
    ).drop("__need_ocr", "__ocr_text")


BRAND_SYSTEM_PROMPT = (
    "Generate brand-name variations. Respond in JSON with keys "
    "english_samples and russian_samples (max 4 each)."
)


def brand_variants(
    df: DataFrame,
    brand_col: str,
    desc_col: str | None,
    client_factory: ClientFactory,
    gate: Column | None = None,
    en_col: str = "variants_en",
    ru_col: str = "variants_ru",
) -> DataFrame:
    """L3: JSON-mode brand-variant generation (``gpt.py:274-342,425-445``):
    prompt = cleaned(brand minus the RECOG suffix [+ description]);
    response JSON -> two comma-joined string columns."""
    plain = F.regexp_replace(
        F.regexp_replace(qcol(brand_col), r"\Q (RECOG)\E", ""), r"^\s+|\s+$", ""
    )
    need = plain != ""
    if gate is not None:
        need = need & gate
    prompt = clean_brand_prompt_col(
        plain, qcol(desc_col) if desc_col else None
    )
    flagged = df.withColumn("__need_brand", need).withColumn("__prompt", prompt)

    def build(row: dict[str, Any]) -> LLMRequest | None:
        if not row["__need_brand"]:
            return None
        return LLMRequest(
            messages=[
                {"role": "system", "content": BRAND_SYSTEM_PROMPT},
                {"role": "user", "content": row["__prompt"]},
            ],
            model="brand",
            temperature=0.3,
            max_tokens=256,
            response_format="json_object",
        )

    out = llm_map(flagged, build, "__brand_json", client_factory)
    parsed = F.from_json(
        F.col("__brand_json"),
        "english_samples array<string>, russian_samples array<string>",
    )
    return (
        out.withColumn(
            en_col,
            F.when(
                F.col("__need_brand"),
                F.array_join(F.coalesce(parsed["english_samples"], F.array()), ", "),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            ru_col,
            F.when(
                F.col("__need_brand"),
                F.array_join(F.coalesce(parsed["russian_samples"], F.array()), ", "),
            ).otherwise(F.lit("")),
        )
        .drop("__need_brand", "__prompt", "__brand_json")
    )


def correct_rows(
    df: DataFrame,
    client_factory: ClientFactory,
    gate: Column | None = None,
) -> DataFrame:
    """L4: whole-row JSON -> model -> corrected {col: value} replaces the
    row (``gpt.py:344-381,451-460``). Config-gated in the pipeline."""
    cols = df.columns
    need = gate if gate is not None else F.lit(True)
    flagged = df.withColumn("__need_corr", need).withColumn(
        "__row_json", F.to_json(F.struct(*[qcol(c).alias(c) for c in cols]))
    )

    def build(row: dict[str, Any]) -> LLMRequest | None:
        if not row["__need_corr"]:
            return None
        return LLMRequest(
            messages=[
                {"role": "system", "content": "Correct the row. Return JSON {corrected_row: {...}}."},
                {"role": "user", "content": row["__row_json"]},
            ],
            model="correction",
            max_tokens=384,
            response_format="json_object",
        )

    out = llm_map(flagged, build, "__corr_json", client_factory)
    corrected = F.from_json(F.col("__corr_json"), "corrected_row map<string,string>")[
        "corrected_row"
    ]
    return out.select(
        *[
            F.when(
                F.col("__need_corr") & corrected.isNotNull(),
                # a model may return a PARTIAL corrected_row — keys it
                # omits must keep their original value, not become NULL
                F.coalesce(F.element_at(corrected, c), qcol(c).cast("string")),
            )
            .otherwise(qcol(c).cast("string"))
            .alias(c)
            for c in cols
        ]
    )


def enrich_table(
    df: DataFrame,
    brand_col: str,
    image_col: str,
    desc_col: str | None,
    client_factory: ClientFactory,
    correction: bool = False,
    excluded_col: str = "excluded",
) -> DataFrame:
    """The full ``process_table`` composition (``gpt.py:180-462``):

    1. exclusion predicate over the whole row -> ``Да``/``Нет`` flag;
       excluded rows skip every model call;
    2. OCR fill for empty-brand+image rows;
    3. brand-variant generation for rows with a (possibly OCR'd) brand;
    4. optional whole-row correction.
    """
    value_cols = df.columns
    excl = is_excluded_col(*value_cols)
    step = df.withColumn("__excl", excl)
    step = ocr_enrich(step, brand_col, image_col, client_factory, gate=~F.col("__excl"))
    step = brand_variants(
        step, brand_col, desc_col, client_factory, gate=~F.col("__excl")
    )
    step = step.withColumn(
        excluded_col, F.when(F.col("__excl"), F.lit("Да")).otherwise(F.lit("Нет"))
    ).drop("__excl")
    if correction:
        # Excluded rows skipped the loop before correction in the
        # reference (gpt.py:402-406) — keep them untouched here too.
        step = correct_rows(step, client_factory, gate=F.col(excluded_col) == "Нет")
    return step
