"""Golden pipeline tests replicating the three reference input shapes
(FIXTURES.md §B) end-to-end with the mock model."""

from __future__ import annotations

import base64

from pyspark.sql import functions as F

from gov_data_pipeline_spark.util import qcol

from gov_data_pipeline_spark.country_pipelines import (
    BELARUS_BRAND,
    BELARUS_DESC,
    KAZ_BRAND,
    KAZ_DESC,
    KG_BRAND,
    KG_KEY,
    belarus_pipeline,
    kazakhstan_pipeline,
    kyrgyzstan_pipeline,
)
from gov_data_pipeline_spark.llm import MockLLMClient
from gov_data_pipeline_spark.sources.documents import (
    assemble_rows,
    extract_xlsx_images,
    images_to_df,
    xlsx_image_anchor_row,
)
from gov_data_pipeline_spark.sources.excel import read_excel


def _b64_uri(text: str) -> str:
    return "data:image/png;base64," + base64.b64encode(text.encode()).decode()


class TestBelarus:
    def test_full_flow(self, spark):
        # B1 shape: header row at idx 0, prolog row at idx 1, data from idx 2
        rows = [
            (0, BELARUS_BRAND, BELARUS_DESC, "Рег. номер"),
            (1, "prolog", "junk", "junk"),
            (2, "  BrandText  ", "товары А", "001"),
            (3, "", "товары Б", "002"),          # empty brand + image -> OCR
            (4, "Знак исключен", "товары В", "003"),  # excluded (word-boundary match)
        ]
        raw = spark.createDataFrame(rows, "row_idx long, c1 string, c2 string, c3 string")
        images = spark.createDataFrame(
            [(3, _b64_uri("OCR BRAND"))], "row_idx long, `Изображение` string"
        )
        out = belarus_pipeline(raw, images, MockLLMClient).orderBy(BELARUS_BRAND)
        got = {r[BELARUS_BRAND]: r for r in out.collect()}
        assert set(got) == {"BrandText", "OCR BRAND (RECOG)", "Знак исключен"}
        # trimmed + enriched
        r1 = got["BrandText"]
        assert r1["excluded"] == "Нет"
        assert r1["variants_en"].startswith("BRANDTEXT. DESCRIPTION:")
        # OCR path got variants from the recognized text
        r2 = got["OCR BRAND (RECOG)"]
        assert "OCR BRAND" in r2["variants_en"]
        # excluded row: flagged, no enrichment
        r3 = got["Знак исключен"]
        assert r3["excluded"] == "Да" and r3["variants_en"] == ""


class TestKazakhstan:
    def test_header_repair_and_nfkc(self, spark):
        brand_hdr = "Наименова\nние (вид, описание, изображение) объекта интеллектуальной собственности"
        rows = [
            (0, brand_hdr, "Наименование товаров, класс товаров по МКТУ или код товаров по ТН ВЭД"),
            (1, "prolog", "x"),
            (2, "Бренд Х", "товары"),  # NBSP -> NFKC space
        ]
        raw = spark.createDataFrame(rows, "row_idx long, c1 string, c2 string")
        out = kazakhstan_pipeline(raw, None, MockLLMClient).collect()
        assert len(out) == 1
        r = out[0]
        # split header word repaired, NBSP normalized to a plain space
        from gov_data_pipeline_spark.country_pipelines import KAZ_BRAND

        assert r[KAZ_BRAND] == "Бренд Х"
        assert r["excluded"] == "Нет"


class TestKyrgyzstan:
    def test_assemble_merge_and_regnum(self, spark):
        # B3 shape: dup/empty headers, ragged rows, continuations, Name: noise
        tables = [
            [KG_KEY, KG_BRAND, "Правообладате ль", "", KG_KEY],
            ["hdr2", "hdr2", "hdr2", "hdr2", "hdr2"],
            ["№ 0 123/ТЗ", "БрендКг", "Владелец"],          # ragged -> padded
            ["продолжение", "хвост бренда", "", "", ""],
            ["Name: шум", "x", "x", "x", "x"],
            ["0124 – ТЗ", "Другой", "Кто-то", "", ""],
        ]
        raw = assemble_rows(spark, tables, skip_rows=2)
        assert raw.columns[:3] == ["row_idx", KG_KEY, KG_BRAND]
        assert "Unnamed_1" in raw.columns and f"{KG_KEY}_1" in raw.columns
        out = kyrgyzstan_pipeline(raw, MockLLMClient).orderBy(qcol(KG_KEY)).collect()
        by_key = {r[KG_KEY]: r for r in out}
        # reg-num normalized and continuation merged (Name: row dropped)
        assert "0123/ТЗ продолжение" in by_key
        merged = by_key["0123/ТЗ продолжение"]
        assert merged[KG_BRAND] == "БрендКг хвост бренда"
        assert "0124-ТЗ" in by_key
        assert by_key["0124-ТЗ"]["Правообладатель"] == "Кто-то"


class TestSourcePlanShape:
    """A decoded document enters Spark as one local relation in one
    partition: no scan of it starts a Python worker, the image join
    broadcasts, the continuation-merge window needs no shuffle, and
    enrichment runs as one task per document."""

    @staticmethod
    def _assert_local_one_partition(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange") == plan.count("BroadcastExchange"), plan
        assert out.rdd.getNumPartitions() == 1
        return plan

    def test_kazakhstan_from_workbook(self, spark):
        from gov_data_pipeline_spark.sources.png_codec import solid_png
        from gov_data_pipeline_spark.sources.xlsx_zip import write_xlsx

        rows = [
            [KAZ_BRAND, KAZ_DESC, KG_KEY],
            ["prolog", "x", "x"],
            *[[f"Бренд {i}", "товары", f"{i:04d}"] for i in range(20)],
        ]
        wb = write_xlsx(rows, images=[(4, 3, 0, solid_png(2, 2, (1, 2, 3)))])
        images = images_to_df(spark, extract_xlsx_images(wb))
        out = kazakhstan_pipeline(read_excel(spark, wb), images, MockLLMClient)
        plan = self._assert_local_one_partition(out)
        assert "BroadcastHashJoin" in plan
        got = out.collect()
        assert len(got) == 20
        assert sum(r["Изображение"] != "" for r in got) == 1

    def test_kyrgyzstan_from_assembled_rows(self, spark):
        tables = [
            [KG_KEY, KG_BRAND, "Правообладате ль"],
            ["hdr2", "hdr2", "hdr2"],
            ["№ 0 123/ТЗ", "БрендКг", "Владелец"],
            ["продолжение", "хвост бренда", ""],
            ["0124 – ТЗ", "Другой", "Кто-то"],
        ]
        out = kyrgyzstan_pipeline(assemble_rows(spark, tables, skip_rows=2), MockLLMClient)
        self._assert_local_one_partition(out)
        assert sorted(r[KG_KEY] for r in out.collect()) == [
            "0123/ТЗ продолжение", "0124-ТЗ",
        ]


class TestAnchorMath:
    def test_row_offset_heuristic(self):
        # base.py:233-239: >10000 EMU hangs into the next row
        assert xlsx_image_anchor_row(10, 0, 2) == 8
        assert xlsx_image_anchor_row(10, 10001, 2) == 9
        assert xlsx_image_anchor_row(5, 9999, 5) == 0
