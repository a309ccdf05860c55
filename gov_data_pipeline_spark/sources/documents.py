"""Document ingestion (SURVEY R4-R8, R18): Excel/DOCX/PDF -> rows.

Split by dependency surface:

- **bytes -> tables** needs codec libraries (openpyxl / python-docx /
  pdfplumber) that are NOT in this runtime — those entry points are
  import-gated and raise ``NotImplementedError`` with a clear message
  (the reference used an external web service for PDF->DOCX,
  ``utils/pdf2docx.py``; this engine deliberately replaces that with a
  local parser — no third-party service in the data path);
- **tables -> DataFrame** is pure logic (ragged-row padding, header
  dedup, ingest-order row index) re-expressing
  ``handlers/kyrgyzstan.py:239-270``, fully testable here; every
  decoded table enters Spark through ``lift_rows`` as a one-partition
  Arrow local relation;
- **image attach** (R18/R19) is a row-index left join; the anchor
  row math (including the reference's ``rowOff > 10000 -> +1 row``
  heuristic and per-source ROW_OFFSET) lives in
  ``xlsx_image_anchor_row`` so it stays unit-testable without openpyxl.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gov_data_pipeline_spark.transforms.headers import dedup_column_names

_ZIP_MAGIC = b"PK\x03\x04"


def _require_magic(data: bytes, magic: bytes, fmt: str) -> None:
    """Unified corrupt-input contract for the byte->table codecs: every
    entry point raises ``ValueError`` naming the expected format, rather
    than leaking ``BadZipFile`` (zip codecs) or silently returning
    ``[]`` (the old pdf behavior) — a corrupt registry file should fail
    the ingest loudly, not vanish from the output."""
    if not data.startswith(magic):
        raise ValueError(
            f"{fmt}: corrupt or empty input (missing {magic!r} signature)"
        )

# Note on the reference's per-source ROW_OFFSET config (belarus.py:25
# = 2, kazakhstan.py:29 = 5, kyrgyzstan.py:87 = 0): those offsets exist
# because its image splice happens POSITIONALLY after header promotion.
# This engine joins images on the ingest-order row_idx instead (see
# extract_xlsx_images), which makes that bookkeeping vanish — there is
# deliberately no offset table here to "wire in".


def lift_rows(
    spark: SparkSession,
    rows: list,
    names: list[str],
    idx_col: str = "row_idx",
) -> DataFrame:
    """Lift decoded driver rows into Spark: each row is
    ``(row_idx, *cells)``, ``names`` names the string cells, and cells a
    short row lacks become null.

    The result is one Arrow local relation in one partition, the
    engine's counterpart of the reference's in-memory table per
    workbook. Arrow rows are not pickled, so no scan of it starts a
    Python worker, whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says. Its size is known to the planner, so it broadcasts into a
    join, and its single partition satisfies a global window or sort
    without an exchange. One partition is also the unit of enrichment:
    a document's model requests share one task's event loop.
    """
    width = len(names) + 1
    full = [list(r) + [None] * (width - len(r)) for r in rows]
    cols = list(zip(*full)) if full else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(cols[0], pa.int64())]
        + [pa.array(c, pa.string()) for c in cols[1:]],
        names=[idx_col, *names],
    )
    schema = StructType(
        [StructField(idx_col, LongType())]
        + [StructField(n, StringType()) for n in names]
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def assemble_rows(
    spark: SparkSession,
    rows: list[list[str | None]],
    skip_rows: int = 2,
    idx_col: str = "row_idx",
) -> DataFrame:
    """Pure re-expression of the reference's table assembly
    (``handlers/kyrgyzstan.py:249-270``): pad ragged rows to the max
    width with ``""``, promote row 0 to deduped column names, drop the
    first ``skip_rows`` rows, attach the ingest-order index.

    A document table is small (one registry file), so it is lifted
    whole by ``lift_rows`` as one local relation in one partition;
    massive file sets ingest per-file, each file calling this on its
    own document.
    """
    if not rows:
        raise ValueError("assemble_rows: empty input")
    max_len = max(len(r) for r in rows)
    padded = [list(r) + [""] * (max_len - len(r)) for r in rows]
    names = dedup_column_names(
        [str(c) if c is not None else "" for c in padded[0]]
    )
    data = [
        [i, *[str(c) if c is not None else "" for c in r]]
        for i, r in enumerate(padded)
    ]
    df = lift_rows(spark, data, names, idx_col)
    return df.filter(F.col(idx_col) >= skip_rows)


def xlsx_image_anchor_row(anchor_row: int, row_off_emu: int, source_offset: int) -> int:
    """Map an xlsx image anchor to the promoted-DataFrame row index.

    Reference math (``handlers/base.py:233-239``): anchors hanging more
    than 10000 EMU below the cell top count as the next row; then the
    per-source header offset is subtracted.
    """
    row = anchor_row + (1 if row_off_emu > 10000 else 0)
    return row - source_offset


def extract_xlsx_images(
    workbook_bytes: bytes, skip_rows: int = 0, sheet: int = 0
) -> list[tuple[int, str]]:
    """R18 extraction loop (reference ``handlers/base.py:221-249``):
    embedded workbook images -> ``[(row_idx, data_uri)]``.

    ``skip_rows`` must equal the read-time skip used when the SAME
    workbook was ingested (``sources.excel.read_excel(skip_rows=...)``)
    so the returned indexes join on the ingest-order ``row_idx`` —
    ``promote_headers`` preserves that column, which is why no separate
    per-source ROW_OFFSET is needed here (the reference re-derives its
    offset per country because its image splice happens positionally
    *after* promotion; a key join makes that bookkeeping vanish).

    Pure stdlib: anchors come from the xlsx zip's ``xl/drawings`` parts
    (``sources.xlsx_zip``) — no openpyxl in this runtime. Multiple
    images anchored to one row are space-joined, as in the reference.
    """
    from gov_data_pipeline_spark.sources.png_codec import image_to_data_uri
    from gov_data_pipeline_spark.sources.xlsx_zip import iter_xlsx_images

    _require_magic(workbook_bytes, _ZIP_MAGIC, "xlsx")
    by_row: dict[int, list[str]] = {}
    for img in iter_xlsx_images(workbook_bytes, sheet=sheet):
        row_idx = xlsx_image_anchor_row(img.row, img.row_off_emu, skip_rows)
        uri = image_to_data_uri(img.data)
        if uri:
            by_row.setdefault(row_idx, []).append(uri)
    return sorted((r, " ".join(uris).strip()) for r, uris in by_row.items())


def images_to_df(
    spark: SparkSession,
    images: list[tuple[int, str]],
    idx_col: str = "row_idx",
    image_col: str = "Изображение",
) -> DataFrame:
    """Lift ``extract_xlsx_images`` output into the join input of
    ``attach_images`` (``lift_rows``, so the join broadcasts it).
    Empty extraction -> empty two-column frame."""
    return lift_rows(spark, images, [image_col], idx_col)


def attach_images(
    df: DataFrame,
    images: DataFrame,
    idx_col: str = "row_idx",
    image_col: str = "Изображение",
) -> DataFrame:
    """R18/R19: left-join the (row_idx, image) table onto the data by
    row index; rows without an image get ''. This replaces the
    reference's positional column splice (``handlers/base.py:256-272``)
    with a join that survives distribution."""
    imgs = images.select(
        F.col(idx_col), F.col(image_col)
    )
    return df.join(imgs, idx_col, "left").withColumn(
        image_col, F.coalesce(F.col(image_col), F.lit(""))
    )


def docx_tables(docx_bytes: bytes) -> list[list[list[str]]]:
    """R7: DOCX -> list of tables (rows of stripped cell strings),
    matching the reference's python-docx walk
    (``handlers/kyrgyzstan.py:239-247``). Uses python-docx when
    importable; otherwise the stdlib OOXML parser
    (``sources.docx_zip``), which replicates python-docx's text and
    merged-cell semantics."""
    _require_magic(docx_bytes, _ZIP_MAGIC, "docx")
    try:
        import docx
    except ImportError:
        from gov_data_pipeline_spark.sources.docx_zip import read_docx_tables

        return read_docx_tables(docx_bytes)
    from io import BytesIO  # pragma: no cover - python-docx absent here

    document = docx.Document(BytesIO(docx_bytes))
    return [
        [[cell.text.strip() for cell in row.cells] for row in table.rows]
        for table in document.tables
    ]


def pdf_tables(pdf_bytes: bytes) -> list[list[list[str]]]:
    """R6 (re-designed): PDF -> tables with a *local* parser instead of
    the reference's external pdf2docx web service
    (``utils/pdf2docx.py:54-212`` — a remote dependency this engine
    deliberately removes from the data path).

    pdfplumber is preferred when importable (real layout analysis);
    otherwise the stdlib extractor (``sources.pdf_text``) handles the
    simple text-PDF profile — Flate/plain streams, positioned Tj/TJ
    runs clustered into a grid. Scanned or CID-font PDFs need the
    library path; the profile limits are documented in
    ``pdf_text``'s module docstring, not hidden.
    """
    # The PDF spec allows junk before the header: parsers accept
    # '%PDF-' anywhere in the first 1024 bytes, so the corrupt-input
    # guard must too (a strict prefix check would reject valid files
    # the pdfplumber path previously parsed).
    if b"%PDF-" not in pdf_bytes[:1024]:
        raise ValueError(
            "pdf: corrupt or empty input (missing b'%PDF-' signature "
            "in the first 1024 bytes)"
        )
    try:
        import pdfplumber
    except ImportError:
        from gov_data_pipeline_spark.sources.pdf_text import pdf_table

        table = pdf_table(pdf_bytes)
        return [table] if table else []
    from io import BytesIO  # pragma: no cover - pdfplumber absent here

    with pdfplumber.open(BytesIO(pdf_bytes)) as pdf:
        out = []
        for page in pdf.pages:
            for table in page.extract_tables():
                out.append(
                    [[(c or "").strip() for c in row] for row in table]
                )
        return out
