"""Excel source/sink (SURVEY T4, R4/R26).

Workbooks are a small-data driver-side format: the reference reads one
registry workbook per country per week (``handlers/base.py:150-180``).
Decoded rows enter Spark through ``documents.lift_rows``, as one
Arrow local relation in one partition; the sink collects to the driver.

Engine selection: pandas+openpyxl when importable (full xlsx feature
surface), otherwise the pure-stdlib SpreadsheetML codec
(``sources.xlsx_zip``) — so the source/sink work in THIS runtime, not
just behind a gate. Both paths produce identical all-strings frames
with the ingest-order ``row_idx`` pinned before any Spark shuffle.

Header-promotion note: ``skip_rows`` here mirrors the reference's
``read_options={"skip_rows": k}`` (``handlers/belarus.py:106-110``);
downstream header repair uses ``transforms.headers.promote_headers``.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession

from gov_data_pipeline_spark.sources.documents import lift_rows
from gov_data_pipeline_spark.util import qcol


def _excel_engine() -> str:
    """'openpyxl' when the full engine is importable, else 'stdlib'."""
    try:
        import openpyxl  # noqa: F401

        return "openpyxl"
    except ImportError:
        return "stdlib"


def read_excel(
    spark: SparkSession,
    source: str | bytes,
    skip_rows: int = 0,
    sheet: int = 0,
    idx_col: str = "row_idx",
) -> DataFrame:
    """Read a workbook (path or bytes) into a DataFrame with an explicit
    ingest-order ``row_idx`` — pinned before any Spark shuffle so
    order-dependent transforms (header promotion, continuation merge)
    stay correct. ``row_idx`` counts from the first kept row (after
    ``skip_rows``), matching ``extract_xlsx_images(skip_rows=...)`` so
    image attachment joins on the same key.
    """
    if isinstance(source, (bytes, bytearray)):
        data = bytes(source)
    else:
        with open(source, "rb") as fh:
            data = fh.read()

    if _excel_engine() == "openpyxl":  # pragma: no cover - not in runtime
        import pandas as pd

        pdf = pd.read_excel(
            io.BytesIO(data), sheet_name=sheet, skiprows=skip_rows,
            header=None, dtype=str,
        )
        rows = [
            [None if pd.isna(v) else str(v) for v in row]
            for row in pdf.itertuples(index=False)
        ]
    else:
        from gov_data_pipeline_spark.sources.xlsx_zip import read_xlsx_rows

        rows = read_xlsx_rows(data, sheet=sheet)[skip_rows:]

    width = max((len(r) for r in rows), default=0)
    if width == 0:
        raise ValueError("read_excel: empty sheet")
    # lift_rows pads ragged rows with nulls
    return lift_rows(
        spark, [[i, *r] for i, r in enumerate(rows)],
        [f"c{i}" for i in range(width)], idx_col,
    )


def write_excel(df: DataFrame, path_or_buf, max_rows: int = 1_048_576) -> None:
    """Collect-and-write sink (driver-side, as in ``main.py:38-47``).

    Guarded by Excel's own row limit — which the HEADER row counts
    against, so at most ``max_rows - 1`` data rows fit. This is for
    report-sized outputs, never for datasets — large results go to
    ``write_parquet``.
    """
    if _excel_engine() == "openpyxl":  # pragma: no cover - not in runtime
        pdf = df.limit(max_rows).toPandas()  # one job: collect + guard
        if len(pdf) > max_rows - 1:
            raise ValueError(
                f"write_excel: result exceeds the Excel sheet limit "
                f"({max_rows} rows including the header); use "
                f"write_parquet for datasets."
            )
        pdf.to_excel(path_or_buf, index=False)
        return
    from gov_data_pipeline_spark.sources.xlsx_zip import write_xlsx

    # Stringify SPARK-side: toPandas() upcasts nullable numeric columns
    # to float64, where nulls are NaN (stringifying to literal 'nan')
    # and integers grow a '.0' suffix. Spark's string cast keeps nulls
    # null and longs integral.
    sdf = df.select([qcol(c).cast("string").alias(c) for c in df.columns])
    pdf = sdf.limit(max_rows).toPandas()
    if len(pdf) > max_rows - 1:
        raise ValueError(
            f"write_excel: result exceeds the Excel sheet limit "
            f"({max_rows} rows including the header); use write_parquet "
            f"for datasets."
        )
    rows: list[list[str | None]] = [list(map(str, pdf.columns))]
    for tup in pdf.itertuples(index=False):
        rows.append([None if v is None else str(v) for v in tup])
    data = write_xlsx(rows)
    if isinstance(path_or_buf, (str, bytes)):
        with open(path_or_buf, "wb") as fh:
            fh.write(data)
    else:
        path_or_buf.write(data)
