"""Genuine .xlsx ingestion: the stdlib SpreadsheetML reader/writer
(sources/xlsx.py) and its integration with the distributed workbook
scan (sources/excel.py read_workbooks).

reference: glue_jobs/orders_etl.py:43-44,52-64 — pd.ExcelFile parse of
a real multi-sheet workbook with skip-bad-sheet semantics.
"""

from __future__ import annotations

import datetime as dt
import io
import os

import pandas as pd
import pytest
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
    parse_workbook_bytes,
    read_workbooks,
)
from lakehouse_ecommerce_etl_pipeline_spark.sources.xlsx import (
    read_xlsx_bytes,
    write_xlsx,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "orders_small.xlsx")

SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("total_amount", T.DoubleType()),
        T.StructField("order_timestamp", T.TimestampType()),
    ]
)


def _roundtrip(sheets: dict) -> dict:
    buf = io.BytesIO()
    write_xlsx(buf, sheets)
    return read_xlsx_bytes(buf.getvalue())


def test_roundtrip_types():
    ts = [pd.Timestamp("1992-01-01"), pd.Timestamp("1995-06-15 13:45:30")]
    pdf = pd.DataFrame(
        {
            "i": [1, 2],
            "f": [0.1, 123456.78],
            "s": ["x & <y>", "plain"],
            "b": [True, False],
            "t": ts,
        }
    )
    out = _roundtrip({"Sheet1": pdf})
    got = out["Sheet1"]
    assert list(got.columns) == list(pdf.columns)
    assert got["i"].tolist() == [1, 2]
    assert got["f"].tolist() == [0.1, 123456.78]  # repr round-trip, exact
    assert got["s"].tolist() == ["x & <y>", "plain"]
    assert got["b"].tolist() == [True, False]
    assert got["t"].tolist() == ts


def test_roundtrip_nulls_and_sheet_order():
    a = pd.DataFrame({"x": [1, None, 3]})
    b = pd.DataFrame({"y": ["only"]})
    out = _roundtrip({"zzz_first": a, "aaa_second": b})
    # workbook order preserved, not lexicographic
    assert list(out) == ["zzz_first", "aaa_second"]
    xs = out["zzz_first"]["x"].tolist()
    assert xs[0] == 1 and xs[2] == 3 and pd.isna(xs[1])


def test_date_cell_uses_style_not_magic():
    # a plain number column must NOT come back as datetime even when
    # its values fall in the serial-date range
    pdf = pd.DataFrame({"n": [45000, 45001]})
    got = _roundtrip({"s": pdf})["s"]
    assert got["n"].tolist() == [45000, 45001]


def test_committed_fixture_parses():
    with open(FIXTURE, "rb") as f:
        content = f.read()
    sheets = read_xlsx_bytes(content)
    assert list(sheets) == ["April", "notes"]
    april = sheets["April"]
    assert april["order_id"].tolist() == [101, 102, 103, 104]
    assert april["total_amount"].tolist() == [10.5, 0.1, 123456.78, 42.0]
    assert april["order_timestamp"][0] == pd.Timestamp("2025-04-01 09:30:00")
    # auto-detect dispatches on [Content_Types].xml
    assert set(parse_workbook_bytes(content)) == {"April", "notes"}


def test_read_workbooks_real_xlsx(spark, tmp_path):
    """The distributed scan parses genuine xlsx end-to-end and skips
    the sheet missing required columns (orders_etl.py:63-64)."""
    import shutil

    shutil.copy(FIXTURE, tmp_path / "orders_small.xlsx")
    out = read_workbooks(
        spark,
        str(tmp_path),
        SCHEMA,
        required_columns=["order_id", "user_id", "order_timestamp"],
    ).toPandas()
    assert sorted(out["order_id"].tolist()) == [101, 102, 103, 104]
    assert set(out["sheet_name"]) == {"April"}  # 'notes' sheet skipped
    assert out["order_timestamp"].notna().all()
    assert out["total_amount"].dtype == "float64"


def test_mixed_formats_in_one_directory(spark, tmp_path):
    """CSV-zip fake workbooks and real xlsx coexist under one scan
    root; the parser dispatches per file."""
    import shutil

    from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
        write_fake_workbook,
    )

    shutil.copy(FIXTURE, tmp_path / "real.xlsx")
    fake = pd.DataFrame(
        {
            "order_id": [201],
            "user_id": [1],
            "status": ["O"],
            "total_amount": [5.0],
            "order_timestamp": [pd.Timestamp("2025-05-01")],
        }
    )
    write_fake_workbook(str(tmp_path / "fake.bundle"), {"Sheet1": fake})
    out = read_workbooks(
        spark,
        str(tmp_path),
        SCHEMA,
        required_columns=["order_id", "user_id", "order_timestamp"],
    ).toPandas()
    assert sorted(out["order_id"].tolist()) == [101, 102, 103, 104, 201]


def test_rich_text_and_empty_sheet():
    # hand-built worksheet XML edge cases the writer never emits:
    # shared strings with rich-text runs, an empty sheet
    import zipfile

    buf = io.BytesIO()
    write_xlsx(buf, {"a": pd.DataFrame({"k": ["placeholder"]})})
    raw = buf.getvalue()
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        parts = {n: zf.read(n) for n in zf.namelist()}
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    parts["xl/worksheets/sheet1.xml"] = (
        f'<worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><r><t>ri</t></r><r><t>ch</t></r></is></c></row>'
        '<row r="2"><c r="A1" t="inlineStr"><is><t>v</t></is></c></row>'
        "</sheetData></worksheet>"
    ).encode()
    out_buf = io.BytesIO()
    with zipfile.ZipFile(out_buf, "w") as zf:
        for n, data in parts.items():
            zf.writestr(n, data)
    sheets = read_xlsx_bytes(out_buf.getvalue())
    assert sheets["a"].columns.tolist() == ["ri" + "ch"]
    assert sheets["a"].iloc[0, 0] == "v"


def test_date_with_time_of_day_roundtrips_to_microsecond():
    ts = pd.Timestamp("2024-02-29 23:59:59.123456")
    got = _roundtrip({"s": pd.DataFrame({"t": [ts]})})["s"]["t"][0]
    assert got == ts


def test_python_date_objects_become_midnight(tmp_path):
    pdf = pd.DataFrame({"d": [dt.date(1997, 7, 1)]})
    got = _roundtrip({"s": pdf})["s"]["d"][0]
    assert got == pd.Timestamp("1997-07-01 00:00:00")


def test_missing_values_roundtrip_as_empty_cells():
    # NaT, NaN, None and pd.NA are written as empty cells, not "nan"
    ts = pd.Timestamp("2025-04-01 09:30:00")
    pdf = pd.DataFrame(
        {
            "t": [ts, pd.NaT, ts],
            "f": [1.5, float("nan"), 2.5],
            "s": ["a", None, "c"],
            "n": pd.array([1, pd.NA, 3], dtype="Int64"),
        }
    )
    got = _roundtrip({"s": pdf})["s"]
    assert got["t"][0] == ts and got["t"][2] == ts
    assert got["f"][0] == 1.5 and got["f"][2] == 2.5
    assert got["s"][0] == "a" and got["s"][2] == "c"
    assert got["n"][0] == 1 and got["n"][2] == 3
    assert all(pd.isna(got[c][1]) for c in pdf.columns)
