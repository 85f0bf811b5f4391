"""Minimal stdlib ``.xlsx`` reader/writer (zipfile + xml.etree).

reference: glue_jobs/orders_etl.py:43-44,52-64 parses genuine Excel
workbooks with ``pd.ExcelFile``; this runtime has no openpyxl, so the
engine carries its own reader for the SpreadsheetML subset the
reference actually exercises: multiple worksheets, a header row,
string / number / boolean / date cells. xlsx is a zip of XML parts
(ECMA-376): ``xl/workbook.xml`` names the sheets,
``xl/_rels/workbook.xml.rels`` maps them to worksheet parts,
``xl/sharedStrings.xml`` interns strings, ``xl/styles.xml`` carries
the number formats that distinguish dates from plain numbers
(serial-date convention: days since 1899-12-30).

Scale note: a workbook parses on whichever executor its bytes landed
(sources/excel.py mapInPandas) — this module is pure per-file CPU
work with no Spark coupling, so it adds nothing to the shuffle plan.
"""

from __future__ import annotations

import datetime as dt
import io
import re
import zipfile
from xml.etree import ElementTree as ET

import pandas as pd

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_NS_R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_NS_PKG_REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

# Built-in numFmtIds that render as dates/times (ECMA-376 §18.8.30).
_BUILTIN_DATE_FMTS = set(range(14, 23)) | set(range(45, 48))
# A custom format code is date-like iff it uses date/time tokens
# outside quoted literals/brackets ("General" and 0.00 are not).
_DATE_TOKEN_RE = re.compile(r"[ymdhs]", re.IGNORECASE)
_QUOTED_RE = re.compile(r'"[^"]*"|\[[^\]]*\]')

_EPOCH = dt.datetime(1899, 12, 30)


def _is_date_format(code: str) -> bool:
    return bool(_DATE_TOKEN_RE.search(_QUOTED_RE.sub("", code)))


def _date_styles(zf: zipfile.ZipFile) -> set[int]:
    """Indices into cellXfs whose number format is a date format."""
    try:
        root = ET.fromstring(zf.read("xl/styles.xml"))
    except KeyError:
        return set()
    custom_date = {
        int(nf.get("numFmtId")): _is_date_format(nf.get("formatCode", ""))
        for nf in root.iter(f"{_NS}numFmt")
    }
    out = set()
    cell_xfs = root.find(f"{_NS}cellXfs")
    if cell_xfs is None:
        return out
    for i, xf in enumerate(cell_xfs.findall(f"{_NS}xf")):
        fmt = int(xf.get("numFmtId", "0"))
        if fmt in _BUILTIN_DATE_FMTS or custom_date.get(fmt, False):
            out.add(i)
    return out


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    # an <si> may be plain <t> or rich-text runs <r><t>…</t></r>
    return ["".join(t.text or "" for t in si.iter(f"{_NS}t")) for si in root]


def _sheet_parts(zf: zipfile.ZipFile) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member_path)] in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_NS_PKG_REL}Relationship")
    }
    out = []
    for sheet in wb.iter(f"{_NS}sheet"):
        target = rid_to_target[sheet.get(f"{_NS_R}id")]
        if not target.startswith("/"):
            target = "xl/" + target
        out.append((sheet.get("name"), target.lstrip("/")))
    return out


def _col_index(ref: str) -> int:
    """'B7' → 1 (0-based column)."""
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return n - 1


def _serial_to_datetime(serial: float) -> dt.datetime:
    # round to whole microseconds: serials store time as a day
    # fraction, so exact instants land within float ulp of a µs
    return _EPOCH + dt.timedelta(microseconds=round(serial * 86_400_000_000))


def _cell_value(c: ET.Element, shared: list[str], date_styles: set[int]):
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(f"{_NS}is")
        return "".join(el.text or "" for el in is_el.iter(f"{_NS}t")) if is_el is not None else None
    v = c.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    raw = v.text
    if t == "s":
        return shared[int(raw)]
    if t == "str":  # cached formula result, already a string
        return raw
    if t == "b":
        return raw == "1"
    if t == "e":  # error cell (#DIV/0! etc.)
        return None
    num = float(raw)
    if int(c.get("s", "0")) in date_styles:
        return _serial_to_datetime(num)
    return int(num) if num.is_integer() and abs(num) < 2**53 else num


def _parse_sheet(
    zf: zipfile.ZipFile,
    member: str,
    shared: list[str],
    date_styles: set[int],
) -> pd.DataFrame:
    """One worksheet → DataFrame with row 1 as the header (the
    pd.read_excel default the reference relies on)."""
    rows: list[dict[int, object]] = []
    root = ET.fromstring(zf.read(member))
    for row in root.iter(f"{_NS}row"):
        cells = {}
        for pos, c in enumerate(row.findall(f"{_NS}c")):
            ref = c.get("r")
            idx = _col_index(ref) if ref else pos
            cells[idx] = _cell_value(c, shared, date_styles)
        rows.append(cells)
    if not rows:
        return pd.DataFrame()
    header_cells = rows[0]
    width = max(header_cells, default=-1) + 1
    names = [
        str(header_cells.get(i)) if header_cells.get(i) is not None else f"Unnamed: {i}"
        for i in range(width)
    ]
    data = {
        names[i]: [r.get(i) for r in rows[1:]] for i in range(width)
    }
    df = pd.DataFrame(data, columns=names)
    # mirror pandas' per-column dtype inference closely enough for the
    # downstream schema coercion: all-numeric → numeric dtype,
    # all-datetime → datetime64
    for col in df.columns:
        s = df[col]
        non_null = s.dropna()
        if len(non_null) and all(isinstance(x, dt.datetime) for x in non_null):
            df[col] = pd.to_datetime(s)
        elif len(non_null) and all(
            isinstance(x, (int, float)) and not isinstance(x, bool) for x in non_null
        ):
            df[col] = pd.to_numeric(s)
    return df


def read_xlsx_bytes(content: bytes) -> dict[str, pd.DataFrame]:
    """Parse a genuine ``.xlsx`` workbook: {sheet_name: DataFrame}."""
    with zipfile.ZipFile(io.BytesIO(content)) as zf:
        shared = _shared_strings(zf)
        date_styles = _date_styles(zf)
        return {
            name: _parse_sheet(zf, member, shared, date_styles)
            for name, member in _sheet_parts(zf)
        }


# --------------------------------------------------------------- writer

_CONTENT_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
{sheet_overrides}
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<fonts count="1"><font/></fonts>
<fills count="1"><fill/></fills>
<borders count="1"><border/></borders>
<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>
<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="22" applyNumberFormat="1"/></cellXfs>
</styleSheet>"""


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(ord("A") + rem) + s
    return s


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _cell_xml(ref: str, v) -> str:
    import numpy as np

    if isinstance(v, np.generic):  # np.int64 is not a python int
        v = v.item()
    if pd.isna(v):  # None, NaN, NaT, pd.NA: an empty cell
        return ""
    if isinstance(v, bool):
        return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
    if isinstance(v, (dt.datetime, pd.Timestamp)):
        v = pd.Timestamp(v).to_pydatetime()
        serial = (v - _EPOCH).total_seconds() / 86400.0
        return f'<c r="{ref}" s="1"><v>{serial!r}</v></c>'
    if isinstance(v, dt.date):
        serial = (dt.datetime.combine(v, dt.time()) - _EPOCH).days
        return f'<c r="{ref}" s="1"><v>{serial}</v></c>'
    if isinstance(v, (int, float)):
        return f'<c r="{ref}"><v>{v!r}</v></c>'
    return f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">{_xml_escape(str(v))}</t></is></c>'


def write_xlsx(path_or_buf, sheets: dict[str, pd.DataFrame]) -> None:
    """Write a genuine minimal ``.xlsx`` (inline strings, date-styled
    serials) that both this module's reader and any standard consumer
    (Excel / openpyxl / pd.read_excel) can open."""
    sheet_items = list(sheets.items())
    overrides = "\n".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.'
        'spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheet_items))
    )
    wb_sheets = "".join(
        f'<sheet name="{_xml_escape(name)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheet_items)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
            'relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheet_items))
        )
        + f'<Relationship Id="rId{len(sheet_items) + 1}" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships/styles" Target="styles.xml"/>'
        "</Relationships>"
    )

    def sheet_xml(pdf: pd.DataFrame) -> str:
        parts = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>']
        parts.append(
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
        )
        header = "".join(
            _cell_xml(f"{_col_letter(j)}1", str(c)) for j, c in enumerate(pdf.columns)
        )
        parts.append(f'<row r="1">{header}</row>')
        for i, (_, row) in enumerate(pdf.iterrows(), start=2):
            cells = "".join(
                _cell_xml(f"{_col_letter(j)}{i}", row[c])
                for j, c in enumerate(pdf.columns)
            )
            parts.append(f'<row r="{i}">{cells}</row>')
        parts.append("</sheetData></worksheet>")
        return "".join(parts)

    with zipfile.ZipFile(path_or_buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(
            "[Content_Types].xml", _CONTENT_TYPES.format(sheet_overrides=overrides)
        )
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/styles.xml", _STYLES)
        for i, (_, pdf) in enumerate(sheet_items):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(pdf))
