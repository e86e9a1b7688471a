"""Minimal stdlib xlsx reader/writer — no openpyxl in this container.

An .xlsx file is a zip of XML parts (ECMA-376 SpreadsheetML):
``xl/workbook.xml`` names the sheets, ``xl/sharedStrings.xml`` interns
strings, ``xl/worksheets/sheetN.xml`` holds ``<row><c r="A1" t="s">``
cells. This reader covers the value types tablite's excel_reader
surfaces (tablite/import_utils.py:180-368): shared/inline strings,
numbers, booleans, formula cached values. Date cells (style-indexed
number formats) come through as serial numbers — convert with
``excel_serial_to_timestamp``.

Driver-side by design (spreadsheets are small-data); the resulting
DataFrame is distributed for everything downstream.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _sheet_names(zf: zipfile.ZipFile) -> dict[str, str]:
    """sheet name → worksheet part path, in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_map = {
        r.get("Id"): r.get("Target")
        for r in rels.iter(
            "{http://schemas.openxmlformats.org/package/2006/relationships}"
            "Relationship")}
    out = {}
    for s in wb.iter(f"{_NS}sheet"):
        target = rel_map.get(s.get(f"{_REL_NS}id"), "")
        if target.startswith("/"):
            target = target[1:]
        elif not target.startswith("xl/"):
            target = f"xl/{target}"
        out[s.get("name")] = target
    return out


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    strings = []
    for si in root.iter(f"{_NS}si"):
        strings.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return strings


def read_xlsx(spark: SparkSession, path: str, *,
              sheet: str | None = None,
              first_row_has_headers: bool = True,
              header_row_index: int = 0,
              columns: list[str] | None = None,
              start: int = 0, limit: int | None = None,
              guess_datatypes: bool = True) -> DataFrame:
    """Reference signature parity (tablite/import_utils.py:180):
    sheet selection (default: first), header row index, column subset,
    start/limit row window."""
    from tablite_spark.sources.io import _grid_frame

    with zipfile.ZipFile(path) as zf:
        sheets = _sheet_names(zf)
        if sheet is None:
            sheet = next(iter(sheets))
        if sheet not in sheets:
            raise ValueError(f"sheet not found: {sheet}")
        strings = _shared_strings(zf)
        root = ET.fromstring(zf.read(sheets[sheet]))
        grid: list[list] = []
        for row_el in root.iter(f"{_NS}row"):
            row: list = []
            for c in row_el.iter(f"{_NS}c"):
                m = _CELL_REF.match(c.get("r", ""))
                ci = _col_index(m.group(1)) if m else len(row)
                while len(row) < ci:
                    row.append(None)
                t = c.get("t", "n")
                v_el = c.find(f"{_NS}v")
                if t == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    v = "".join(tt.text or "" for tt in is_el.iter(f"{_NS}t")) \
                        if is_el is not None else None
                elif v_el is None or v_el.text is None:
                    v = None
                elif t == "s":
                    v = strings[int(v_el.text)]
                elif t == "b":
                    v = v_el.text == "1"
                elif t in ("str", "e"):
                    v = v_el.text
                else:  # numeric
                    v = v_el.text
                row.append(v)
            grid.append(row)

    return _grid_frame(spark, grid,
                       first_row_has_headers=first_row_has_headers,
                       header_row_index=header_row_index,
                       columns=columns, start=start, limit=limit,
                       guess_datatypes=guess_datatypes)


def excel_serial_to_timestamp(col):
    """Excel stores dates as days since 1899-12-30 (with the fictional
    1900-02-29 already folded in for post-1900 dates)."""
    return F.timestamp_seconds(
        (col.cast("double") - F.lit(25569.0)) * 86400)  # 25569 = 1970-01-01


_XLSX_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
</Types>"""

_XLSX_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_XLSX_WB = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="{name}" sheetId="1" r:id="rId1"/></sheets></workbook>"""

_XLSX_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def to_xlsx(df: DataFrame, path: str, *, sheet: str = "Sheet1",
            limit: int = 100_000) -> None:
    """Single-sheet xlsx writer with inline strings (no sharedStrings
    part needed); numbers/bools written as native cell types
    (tablite/export_utils.py:108-136 analogue). Driver-side, capped."""
    rows = df.limit(limit).collect()
    lines = ["<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>",
             "<worksheet xmlns=\"http://schemas.openxmlformats.org/"
             "spreadsheetml/2006/main\"><sheetData>"]

    def cell(v):
        if v is None:
            return "<c/>"
        if isinstance(v, bool):
            return f"<c t=\"b\"><v>{int(v)}</v></c>"
        if isinstance(v, (int, float)):
            return f"<c><v>{v}</v></c>"
        return (f"<c t=\"inlineStr\"><is><t xml:space=\"preserve\">"
                f"{_xml_escape(str(v))}</t></is></c>")

    lines.append("<row>" + "".join(cell(c) for c in df.columns) + "</row>")
    for r in rows:
        lines.append("<row>" + "".join(cell(v) for v in r) + "</row>")
    lines.append("</sheetData></worksheet>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _XLSX_CT)
        zf.writestr("_rels/.rels", _XLSX_RELS)
        zf.writestr("xl/workbook.xml", _XLSX_WB.format(name=_xml_escape(sheet)))
        zf.writestr("xl/_rels/workbook.xml.rels", _XLSX_WB_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", "\n".join(lines))
