"""Minimal stdlib ODS reader — no odfpy/pandas-ods engine needed.

An .ods file is a zip whose ``content.xml`` holds OpenDocument tables:
``<table:table>`` → ``<table:table-row>`` → ``<table:table-cell
office:value-type="float" office:value="1.5"><text:p>1.5</text:p>``.
Covers what the reference's ods_reader surfaces
(tablite/import_utils.py:371-421, itself pandas read_excel → object
array): floats, strings, booleans, dates, column-repeat runs.

Driver-side by design (spreadsheets are small-data); downstream work
is a distributed DataFrame.
"""

from __future__ import annotations

import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

_T = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_O = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_X = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def _cell_value(cell) -> str | None:
    vt = cell.get(f"{_O}value-type")
    if vt in ("float", "percentage", "currency"):
        return cell.get(f"{_O}value")
    if vt == "boolean":
        return cell.get(f"{_O}boolean-value")
    if vt == "date":
        return cell.get(f"{_O}date-value")
    if vt == "time":
        return cell.get(f"{_O}time-value")
    texts = [("".join(p.itertext())) for p in cell.findall(f"{_X}p")]
    return "\n".join(texts) if texts else None


_ODS_SHELL = """<?xml version="1.0" encoding="UTF-8"?>
<office:document-content
 xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
 xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
 xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"
 office:version="1.2">
<office:body><office:spreadsheet>
<table:table table:name="{name}">
{rows}
</table:table>
</office:spreadsheet></office:body></office:document-content>"""


def _ods_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def to_ods(df: DataFrame, path: str, *, sheet: str = "Sheet1",
           limit: int = 100_000) -> None:
    """Single-sheet ODS writer (tablite/export_utils.py:108-136
    analogue) — numbers/bools as typed cells, everything else as
    strings. Driver-side, capped with ``limit``."""
    collected = df.limit(limit).collect()

    def cell(v):
        if v is None:
            return "<table:table-cell/>"
        if isinstance(v, bool):
            b = "true" if v else "false"
            return (f'<table:table-cell office:value-type="boolean" '
                    f'office:boolean-value="{b}"><text:p>{b}</text:p>'
                    f"</table:table-cell>")
        if isinstance(v, (int, float)):
            return (f'<table:table-cell office:value-type="float" '
                    f'office:value="{v}"><text:p>{v}</text:p>'
                    f"</table:table-cell>")
        t = _ods_escape(str(v))
        return (f'<table:table-cell office:value-type="string">'
                f"<text:p>{t}</text:p></table:table-cell>")

    def row_xml(vals):
        return ("<table:table-row>" + "".join(cell(v) for v in vals)
                + "</table:table-row>")

    body = [row_xml(df.columns)] + [row_xml(tuple(r)) for r in collected]
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("mimetype",
                    "application/vnd.oasis.opendocument.spreadsheet")
        zf.writestr("content.xml", _ODS_SHELL.format(
            name=_ods_escape(sheet), rows="\n".join(body)))


def read_ods(spark: SparkSession, path: str, *,
             sheet: str | None = None,
             first_row_has_headers: bool = True,
             header_row_index: int = 0,
             columns: list[str] | None = None,
             start: int = 0, limit: int | None = None,
             guess_datatypes: bool = True) -> DataFrame:
    """Reference signature parity with the xlsx reader (sheet
    selection, header row, column subset, start/limit window)."""
    from tablite_spark.sources.io import _grid_frame

    with zipfile.ZipFile(path) as zf:
        root = ET.fromstring(zf.read("content.xml"))
    tables = {t.get(f"{_T}name"): t for t in root.iter(f"{_T}table")}
    if not tables:
        raise ValueError("no tables in ods file")
    if sheet is None:
        sheet = next(iter(tables))
    if sheet not in tables:
        raise ValueError(f"sheet not found: {sheet}")

    grid: list[list] = []
    for row_el in tables[sheet].iter(f"{_T}table-row"):
        row: list = []
        for cell in row_el.findall(f"{_T}table-cell"):
            repeat = int(cell.get(f"{_T}number-columns-repeated", "1"))
            v = _cell_value(cell)
            # trailing fully-empty repeat runs pad to 16k cols — skip
            if v is None and repeat > 1000:
                continue
            row.extend([v] * repeat)
        while row and row[-1] is None:
            row.pop()
        grid.append(row)
    while grid and not grid[-1]:
        grid.pop()

    return _grid_frame(spark, grid,
                       first_row_has_headers=first_row_has_headers,
                       header_row_index=header_row_index,
                       columns=columns, start=start, limit=limit,
                       guess_datatypes=guess_datatypes)
