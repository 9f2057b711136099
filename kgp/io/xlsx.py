"""S8 — Excel (.xlsx) dictionary scan, stdlib-only (SURVEY.md §2.1).

The reference loads its ICD-10 entity dictionary with
``pd.read_excel(...)`` and renames the two columns to
``(icd_code, entity_name)`` (Entity_Linking prepare_el_index.py:63-69).
This container has no openpyxl, but .xlsx is just a ZIP of XML parts —
a bounded, documented subset (one worksheet, shared/inline strings,
numbers) is parsed here with ``zipfile`` + ``xml.etree`` only.

Spark-side plumbing: files load through the ``binaryFile`` source and
parse inside ``mapInPandas`` (one Python pass per FILE, not per row), so
a directory of workbook shards distributes one file per task — the right
unit, since a zip member cannot be split. Dictionary-sized inputs (the
reference's use) are a single small file; the distributed path matters
when someone points it at a directory of thousands of exported sheets.

:func:`write_xlsx` exists so fixtures can be generated without any
external library; it emits the sharedStrings layout real producers use.
"""

from __future__ import annotations

import io
import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SSML = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _q(tag: str) -> str:
    return f"{{{_SSML}}}{tag}"


# ---------------------------------------------------------------------------
# writer (fixture generation)
# ---------------------------------------------------------------------------

_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""


def _col_letter(idx: int) -> str:
    s = ""
    idx += 1
    while idx:
        idx, r = divmod(idx - 1, 26)
        s = chr(ord("A") + r) + s
    return s


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _sheet_xml(all_rows: list[list], strings: dict[str, int]) -> str:
    body = []
    for ri, row in enumerate(all_rows, start=1):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{_col_letter(ci)}{ri}"
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                sid = strings.setdefault(str(v), len(strings))
                cells.append(f'<c r="{ref}" t="s"><v>{sid}</v></c>')
        body.append(f'<row r="{ri}">{"".join(cells)}</row>')
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_SSML}"><sheetData>{"".join(body)}</sheetData></worksheet>'
    )


def write_xlsx(
    path: str,
    rows: list[list],
    header: list[str] | None = None,
    sheet_member: str = "xl/worksheets/sheet1.xml",
    decoy: tuple[str, list[list]] | None = None,
) -> None:
    """Write rows (str or numeric cells) as the workbook's FIRST sheet.
    Strings go through sharedStrings (deduplicated), numbers inline.

    ``sheet_member`` stores the first sheet under a non-default part
    name (exporters that deleted/reordered sheets do this — e.g. the
    first sheet living in ``sheet3.xml``); ``decoy`` adds a SECOND sheet
    ``(member, rows)`` whose part name may sort lexicographically before
    the real one, so a reader that ignores the workbook rels and grabs
    the first ``xl/worksheets/*`` member parses the wrong sheet."""
    all_rows = ([header] if header else []) + [list(r) for r in rows]
    strings: dict[str, int] = {}
    sheet = _sheet_xml(all_rows, strings)
    members = [(sheet_member, sheet)]
    sheets_xml = [f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/>']
    rels_xml = [
        f'<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="{sheet_member[3:]}"/>'
    ]
    if decoy is not None:
        d_member, d_rows = decoy
        members.append((d_member, _sheet_xml([list(r) for r in d_rows], strings)))
        sheets_xml.append('<sheet name="Decoy" sheetId="2" r:id="rId3"/>')
        rels_xml.append(
            f'<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="{d_member[3:]}"/>'
        )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_SSML}" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets>{"".join(sheets_xml)}</sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(rels_xml)
        + '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    overrides = "".join(
        f'<Override PartName="/{m}" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for m, _ in members
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + overrides
        + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    sst_items = "".join(
        f"<si><t>{_esc(s)}</t></si>"
        for s, _ in sorted(strings.items(), key=lambda kv: kv[1])
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_SSML}" count="{len(strings)}" uniqueCount="{len(strings)}">{sst_items}</sst>'
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        # fixed timestamps: byte-stable fixtures across runs. Decoy members
        # are written BEFORE the real sheet so a zip-order-based reader
        # fails too, not just a lexicographic one.
        parts = [
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", _RELS),
            ("xl/workbook.xml", workbook),
            ("xl/_rels/workbook.xml.rels", wb_rels),
            *[(m, s) for m, s in reversed(members)],
            ("xl/sharedStrings.xml", sst),
        ]
        for name, data in parts:
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, data)


# ---------------------------------------------------------------------------
# parser + Spark reader
# ---------------------------------------------------------------------------

_CELL_RE = re.compile(r"([A-Z]+)(\d+)")


def _first_sheet_member(z: zipfile.ZipFile) -> str:
    """Zip member name of the workbook's FIRST sheet (workbook.xml order).

    Resolves sheet 1's r:id through xl/_rels/workbook.xml.rels to its
    target part — exporters that deleted/reordered sheets may store the
    first sheet as e.g. sheet3.xml. Falls back to the lexicographically
    first xl/worksheets/*.xml member when the rels are absent/odd."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rid_attr = (
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        targets = {
            r.get("Id"): r.get("Target")
            for r in rels.iter(
                "{http://schemas.openxmlformats.org/package/2006/relationships}Relationship"
            )
        }
        for sh in wb.iter(_q("sheet")):
            target = targets.get(sh.get(rid_attr))
            if target:
                target = target.lstrip("/")
                return target if target.startswith("xl/") else f"xl/{target}"
    except (KeyError, ET.ParseError):
        pass
    members = sorted(
        n for n in z.namelist() if n.startswith("xl/worksheets/") and n.endswith(".xml")
    )
    if not members:
        raise KeyError("no xl/worksheets/*.xml member in workbook")
    return members[0]


def parse_xlsx_bytes(content: bytes, sheet: str | None = None) -> list[list[str]]:
    """First-worksheet cell grid as strings (missing cells -> '').
    Handles shared strings (t="s"), inline strings (t="inlineStr"/"str")
    and plain numeric <v> cells. The first sheet is resolved via the
    workbook rels (see :func:`_first_sheet_member`); pass ``sheet`` to
    force a specific ``xl/worksheets/<sheet>.xml`` part."""
    z = zipfile.ZipFile(io.BytesIO(content))
    shared: list[str] = []
    try:
        sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
        for si in sst.iter(_q("si")):
            shared.append("".join(t.text or "" for t in si.iter(_q("t"))))
    except KeyError:
        pass
    member = f"xl/worksheets/{sheet}.xml" if sheet else _first_sheet_member(z)
    ws = ET.fromstring(z.read(member))
    rows: list[list[str]] = []
    for row in ws.iter(_q("row")):
        cells: dict[int, str] = {}
        for ci, c in enumerate(row.iter(_q("c"))):
            ref = c.get("r")
            if ref:
                letters = _CELL_RE.match(ref).group(1)
                col = 0
                for ch in letters:
                    col = col * 26 + (ord(ch) - ord("A") + 1)
                col -= 1
            else:
                col = ci
            t = c.get("t")
            if t == "inlineStr":
                val = "".join(x.text or "" for x in c.iter(_q("t")))
            else:
                v = c.find(_q("v"))
                val = v.text or "" if v is not None else ""
                if t == "s":
                    val = shared[int(val)]
            cells[col] = val
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i, "") for i in range(width)])
    return rows


def read_xlsx(spark: SparkSession, path: str) -> DataFrame:
    """-> (file, row_idx, cells array<string>): every sheet-1 row of every
    workbook under ``path``. binaryFile scan -> one parse per file inside
    mapInPandas (files are the parallel unit; a workbook is not
    splittable)."""
    import pandas as pd

    bin_df = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches):
        for pdf in batches:
            out = {"file": [], "row_idx": [], "cells": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                for i, cells in enumerate(parse_xlsx_bytes(bytes(content))):
                    out["file"].append(p)
                    out["row_idx"].append(i)
                    out["cells"].append(cells)
            if out["file"]:  # an empty frame's float64 columns fail Arrow's array<string>
                yield pd.DataFrame(out)

    return bin_df.mapInPandas(parse, schema="file string, row_idx long, cells array<string>")


def read_excel_dict(spark: SparkSession, path: str) -> DataFrame:
    """S8: the reference's dictionary load — first sheet, first row is the
    header, two columns renamed (icd_code, entity_name)
    (prepare_el_index.py:63-69 ``pd.read_excel`` + ``.columns = [...]``)."""
    raw = read_xlsx(spark, path)
    return (
        raw.where(F.col("row_idx") > 0)
        .select(
            # ragged rows: a data row with fewer cells than the header gets
            # '' (pd.read_excel/CSV-twin behavior), not NULL. F.get (not
            # the [] index) tolerates short arrays under ANSI mode.
            F.coalesce(F.get("cells", 0), F.lit("")).alias("icd_code"),
            F.coalesce(F.get("cells", 1), F.lit("")).alias("entity_name"),
        )
    )
