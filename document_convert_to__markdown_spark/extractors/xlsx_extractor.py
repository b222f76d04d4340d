# -*- coding: utf-8 -*-
"""From-scratch XLSX → markdown tables (stdlib only).

Follows the reference's Excel conventions (XLSX_CONFIG,
/root/reference/src/config.py:101-107): all sheets included, each sheet
introduced with the ``'\\n\\n## '`` separator + sheet name, tables in
markdown pipe format, formulas excluded (cached values only).
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from .bounded import Budget

S_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
PR_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_CELL_REF = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'B'→1, ... 'AA'→26."""
    idx = 0
    for ch in ref:
        idx = idx * 26 + (ord(ch) - 64)
    return idx - 1


def _shared_strings(zf: zipfile.ZipFile, budget: Budget) -> list[str]:
    try:
        data = budget.read(zf, "xl/sharedStrings.xml")
    except KeyError:
        return []
    try:
        root = ET.fromstring(data)
    except ET.ParseError:
        return []
    strings = []
    for si in root.findall(f"{S_NS}si"):
        strings.append("".join(t.text or "" for t in si.iter(f"{S_NS}t")))
    return strings


def _sheet_names(zf: zipfile.ZipFile,
                 budget: Budget) -> list[tuple[str, str]]:
    """[(sheet name, member path)] in workbook order."""
    try:
        wb = ET.fromstring(budget.read(zf, "xl/workbook.xml"))
    except (KeyError, ET.ParseError):
        return []
    rels: dict[str, str] = {}
    try:
        rel_root = ET.fromstring(
            budget.read(zf, "xl/_rels/workbook.xml.rels"))
        for rel in rel_root:
            rels[rel.get("Id", "")] = "xl/" + rel.get("Target", "").lstrip("/")
    except (KeyError, ET.ParseError):
        pass

    r_ns = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    sheets = []
    sheets_el = wb.find(f"{S_NS}sheets")
    if sheets_el is None:
        return []
    for i, sheet in enumerate(sheets_el.findall(f"{S_NS}sheet"), 1):
        name = sheet.get("name", f"Sheet{i}")
        rid = sheet.get(f"{r_ns}id", "")
        member = rels.get(rid, f"xl/worksheets/sheet{i}.xml")
        sheets.append((name, member))
    return sheets


def _cell_value(cell: ET.Element, shared: list[str]) -> str:
    ctype = cell.get("t", "n")
    v = cell.find(f"{S_NS}v")
    if ctype == "s":
        if v is not None and v.text is not None and v.text.isdigit():
            idx = int(v.text)
            if idx < len(shared):
                return shared[idx]
        return ""
    if ctype == "inlineStr":
        is_el = cell.find(f"{S_NS}is")
        if is_el is not None:
            return "".join(t.text or "" for t in is_el.iter(f"{S_NS}t"))
        return ""
    if v is None or v.text is None:
        return ""
    text = v.text
    # Trim float noise from integers stored as '3' vs '3.0'.
    if ctype == "n" and text.endswith(".0"):
        text = text[:-2]
    return text


def _sheet_rows(data: bytes, shared: list[str]) -> list[list[str]]:
    try:
        root = ET.fromstring(data)
    except ET.ParseError:
        return []
    rows: list[list[str]] = []
    sheet_data = root.find(f"{S_NS}sheetData")
    if sheet_data is None:
        return []
    for row in sheet_data.findall(f"{S_NS}row"):
        cells: list[str] = []
        for cell in row.findall(f"{S_NS}c"):
            ref = cell.get("r", "")
            m = _CELL_REF.match(ref)
            if m:
                col = _col_index(m.group(1))
                while len(cells) < col:
                    cells.append("")
            cells.append(_cell_value(cell, shared))
        rows.append(cells)
    return rows


def extract_xlsx(payload: bytes, doc_name: str) -> str:
    """XLSX bytes → markdown: '# {doc}' then '## {sheet}' pipe tables."""
    budget = Budget(payload)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        shared = _shared_strings(zf, budget)
        sheets = _sheet_names(zf, budget)

        markdown = f"# {doc_name}\n"
        for name, member in sheets:
            try:
                rows = _sheet_rows(budget.read(zf, member), shared)
            except KeyError:
                continue
            # XLSX_CONFIG['sheet_separator'] = '\n\n## ' (config.py:104)
            markdown += f"\n\n## {name}\n\n"
            if not rows:
                continue
            width = max(len(r) for r in rows)
            padded = [r + [""] * (width - len(r)) for r in rows]
            lines = ["| " + " | ".join(padded[0]) + " |",
                     "| " + " | ".join(["---"] * width) + " |"]
            for row in padded[1:]:
                lines.append("| " + " | ".join(row) + " |")
            markdown += "\n".join(lines) + "\n"
    return markdown
