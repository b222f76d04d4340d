# -*- coding: utf-8 -*-
"""EPUB → markdown — OCF container walk feeding the HTML extractor.

EPUB is in the reference's supported list (converter.py:772-787).  An
EPUB is a zip (OCF) of XHTML chapters plus an OPF manifest whose
<spine> fixes reading order.  This extractor resolves
META-INF/container.xml → OPF → spine → chapter hrefs, converts each
chapter through the same from-scratch HTML DOM pipeline the web pages
use (html_extractor.html_to_markdown — one conversion code path), and
joins chapters with blank lines.  Falls back to lexicographic member
order when the manifest is missing/unparseable.
"""

from __future__ import annotations

import io
import posixpath
import zipfile
from xml.etree import ElementTree

from .bounded import Budget
from .html_extractor import html_to_markdown

_CNS = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_ONS = "{http://www.idpf.org/2007/opf}"
_DC = "{http://purl.org/dc/elements/1.1/}"


def _spine_hrefs(zf: zipfile.ZipFile, budget: Budget) -> tuple:
    """(title, ordered chapter hrefs) from the OPF; ('', []) on failure."""
    try:
        container = ElementTree.fromstring(
            budget.read(zf, "META-INF/container.xml"))
        rootfile = container.find(
            f"{_CNS}rootfiles/{_CNS}rootfile").get("full-path")
        opf = ElementTree.fromstring(budget.read(zf, rootfile))
    except (KeyError, AttributeError, ElementTree.ParseError):
        return "", []

    base = posixpath.dirname(rootfile)
    title_el = opf.find(f"{_ONS}metadata/{_DC}title")
    title = (title_el.text or "").strip() if title_el is not None else ""

    manifest = {
        item.get("id"): item.get("href")
        for item in opf.findall(f"{_ONS}manifest/{_ONS}item")
    }
    hrefs = []
    for ref in opf.findall(f"{_ONS}spine/{_ONS}itemref"):
        href = manifest.get(ref.get("idref"))
        if href:
            hrefs.append(posixpath.join(base, href) if base else href)
    return title, hrefs


def extract_epub(payload: bytes, doc_name: str) -> str:
    budget = Budget(payload)
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        names = zf.namelist()
        title, hrefs = _spine_hrefs(zf, budget)
        if not hrefs:
            hrefs = sorted(n for n in names
                           if n.lower().endswith((".xhtml", ".html", ".htm")))

        parts = [f"# {title or doc_name}"]
        for href in hrefs:
            if href not in names:
                continue
            chapter_md = html_to_markdown(budget.read(zf, href))
            if chapter_md.strip():
                parts.append(chapter_md.strip())
    return "\n\n".join(parts)
