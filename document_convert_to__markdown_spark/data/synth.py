# -*- coding: utf-8 -*-
"""Deterministic Common-Crawl-style pages corpus (FIXTURES.md §1).

Every row is a pure function of ``(seed, i)`` — generation needs no
shared state, so at scale the corpus synthesizes *distributed*: a Spark
``spark.range(n)`` + ``mapInPandas`` fans row construction across
executors (see pipeline/corpus.py).  No wall-clock, no global PRNG:
golden hashes are stable across runs and machines.

Format mix per FIXTURES.md: 70% HTML, 15% PDF, 7% DOCX, 3.5% XLSX/PPTX
(split by doc parity), 1.5% legacy OLE2 doc/xls/ppt (split mod 3),
1% raw image (png/jpeg/gif) + 0.25% TIFF, 0.25% CSV + 0.25% TSV,
0.2% JSON, 0.15% XML, 0.15% WAV, 0.25% RTF, 0.25% MP3, 0.25% EPUB,
0.25% junk/empty.  One document per ``giant_every`` is a "giant"
(~100x median size) to exercise the salted skew routing.
"""

from __future__ import annotations

import io
import json
import random
import struct
import zipfile
import zlib
from datetime import datetime, timezone
from typing import NamedTuple, Optional

LANGS = ["en", "zh", "es", "de", "fr"]

_WORDS = {
    "en": ("data systems scale query engine table page crawl web text "
           "model training pipeline shuffle partition spark cluster row "
           "column document markdown extract content quality the and of "
           "for with from this that have will can are was been").split(),
    "zh": list("数据系统规模查询引擎表格页面网络文本模型训练管道分区集群文档内容质量提取转换处理分析结果方法流程示意诊疗指南"),
    "es": ("datos sistema escala consulta motor tabla crawl web texto "
           "modelo la el de para con desde este que tiene puede son").split(),
    "de": ("daten system skala abfrage maschine tabelle seite netz text "
           "der die das und von für mit aus diese dass haben kann sind").split(),
    "fr": ("données système échelle requête moteur table page toile texte "
           "le la de pour avec depuis cette que ont peut sont été").split(),
}

BASE_EPOCH = 1700000000  # deterministic crawl-timestamp base


class PageRow(NamedTuple):
    url: str
    warc_ts: datetime
    html: bytes
    text: str
    lang: str


# --- tiny valid image payloads -------------------------------------------

# zipfile.writestr(str, ...) stamps the CURRENT WALL CLOCK into each
# local file header, silently making every zip-based payload
# (DOCX/PPTX/XLSX/EPUB) byte-nondeterministic run-to-run — a violation
# of the synthesizer determinism invariant that extraction parity never
# noticed (markdown ignores zip timestamps) but any byte-level checksum
# over raw payloads exposes.  All zip writes go through this helper
# with the DOS-epoch timestamp instead.
_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)


def _zip_writestr(zf: "zipfile.ZipFile", name: str, data) -> None:
    info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
    info.compress_type = zf.compression
    info.external_attr = 0o600 << 16
    zf.writestr(info, data)


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def make_png(width: int, height: int, shade: int) -> bytes:
    """Small valid grayscale PNG."""
    raw = b"".join(
        b"\x00" + bytes([(shade + x + y) % 256 for x in range(width)])
        for y in range(height)
    )
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def make_jpeg(width: int, height: int) -> bytes:
    """Header-parseable JPEG (SOI + APP0 + SOF0 + minimal scan + EOI)."""
    sof = struct.pack(">BBHHB", 8, 0, 0, 0, 3)  # placeholder, rebuilt below
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes(
        [3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    return (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
            + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
            + b"\xff\xd9")


def make_gif(width: int, height: int) -> bytes:
    return (b"GIF89a" + struct.pack("<HH", width, height)
            + b"\x80\x00\x00" + b"\x00\x00\x00\xff\xff\xff"
            + b"\x3b")


# --- text helpers ----------------------------------------------------------

def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    words = _WORDS[lang]
    sep = "" if lang == "zh" else " "
    s = sep.join(rng.choice(words) for _ in range(n_words))
    return s + ("。" if lang == "zh" else ".")


def _paragraph(rng: random.Random, lang: str, n_sentences: int) -> str:
    return " ".join(_sentence(rng, lang, rng.randint(6, 18))
                    for _ in range(n_sentences))


# --- HTML ------------------------------------------------------------------

def make_html(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    n_sections = max(1, int(rng.randint(2, 6) * scale))
    parts = [
        "<!DOCTYPE html>",
        f'<html lang="{lang}"><head><title>doc{doc_idx}</title>',
        "<style>body{margin:0}</style>",
        '<script>var t=1;</script></head><body>',
        # Boilerplate blocks the extractor must strip:
        '<nav class="navbar"><ul>'
        + "".join(f'<li><a href="/p{k}">Link {k}</a></li>' for k in range(8))
        + "</ul></nav>",
        '<div class="cookie-banner">We use cookies. '
        '<a href="/accept">Accept</a> <a href="/reject">Reject</a></div>',
        '<div class="sidebar"><a href="/a">ad one</a> <a href="/b">ad two</a>'
        ' <a href="/c">more links</a> <a href="/d">again</a></div>',
        "<main>",
        f"<h1>Document {doc_idx} ({lang})</h1>",
    ]
    for s in range(n_sections):
        parts.append(f"<h2>Section {s + 1}</h2>")
        for _ in range(rng.randint(1, 4)):
            para = _paragraph(rng, lang, rng.randint(2, 5))
            if rng.random() < 0.3:
                para += f' <a href="https://ref{rng.randint(0, 99)}.example/x">{_sentence(rng, lang, 2)}</a>'
            if rng.random() < 0.2:
                para += f" <strong>{_sentence(rng, lang, 3)}</strong>"
            parts.append(f"<p>{para}</p>")
        roll = rng.random()
        if roll < 0.25:
            items = "".join(
                f"<li>{_sentence(rng, lang, rng.randint(3, 8))}</li>"
                for _ in range(rng.randint(2, 6))
            )
            parts.append(f"<ul>{items}</ul>")
        elif roll < 0.4:
            rows = "".join(
                "<tr>" + "".join(
                    f"<td>{_sentence(rng, lang, 2)}</td>" for _ in range(3)
                ) + "</tr>"
                for _ in range(rng.randint(2, 5))
            )
            parts.append(
                "<table><tr><th>col a</th><th>col b</th><th>col c</th></tr>"
                + rows + "</table>"
            )
        elif roll < 0.5:
            parts.append(
                "<pre><code>def f(x):\n    return x * "
                f"{rng.randint(2, 9)}\n</code></pre>"
            )
    parts.append("</main>")
    parts.append('<footer class="footer"><a href="/tos">Terms</a> '
                 '<a href="/privacy">Privacy</a> © site</footer>')
    parts.append("</body></html>")
    return "\n".join(parts).encode("utf-8")


# --- PDF ---------------------------------------------------------------------

def _pdf_escape(text: str) -> bytes:
    raw = text.encode("utf-8")
    return raw.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def make_pdf(rng: random.Random, lang: str, doc_idx: int, scale: float,
             image_only: bool = False) -> bytes:
    """Classic-xref PDF with Tj text lines, optional embedded images."""
    n_pages = max(1, int(rng.randint(1, 3) * scale))
    n_images = rng.randint(1, 3) if (image_only or rng.random() < 0.5) else 0

    objects: list[bytes] = []  # 1-based object bodies, index = objnum-1

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    image_nums: list[int] = []
    for k in range(n_images):
        img = make_png(rng.randint(4, 16), rng.randint(4, 16), rng.randint(0, 255))
        body = (b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8"
                b" /ColorSpace /DeviceRGB /BitsPerComponent 8 /Length "
                + str(len(img)).encode() + b" >>\nstream\n" + img + b"\nendstream")
        image_nums.append(add(body))

    page_content_nums: list[int] = []
    for p in range(n_pages):
        lines: list[bytes] = [b"BT /F1 12 Tf 72 720 Td 14 TL"]
        if image_only:
            n_lines = 0
        else:
            n_lines = max(2, int(rng.randint(4, 14) * scale))
        first = True
        for li in range(n_lines):
            if first:
                text = f"Page {p + 1} heading for doc {doc_idx}"
                first = False
            else:
                roll = rng.random()
                if lang == "zh" and roll < 0.2:
                    text = f"如图 {p + 1}-{li} 所示，" + _sentence(rng, "zh", 8)
                elif roll < 0.1:
                    text = f"Figure {li}: " + _sentence(rng, lang, 4)
                else:
                    text = _sentence(rng, lang, rng.randint(6, 14))
            lines.append(b"(" + _pdf_escape(text) + b") Tj T*")
        lines.append(b"ET")
        for img_num in image_nums:
            lines.append(b"q 100 0 0 100 72 400 cm /Im%d Do Q" % img_num)
        content = b"\n".join(lines)
        compressed = zlib.compress(content)
        body = (b"<< /Length " + str(len(compressed)).encode()
                + b" /Filter /FlateDecode >>\nstream\n" + compressed
                + b"\nendstream")
        page_content_nums.append(add(body))

    page_nums: list[int] = []
    pages_num_placeholder = len(objects) + n_pages + 1
    for p in range(n_pages):
        xobj = b""
        if image_nums:
            xobj = (b" /XObject << "
                    + b" ".join(b"/Im%d %d 0 R" % (n, n) for n in image_nums)
                    + b" >>")
        body = (b"<< /Type /Page /Parent " + str(pages_num_placeholder).encode()
                + b" 0 R /MediaBox [0 0 612 792] /Contents "
                + str(page_content_nums[p]).encode() + b" 0 R /Resources << /Font << /F1 "
                + str(font_num).encode() + b" 0 R >>" + xobj + b" >> >>")
        page_nums.append(add(body))

    pages_num = add(b"<< /Type /Pages /Kids ["
                    + b" ".join(b"%d 0 R" % n for n in page_nums)
                    + b"] /Count " + str(n_pages).encode() + b" >>")
    assert pages_num == pages_num_placeholder
    catalog_num = add(b"<< /Type /Catalog /Pages " + str(pages_num).encode() + b" 0 R >>")

    out = io.BytesIO()
    out.write(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0] * (len(objects) + 1)
    for i, body in enumerate(objects, 1):
        offsets[i] = out.tell()
        out.write(b"%d 0 obj\n" % i)
        out.write(body)
        out.write(b"\nendobj\n")
    xref_pos = out.tell()
    out.write(b"xref\n0 %d\n" % (len(objects) + 1))
    out.write(b"0000000000 65535 f \n")
    for i in range(1, len(objects) + 1):
        out.write(b"%010d 00000 n \n" % offsets[i])
    out.write(b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
              % (len(objects) + 1, catalog_num, xref_pos))
    return out.getvalue()


# --- DOCX --------------------------------------------------------------------

_CONTENT_TYPES = b"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Default Extension="png" ContentType="image/png"/>
<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
</Types>"""

_W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_A = "http://schemas.openxmlformats.org/drawingml/2006/main"
_R = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _docx_para(text: str, style: str = "", numbered: bool = False,
               bad_ilvl: bool = False) -> str:
    ppr = ""
    if style or numbered:
        num = ""
        if numbered:
            ilvl = '<w:ilvl w:val="abc"/>' if bad_ilvl else '<w:ilvl w:val="0"/>'
            num = f'<w:numPr>{ilvl}<w:numId w:val="1"/></w:numPr>'
        st = f'<w:pStyle w:val="{style}"/>' if style else ""
        ppr = f"<w:pPr>{st}{num}</w:pPr>"
    from xml.sax.saxutils import escape
    return f"<w:p>{ppr}<w:r><w:t>{escape(text)}</w:t></w:r></w:p>"


def make_docx(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    n_images = rng.randint(0, 2)
    malformed = rng.random() < 0.15

    body_parts = [_docx_para(f"Heading for doc {doc_idx}", style="Heading1")]
    for s in range(max(1, int(rng.randint(1, 4) * scale))):
        body_parts.append(_docx_para(f"Part {s + 1}", style="Heading2"))
        for _ in range(rng.randint(1, 4)):
            body_parts.append(_docx_para(_paragraph(rng, lang, rng.randint(1, 3))))
        if rng.random() < 0.3:
            for j in range(rng.randint(2, 4)):
                body_parts.append(
                    _docx_para(_sentence(rng, lang, 5), numbered=True,
                               bad_ilvl=malformed and j == 0)
                )
    if rng.random() < 0.3:
        rows = "".join(
            "<w:tr>" + "".join(
                f"<w:tc><w:p><w:r><w:t>c{r}{c}</w:t></w:r></w:p></w:tc>"
                for c in range(3)
            ) + "</w:tr>"
            for r in range(3)
        )
        body_parts.append(f"<w:tbl>{rows}</w:tbl>")

    rels_entries = []
    for k in range(1, n_images + 1):
        rels_entries.append(
            f'<Relationship Id="rIdImg{k}" '
            f'Type="{_R}/image" Target="media/image{k}.png"/>'
        )
        body_parts.append(
            f'<w:p><w:r><w:drawing><a:blip xmlns:a="{_A}" '
            f'xmlns:r="{_R}" r:embed="rIdImg{k}"/></w:drawing></w:r></w:p>'
        )

    document = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W}"><w:body>{"".join(body_parts)}</w:body></w:document>'
    )
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(rels_entries) + "</Relationships>"
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _zip_writestr(zf, "[Content_Types].xml", _CONTENT_TYPES)
        _zip_writestr(zf, "word/document.xml", document)
        _zip_writestr(zf, "word/_rels/document.xml.rels", rels)
        for k in range(1, n_images + 1):
            _zip_writestr(zf, f"word/media/image{k}.png",
                        make_png(rng.randint(4, 12), rng.randint(4, 12),
                                 rng.randint(0, 255)))
    return buf.getvalue()


# --- XLSX --------------------------------------------------------------------

_XLSX_CT = b"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
</Types>"""

_S = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_RNS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


# --- PPTX --------------------------------------------------------------------

_P = "http://schemas.openxmlformats.org/presentationml/2006/main"
_DA = "http://schemas.openxmlformats.org/drawingml/2006/main"

_PPTX_CT = b"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>
</Types>"""


def _pptx_shape(paragraphs: list, title: bool = False) -> str:
    ph = '<p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>' \
        if title else "<p:nvSpPr><p:nvPr/></p:nvSpPr>"
    paras = "".join(
        f'<a:p><a:r><a:t>{p}</a:t></a:r></a:p>' for p in paragraphs
    )
    return f"<p:sp>{ph}<p:txBody>{paras}</p:txBody></p:sp>"


def make_pptx(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """Minimal PresentationML deck: title + body shapes per slide."""
    n_slides = max(1, int(rng.randint(2, 5) * min(scale, 20.0)))
    n_images = rng.randint(0, 2)

    slides = []
    for s in range(1, n_slides + 1):
        shapes = [_pptx_shape([f"Slide {s} title for doc {doc_idx}"],
                              title=True)]
        body = [_sentence(rng, lang, rng.randint(4, 9))
                for _ in range(rng.randint(1, 4))]
        shapes.append(_pptx_shape(body))
        slides.append(
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:sld xmlns:p="{_P}" xmlns:a="{_DA}"><p:cSld><p:spTree>'
            f'{"".join(shapes)}</p:spTree></p:cSld></p:sld>'
        )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _zip_writestr(zf, "[Content_Types].xml", _PPTX_CT)
        _zip_writestr(zf, 
            "ppt/presentation.xml",
            f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<p:presentation xmlns:p="{_P}"/>',
        )
        for s, xml in enumerate(slides):
            _zip_writestr(zf, f"ppt/slides/slide{s + 1}.xml", xml)
        for k in range(1, n_images + 1):
            _zip_writestr(zf, f"ppt/media/image{k}.png",
                        make_png(rng.randint(4, 12), rng.randint(4, 12),
                                 rng.randint(0, 255)))
    return buf.getvalue()


def make_xlsx(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    n_sheets = rng.randint(1, 3)

    def cell_ref(col: int, row: int) -> str:
        letters = ""
        c = col
        while True:
            letters = chr(65 + c % 26) + letters
            c = c // 26 - 1
            if c < 0:
                break
        return f"{letters}{row}"

    sheets_xml = []
    for s in range(n_sheets):
        n_rows = max(2, int(rng.randint(3, 8) * scale))
        n_cols = rng.randint(2, 5)
        rows = []
        for r in range(1, n_rows + 1):
            cells = []
            for c in range(n_cols):
                ref = cell_ref(c, r)
                if r == 1:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>h{c}</t></is></c>'
                    )
                elif rng.random() < 0.5:
                    cells.append(f'<c r="{ref}"><v>{rng.randint(0, 9999)}</v></c>')
                else:
                    cells.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>v{r}{c}</t></is></c>'
                    )
            rows.append(f'<row r="{r}">{"".join(cells)}</row>')
        sheets_xml.append(
            f'<?xml version="1.0"?><worksheet xmlns="{_S}">'
            f'<sheetData>{"".join(rows)}</sheetData></worksheet>'
        )

    workbook = (
        f'<?xml version="1.0"?><workbook xmlns="{_S}" xmlns:r="{_RNS}"><sheets>'
        + "".join(
            f'<sheet name="Sheet{s + 1}" sheetId="{s + 1}" r:id="rId{s + 1}"/>'
            for s in range(n_sheets)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{s + 1}" Type="{_RNS}/worksheet" '
            f'Target="worksheets/sheet{s + 1}.xml"/>'
            for s in range(n_sheets)
        )
        + "</Relationships>"
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _zip_writestr(zf, "[Content_Types].xml", _XLSX_CT)
        _zip_writestr(zf, "xl/workbook.xml", workbook)
        _zip_writestr(zf, "xl/_rels/workbook.xml.rels", wb_rels)
        for s, xml in enumerate(sheets_xml):
            _zip_writestr(zf, f"xl/worksheets/sheet{s + 1}.xml", xml)
    return buf.getvalue()


# --- CSV / JSON ---------------------------------------------------------------

def make_csv(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    n_cols = rng.randint(2, 5)
    n_rows = max(2, int(rng.randint(4, 12) * min(scale, 50.0)))
    header = ",".join(f"col{c}" for c in range(n_cols))
    lines = [header]
    for r in range(n_rows):
        cells = []
        for c in range(n_cols):
            if rng.random() < 0.3:
                cells.append(str(rng.randint(0, 9999)))
            elif rng.random() < 0.1:
                # quoted field containing a comma (exercises csv parsing)
                cells.append(f'"{_sentence(rng, lang, 2)}, extra"')
            else:
                cells.append(rng.choice(_WORDS[lang]))
        lines.append(",".join(cells))
    return "\n".join(lines).encode("utf-8")


def make_json(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    def value(depth: int):
        roll = rng.random()
        if depth > 2 or roll < 0.4:
            return rng.choice(
                [rng.randint(0, 1000), _sentence(rng, lang, 3),
                 rng.random() < 0.5, None])
        if roll < 0.7:
            return {f"k{j}": value(depth + 1) for j in range(rng.randint(1, 4))}
        return [value(depth + 1) for _ in range(rng.randint(1, 5))]

    n_keys = max(2, int(rng.randint(2, 6) * min(scale, 20.0)))
    obj = {"doc": doc_idx, "lang": lang,
           **{f"field{j}": value(0) for j in range(n_keys)}}
    return json.dumps(obj, ensure_ascii=False).encode("utf-8")


# --- XML / WAV ----------------------------------------------------------------

def make_xml(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    def element(depth: int) -> str:
        tag = rng.choice(["item", "entry", "record", "node", "field"])
        if depth > 2 or rng.random() < 0.4:
            return f"<{tag}>{_sentence(rng, lang, rng.randint(2, 5))}</{tag}>"
        children = "".join(element(depth + 1)
                           for _ in range(rng.randint(1, 3)))
        return f"<{tag}>{children}</{tag}>"

    n_top = max(1, int(rng.randint(2, 5) * min(scale, 20.0)))
    body = "".join(element(0) for _ in range(n_top))
    return (f'<?xml version="1.0" encoding="UTF-8"?>'
            f'<doc id="{doc_idx}" lang="{lang}">{body}</doc>').encode("utf-8")


def make_wav(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    channels = rng.choice([1, 2])
    rate = rng.choice([8000, 16000, 44100])
    bits = 16
    n_frames = max(16, int(rng.randint(100, 2000) * min(scale, 50.0)))
    block = channels * bits // 8
    data = bytes(rng.getrandbits(8) for _ in range(min(n_frames * block, 65536)))
    n_frames = len(data) // block
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    riff_body = (b"WAVE"
                 + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                 + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def make_mp3(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """ID3v2 tag + valid MPEG1-Layer-III frame headers + payload bytes."""
    tag_body = b"TIT2" + struct.pack(">I", 10) + b"\x00\x00" + b"\x03title" + bytes(10)
    sz = len(tag_body)
    syncsafe = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                      (sz >> 7) & 0x7F, sz & 0x7F])
    id3 = b"ID3\x04\x00\x00" + syncsafe + tag_body
    # frame header: MPEG1 Layer III, 128kbps (idx 9), 44100Hz (idx 0)
    frame_hdr = bytes([0xFF, 0xFB, 0x90, 0x00])
    n_bytes = max(417, int(rng.randint(2, 40) * min(scale, 50.0)) * 417)
    body = frame_hdr + bytes(rng.getrandbits(8) for _ in range(min(n_bytes, 32768)))
    return id3 + body


# --- EPUB ---------------------------------------------------------------------

def make_epub(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """Minimal OCF/EPUB: mimetype + container.xml + OPF spine + chapters."""
    n_chapters = max(1, int(rng.randint(2, 4) * min(scale, 10.0)))
    chapters = []
    for c in range(1, n_chapters + 1):
        paras = "".join(
            f"<p>{_paragraph(rng, lang, rng.randint(1, 3))}</p>"
            for _ in range(rng.randint(1, 3))
        )
        chapters.append(
            f'<html><head><title>ch{c}</title></head><body>'
            f"<h1>Chapter {c}</h1>{paras}</body></html>"
        )

    manifest = "".join(
        f'<item id="c{c}" href="chapter{c}.xhtml"'
        f' media-type="application/xhtml+xml"/>'
        for c in range(1, n_chapters + 1)
    )
    spine = "".join(f'<itemref idref="c{c}"/>'
                    for c in range(1, n_chapters + 1))
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>Book {doc_idx}</dc:title></metadata>"
        f"<manifest>{manifest}</manifest><spine>{spine}</spine></package>"
    )
    container = (
        '<?xml version="1.0"?>'
        '<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container"'
        ' version="1.0"><rootfiles>'
        '<rootfile full-path="OEBPS/content.opf"'
        ' media-type="application/oebps-package+xml"/>'
        "</rootfiles></container>"
    )

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        _zip_writestr(zf, "mimetype", "application/epub+zip")
        _zip_writestr(zf, "META-INF/container.xml", container)
        _zip_writestr(zf, "OEBPS/content.opf", opf)
        for c, xhtml in enumerate(chapters, 1):
            _zip_writestr(zf, f"OEBPS/chapter{c}.xhtml", xhtml)
    return buf.getvalue()


# --- legacy OLE2 Office (.doc/.xls/.ppt) -------------------------------------

def _make_cfb(streams: list) -> bytes:
    """Minimal [MS-CFB] v3 writer: named regular streams, header DIFAT.

    Every stream is zero-padded to >= 4096 bytes (the mini-stream
    cutoff) with the padded size recorded, so no miniFAT is needed; the
    payload formats written here all tolerate trailing zero padding
    (FIB text bounds / zero-length BIFF records / zero PPT atoms).
    """
    sector = 512
    padded: list = []
    for name, data in streams:
        size = max(4096, (len(data) + sector - 1) // sector * sector)
        padded.append((name, data + b"\x00" * (size - len(data))))

    n_entries = 1 + len(padded)
    n_dir_sects = (n_entries * 128 + sector - 1) // sector
    n_stream_sects = sum(len(d) // sector for _, d in padded)
    # FAT sector count to fixed point.
    n_fat = 1
    while True:
        total = n_stream_sects + n_dir_sects + n_fat
        need = (total * 4 + sector - 1) // sector
        if need <= n_fat:
            break
        n_fat = need

    starts = []
    pos = 0
    for _, data in padded:
        starts.append(pos)
        pos += len(data) // sector
    dir_start = pos
    fat_start = dir_start + n_dir_sects
    total_sects = fat_start + n_fat

    fat = [0xFFFFFFFF] * (n_fat * sector // 4)
    for start, (_, data) in zip(starts, padded):
        n = len(data) // sector
        for k in range(n - 1):
            fat[start + k] = start + k + 1
        fat[start + n - 1] = 0xFFFFFFFE
    for k in range(n_dir_sects - 1):
        fat[dir_start + k] = dir_start + k + 1
    fat[dir_start + n_dir_sects - 1] = 0xFFFFFFFE
    for k in range(n_fat):
        fat[fat_start + k] = 0xFFFFFFFD

    def dir_entry(name: str, obj_type: int, start: int, size: int,
                  child: int = 0xFFFFFFFF, right: int = 0xFFFFFFFF) -> bytes:
        raw_name = name.encode("utf-16-le") + b"\x00\x00"
        e = raw_name + b"\x00" * (64 - len(raw_name))
        e += struct.pack("<HBB", len(raw_name), obj_type, 1)
        e += struct.pack("<III", 0xFFFFFFFF, right, child)  # left/right/child
        e += b"\x00" * 36  # clsid + state + timestamps
        e += struct.pack("<IQ", start, size)
        return e

    entries = [dir_entry("Root Entry", 5, 0xFFFFFFFE, 0,
                         child=1 if padded else 0xFFFFFFFF)]
    for k, (start, (name, data)) in enumerate(zip(starts, padded)):
        right = k + 2 if k + 1 < len(padded) else 0xFFFFFFFF
        entries.append(dir_entry(name, 2, start, len(data), right=right))
    dir_data = b"".join(entries)
    dir_data += b"\x00" * (n_dir_sects * sector - len(dir_data))

    difat = [fat_start + k for k in range(n_fat)]
    difat += [0xFFFFFFFF] * (109 - len(difat))
    header = (
        b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
        + struct.pack("<HHHHH", 0x003E, 0x0003, 0xFFFE, 9, 6)
        + b"\x00" * 6
        + struct.pack("<IIII", 0, n_fat, dir_start, 0)
        + struct.pack("<IIIII", 4096, 0xFFFFFFFE, 0, 0xFFFFFFFE, 0)
        + struct.pack("<109I", *difat)
    )
    assert len(header) == 512 and total_sects * 4 <= len(fat) * 4
    body = b"".join(d for _, d in padded) + dir_data
    body += struct.pack(f"<{len(fat)}I", *fat)
    return header + body


def make_doc(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """Word 97 binary: FIB + UTF-16 text + piece table in 1Table."""
    paras = [f"Legacy doc {doc_idx} heading"]
    for _ in range(max(1, int(rng.randint(2, 6) * min(scale, 30.0)))):
        paras.append(_paragraph(rng, lang, rng.randint(1, 3)))
    text = "\r".join(paras) + "\r"

    fib_len = 1472
    raw_text = text.encode("utf-16-le")
    word = bytearray(fib_len)
    struct.pack_into("<HH", word, 0, 0xA5EC, 0x00C1)
    struct.pack_into("<H", word, 10, 0x0200)  # fWhichTblStm → 1Table
    struct.pack_into("<II", word, 24, fib_len, fib_len + len(raw_text))

    n_chars = len(text)
    plc = struct.pack("<II", 0, n_chars)
    plc += struct.pack("<HIH", 0, fib_len, 0)  # PCD: fc bit30 clear → utf16
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<II", word, 0x01A2, 0, len(clx))  # fcClx=0, lcbClx
    return _make_cfb([("WordDocument", bytes(word) + raw_text),
                      ("1Table", clx)])


def _biff(opcode: int, body: bytes) -> bytes:
    return struct.pack("<HH", opcode, len(body)) + body


def _biff_str(s: str) -> bytes:
    raw = s.encode("utf-16-le")
    return struct.pack("<HB", len(s), 0x01) + raw


def make_xls(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """Excel 97 binary: BIFF8 Workbook with SST strings + cell records."""
    n_rows = max(2, int(rng.randint(3, 8) * min(scale, 40.0)))
    n_cols = rng.randint(2, 4)
    strings: list = [f"h{c}" for c in range(n_cols)]
    cells: list = [(0, c, "s", c) for c in range(n_cols)]
    for r in range(1, n_rows):
        for c in range(n_cols):
            if rng.random() < 0.5:
                cells.append((r, c, "n", float(rng.randint(0, 9999))))
            else:
                strings.append(_sentence(rng, lang, 2))
                cells.append((r, c, "s", len(strings) - 1))

    sst_body = struct.pack("<II", len(strings), len(strings))
    sst_body += b"".join(_biff_str(s) for s in strings)
    globals_sub = (
        _biff(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
        + _biff(0x0085, struct.pack("<IHBB", 0, 0, 6, 0x01)
                + f"Sheet{1}".encode("utf-16-le"))
        + _biff(0x00FC, sst_body)
        + _biff(0x000A, b"")
    )
    sheet_records = [
        _biff(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    ]
    for r, c, kind, v in cells:
        if kind == "s":
            sheet_records.append(
                _biff(0x00FD, struct.pack("<HHHI", r, c, 0, v)))
        else:
            sheet_records.append(
                _biff(0x0203, struct.pack("<HHH", r, c, 0)
                      + struct.pack("<d", v)))
    sheet_records.append(_biff(0x000A, b""))
    return _make_cfb([("Workbook", globals_sub + b"".join(sheet_records))])


def _ppt_atom(rec_type: int, body: bytes, container: bool = False) -> bytes:
    ver = 0x000F if container else 0x0000
    return struct.pack("<HHI", ver, rec_type, len(body)) + body


def make_ppt(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    """PowerPoint 97 binary: slide containers with text atoms."""
    n_slides = max(1, int(rng.randint(2, 5) * min(scale, 20.0)))
    slides = []
    for s in range(1, n_slides + 1):
        atoms = [_ppt_atom(0x0FA0,
                           f"Slide {s} title for doc {doc_idx}"
                           .encode("utf-16-le"))]
        for _ in range(rng.randint(1, 3)):
            text = _sentence(rng, lang, rng.randint(4, 9))
            if lang == "zh" or any(ord(ch) > 0xFF for ch in text):
                atoms.append(_ppt_atom(0x0FA0, text.encode("utf-16-le")))
            else:
                atoms.append(_ppt_atom(0x0FA8, text.encode("latin-1")))
        slides.append(_ppt_atom(0x03EE, b"".join(atoms), container=True))
    doc_stream = _ppt_atom(0x03E8, b"".join(slides), container=True)
    return _make_cfb([("PowerPoint Document", doc_stream)])


# --- RTF / TIFF / TSV ---------------------------------------------------------

def _rtf_escape(text: str) -> str:
    out = []
    for ch in text:
        cp = ord(ch)
        if ch in "\\{}":
            out.append("\\" + ch)
        elif cp > 127:
            # signed 16-bit \uN escape with a '?' fallback char
            n = cp if cp < 32768 else cp - 65536
            out.append(f"\\u{n}?")
        else:
            out.append(ch)
    return "".join(out)


def make_rtf(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    parts = [
        r"{\rtf1\ansi\ansicpg1252\deff0",
        r"{\fonttbl{\f0\fswiss Helvetica;}{\f1\froman Times;}}",
        r"{\colortbl;\red0\green0\blue0;\red255\green0\blue0;}",
        r"{\info{\title doc}{\author synth}}",
        r"\f0\fs24 ",
        _rtf_escape(f"RTF document {doc_idx}") + r"\par ",
    ]
    for _ in range(max(1, int(rng.randint(2, 6) * min(scale, 40.0)))):
        para = _paragraph(rng, lang, rng.randint(1, 3))
        if rng.random() < 0.3:
            para = r"{\b " + _rtf_escape(_sentence(rng, lang, 3)) + r"} " \
                + _rtf_escape(para)
        else:
            para = _rtf_escape(para)
        parts.append(para + r"\par ")
    parts.append("}")
    return "\n".join(parts).encode("ascii")


def make_tiff(rng: random.Random, width: int, height: int) -> bytes:
    """Little-endian baseline TIFF: one IFD, one uncompressed strip."""
    n_entries = 7
    ifd_off = 8
    data_off = ifd_off + 2 + n_entries * 12 + 4
    pixels = bytes((x + y) % 256 for y in range(height) for x in range(width))

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    ifd = struct.pack("<H", n_entries)
    ifd += entry(256, 3, 1, width)          # ImageWidth
    ifd += entry(257, 3, 1, height)         # ImageLength
    ifd += entry(258, 3, 1, 8)              # BitsPerSample
    ifd += entry(259, 3, 1, 1)              # Compression: none
    ifd += entry(262, 3, 1, 1)              # Photometric: BlackIsZero
    ifd += entry(273, 4, 1, data_off)       # StripOffsets
    ifd += entry(279, 4, 1, len(pixels))    # StripByteCounts
    ifd += struct.pack("<I", 0)             # next IFD: none
    return b"II*\x00" + struct.pack("<I", ifd_off) + ifd + pixels


def make_tsv(rng: random.Random, lang: str, doc_idx: int, scale: float) -> bytes:
    n_cols = rng.randint(2, 5)
    n_rows = max(2, int(rng.randint(4, 12) * min(scale, 50.0)))
    lines = ["\t".join(f"col{c}" for c in range(n_cols))]
    for _ in range(n_rows):
        cells = []
        for _c in range(n_cols):
            if rng.random() < 0.3:
                cells.append(str(rng.randint(0, 9999)))
            else:
                cells.append(rng.choice(_WORDS[lang]))
        lines.append("\t".join(cells))
    return "\n".join(lines).encode("utf-8")


# --- row synthesis ------------------------------------------------------------

def synth_page(i: int, seed: int = 42, giant_every: int = 10000,
               size_scale: float = 1.0) -> PageRow:
    """Row ``i`` of the corpus — pure function of ``(seed, i)``.

    ``size_scale`` multiplies every document's body size (default 1.0,
    ~3KB median — the fixture/test shape).  The scaling bench passes ~8
    for Common-Crawl-like ~25KB pages so per-task compute dominates
    per-task overhead; content is unchanged otherwise.
    """
    rng = random.Random((seed << 32) ^ i)
    lang = LANGS[i % len(LANGS)] if rng.random() < 0.6 else rng.choice(LANGS)

    # Long-tail size scale; every `giant_every`-th doc is a giant.
    scale = rng.lognormvariate(0.0, 0.6) * size_scale
    if giant_every and i > 0 and i % giant_every == 0:
        scale *= 100.0

    roll = rng.random()
    if roll < 0.70:
        fmt = "html"
        payload = make_html(rng, lang, i, scale)
    elif roll < 0.85:
        fmt = "pdf"
        payload = make_pdf(rng, lang, i, scale, image_only=rng.random() < 0.1)
    elif roll < 0.92:
        fmt = "docx"
        payload = make_docx(rng, lang, i, scale)
    elif roll < 0.955:
        # xlsx/pptx split by doc parity (no extra rng draw — per-doc rng
        # means this never perturbs other documents' payloads)
        if i % 2 == 0:
            fmt = "pptx"
            payload = make_pptx(rng, lang, i, scale)
        else:
            fmt = "xlsx"
            payload = make_xlsx(rng, lang, i, scale)
    elif roll < 0.97:
        # legacy OLE2 Office, split by doc index mod 3
        if i % 3 == 0:
            fmt = "doc"
            payload = make_doc(rng, lang, i, scale)
        elif i % 3 == 1:
            fmt = "xls"
            payload = make_xls(rng, lang, i, scale)
        else:
            fmt = "ppt"
            payload = make_ppt(rng, lang, i, scale)
    elif roll < 0.9775:
        fmt = "img"
        maker = rng.choice([make_png, make_jpeg, make_gif])
        if maker is make_png:
            payload = make_png(rng.randint(4, 32), rng.randint(4, 32),
                               rng.randint(0, 255))
        else:
            payload = maker(rng.randint(4, 32), rng.randint(4, 32))
    elif roll < 0.98:
        fmt = "tiff"
        payload = make_tiff(rng, rng.randint(4, 32), rng.randint(4, 32))
    elif roll < 0.9825:
        fmt = "csv"
        payload = make_csv(rng, lang, i, scale)
    elif roll < 0.985:
        fmt = "tsv"
        payload = make_tsv(rng, lang, i, scale)
    elif roll < 0.987:
        fmt = "json"
        payload = make_json(rng, lang, i, scale)
    elif roll < 0.9885:
        fmt = "xml"
        payload = make_xml(rng, lang, i, scale)
    elif roll < 0.99:
        fmt = "wav"
        payload = make_wav(rng, lang, i, scale)
    elif roll < 0.9925:
        fmt = "rtf"
        payload = make_rtf(rng, lang, i, scale)
    elif roll < 0.995:
        fmt = "mp3"
        payload = make_mp3(rng, lang, i, scale)
    elif roll < 0.9975:
        fmt = "epub"
        payload = make_epub(rng, lang, i, scale)
    else:
        fmt = "junk"
        kind = rng.random()
        if kind < 0.4:
            payload = b""
        elif kind < 0.7:
            payload = bytes(rng.getrandbits(8) for _ in range(rng.randint(3, 64)))
        else:
            payload = b"%PDF-1.4\ntruncated"[: rng.randint(5, 18)]

    url = f"https://site{i % 1000}.example/{lang}/doc{i}"
    ts = datetime.fromtimestamp(BASE_EPOCH + (i * 137) % 31536000, tz=timezone.utc)
    text_preview = f"{fmt} document {i}"
    return PageRow(url, ts.replace(tzinfo=None), payload, text_preview, lang)
