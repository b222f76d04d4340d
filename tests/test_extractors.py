# -*- coding: utf-8 -*-
"""Unit tests for the pure-Python extractor layer (SURVEY.md §5.2 item 1)."""

import pytest

from document_convert_to__markdown_spark.data import synth
from document_convert_to__markdown_spark.extractors import (
    extract,
    extract_document,
    sniff_format,
    sniffer,
)
from document_convert_to__markdown_spark.extractors.docx_extractor import extract_docx
from document_convert_to__markdown_spark.extractors.html_extractor import (
    html_to_markdown,
)
from document_convert_to__markdown_spark.extractors.image_extractor import image_meta
from document_convert_to__markdown_spark.extractors.insertion import (
    insert_images_by_reference_patterns,
    normalize_image_links,
    pdf_process_content,
)
from document_convert_to__markdown_spark.extractors.normalize import (
    doc_name_from_url,
    normalize_filename,
)
from document_convert_to__markdown_spark.extractors.pdf_extractor import extract_pdf
from document_convert_to__markdown_spark.extractors.xlsx_extractor import extract_xlsx
import random
import tracemalloc
import zlib


# --- sniffer (A4) ----------------------------------------------------------

def test_sniff_magic_bytes():
    assert sniff_format(b"%PDF-1.4 rest") == "pdf"
    assert sniff_format(b"\x89PNG\r\n\x1a\n" + b"\0" * 20) == "png"
    assert sniff_format(b"\xff\xd8\xff\xe0rest") == "jpeg"
    assert sniff_format(b"GIF89a" + b"\0" * 10) == "gif"
    assert sniff_format(b"<!DOCTYPE html><html></html>") == "html"
    assert sniff_format(b"  <html><body>x</body></html>") == "html"
    assert sniff_format(b"") == "empty"
    assert sniff_format(None) == "empty"
    assert sniff_format(b"\x00\x01\x02\x03binary") == "unknown"
    assert sniff_format(b"just some plain text content") == "text"


def test_sniff_zip_containers():
    rng = random.Random(1)
    assert sniff_format(synth.make_docx(rng, "en", 1, 1.0)) == "docx"
    assert sniff_format(synth.make_xlsx(rng, "en", 1, 1.0)) == "xlsx"


# --- HTML (A5 + boilerplate) -------------------------------------------------

HTML_DOC = b"""<!DOCTYPE html>
<html><head><title>t</title><script>var x;</script></head><body>
<nav class="navbar"><a href="/a">A</a><a href="/b">B</a><a href="/c">C</a></nav>
<div class="cookie-banner">We use cookies <a href="/ok">OK</a></div>
<main>
<h1>Title Here</h1>
<p>First paragraph with <strong>bold</strong> and <em>italic</em> and
a <a href="https://x.example/p">link text</a>.</p>
<h2>Sub</h2>
<ul><li>alpha</li><li>beta</li></ul>
<table><tr><th>h1</th><th>h2</th></tr><tr><td>a</td><td>b</td></tr></table>
<pre><code>code block</code></pre>
</main>
<footer><a href="/tos">TOS</a></footer>
</body></html>"""


def test_html_to_markdown_structure():
    md = html_to_markdown(HTML_DOC)
    assert "# Title Here" in md
    assert "**bold**" in md
    assert "*italic*" in md
    assert "[link text](https://x.example/p)" in md
    assert "## Sub" in md
    assert "- alpha" in md
    assert "| h1 | h2 |" in md
    assert "| --- | --- |" in md
    assert "```" in md and "code block" in md


def test_html_boilerplate_stripped():
    md = html_to_markdown(HTML_DOC)
    assert "cookies" not in md
    assert "TOS" not in md
    assert "/a" not in md  # navbar links gone


def test_html_malformed_lenient():
    md = html_to_markdown(b"<p>unclosed <b>bold <p>next para")
    assert "unclosed" in md and "next para" in md


# --- normalize (A17) ----------------------------------------------------------

def test_normalize_filename_fullwidth():
    assert normalize_filename("表（一）：数据，结果。x", is_document_title=True) == \
        "表(一)_数据_结果.x"


def test_normalize_filename_pinyin_off():
    # config.py:187 sets convert_chinese_to_pinyin=False → CJK preserved.
    assert normalize_filename("中文文档", is_document_title=True) == "中文文档"


def test_doc_name_from_url():
    assert doc_name_from_url("https://site1.example/en/doc42") == "doc42"
    assert doc_name_from_url("https://x.example/a/b.pdf?q=1#f") == "b"
    assert doc_name_from_url("https://x.example/") == "x"


# --- insertion (A11-A14) --------------------------------------------------------

def test_normalize_image_links_media():
    content = "text ![old](media/image2.png) more"
    images = [("image_001", "image_001.png"), ("image_002", "image_002.png")]
    out = normalize_image_links(content, "mydoc", images)
    assert "![image](images/mydoc/image_002.png)" in out


def test_normalize_image_links_base64():
    content = "![a](data:image/png;base64,AAAA) ![b](data:image/png;base64,BBBB)"
    images = [("image_001", "image_001.png"), ("image_002", "image_002.png")]
    out = normalize_image_links(content, "d", images)
    assert "![a](images/d/image_001.png)" in out
    assert "![b](images/d/image_002.png)" in out


def test_reference_pattern_insertion():
    content = "intro line\n如图 2-1 所示，说明文字。\nnext paragraph\n"
    out = insert_images_by_reference_patterns(
        content, "d", [("image_001", "image_001.png")]
    )
    assert "![image](images/d/image_001.png)" in out


def test_image_only_pdf_markdown():
    out = pdf_process_content(
        "", "d", [("image_001", "image_001.png")], {"image_001": 1}
    )
    assert out.startswith("# d\n\n**注意**")
    assert "## 第1页" in out
    assert "![图片1](images/d/image_001.png)" in out


# --- binary formats ----------------------------------------------------------

def test_pdf_roundtrip():
    rng = random.Random(7)
    payload = synth.make_pdf(rng, "en", 3, 1.0)
    result = extract_pdf(payload)
    assert result.n_pages >= 1
    assert "Page 1 heading for doc 3" in result.text


def test_pdf_reading_order():
    rng = random.Random(9)
    payload = synth.make_pdf(rng, "en", 5, 2.0)
    result = extract_pdf(payload)
    lines = result.text.split("\n")
    first = next(i for i, l in enumerate(lines) if "Page 1 heading" in l)
    assert first == 0  # top of page comes first


def _one_stream_pdf(content: bytes, deflated: bytes | None = None) -> bytes:
    """One page whose one content stream is ``content`` under /FlateDecode."""
    stream = zlib.compress(content, 9) if deflated is None else deflated
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(stream), stream)]
    body = b"".join(b"%d 0 obj\n%s\nendobj\n" % (i, o)
                    for i, o in enumerate(objs, 1))
    return b"%PDF-1.4\n" + body + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def test_pdf_flate_bomb_fails_without_inflating_it():
    # 8 MB of text operators and blanks deflate to ~8 KB: far past the
    # 100x-payload budget, so the row fails with its own error class
    # after inflating at most the budget, not the whole stream.
    full = 8 << 20
    content = b"BT (bomb) Tj ET\n" + b" " * full
    pdf = _one_stream_pdf(content)
    assert len(pdf) < 16 << 10
    tracemalloc.start()
    try:
        doc = extract_document("https://a.example/bomb.pdf", pdf)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert doc.status == "failed"
    assert doc.error.startswith("DecompressionLimit: ")
    assert peak < full // 2


def test_pdf_flate_within_budget_and_truncated_streams():
    text = b"BT 72 720 Td (kept under budget) Tj ET"
    doc = extract_document("https://a.example/ok.pdf", _one_stream_pdf(text))
    assert doc.status == "ok" and "kept under budget" in doc.markdown
    # A truncated stream reads as no text, as zlib.decompress's error did.
    cut = _one_stream_pdf(b"", deflated=zlib.compress(text)[:-6])
    assert extract_pdf(cut).text == ""
    assert extract_document("https://a.example/cut.pdf", cut).status == "ok"


def test_docx_roundtrip():
    rng = random.Random(11)
    payload = synth.make_docx(rng, "en", 4, 1.0)
    result = extract_docx(payload, "doc4")
    assert result.markdown.startswith("# doc4\n\n")
    assert "# Heading for doc 4" in result.markdown


def test_xlsx_roundtrip():
    rng = random.Random(13)
    payload = synth.make_xlsx(rng, "en", 6, 1.0)
    md = extract_xlsx(payload, "doc6")
    assert md.startswith("# doc6")
    assert "## Sheet1" in md
    assert "| h0 |" in md


def test_image_meta_parsers():
    png = synth.make_png(12, 8, 5)
    meta = image_meta(png, "png")
    assert (meta.width, meta.height, meta.format, meta.mode) == (12, 8, "PNG", "L")
    jpg = synth.make_jpeg(20, 10)
    meta = image_meta(jpg, "jpeg")
    assert (meta.width, meta.height, meta.format) == (20, 10, "JPEG")
    gif = synth.make_gif(5, 6)
    meta = image_meta(gif, "gif")
    assert (meta.width, meta.height, meta.format, meta.mode) == (5, 6, "GIF", "P")


# --- orchestrator -------------------------------------------------------------

def test_extract_document_statuses():
    assert extract_document("u", b"").status == "skipped_empty"
    assert extract_document("u", None).status == "skipped_empty"
    assert extract_document("u", b"\x00\x01garbage").status == "skipped_unsupported"
    doc = extract_document("https://a.example/en/doc1", b"<html><body><p>hello world</p></body></html>")
    assert doc.status == "ok"
    assert "hello world" in doc.markdown


# --- dispatch table: format -> converter ----------------------------------------

def test_every_sniffed_format_has_one_converter():
    names = [k for k in vars(sniffer) if k.startswith("FMT_")]
    formats = {getattr(sniffer, k) for k in names}
    assert len(formats) == len(names)          # no two constants share a value
    assert set(extract.CONVERTERS) == formats - {sniffer.FMT_EMPTY,
                                                 sniffer.FMT_UNKNOWN}


def _boom(*_args, **_kwargs):
    raise ValueError("boom: bad bytes")


@pytest.mark.parametrize("where", ["converter", "cleanup", "sniff"])
def test_raise_in_converter_or_cleanup_is_a_failed_row(monkeypatch, where):
    # a PNG: its converter returns one asset, which a failed row drops
    url, payload = "https://a.example/img/pic.png", synth.make_png(4, 3, 90)
    assert extract_document(url, payload).n_images == 1
    if where == "converter":
        monkeypatch.setitem(extract.CONVERTERS, sniffer.FMT_PNG, _boom)
    elif where == "cleanup":
        monkeypatch.setattr(extract, "clean_markdown_content", _boom)
    else:
        monkeypatch.setattr(extract, "sniff_format", _boom)
    doc = extract_document(url, payload)
    fmt = "unknown" if where == "sniff" else "png"
    assert doc == (url, doc_name_from_url(url), fmt, "failed",
                   "ValueError: boom: bad bytes", None, 0, "none", [])


def test_extract_document_deterministic():
    row = synth.synth_page(17)
    a = extract_document(row.url, row.html)
    b = extract_document(row.url, row.html)
    assert a == b


@pytest.mark.parametrize("i", range(0, 120, 7))
def test_extract_document_never_raises(i):
    row = synth.synth_page(i, giant_every=50)
    doc = extract_document(row.url, row.html)
    assert doc.status in ("ok", "skipped_empty", "skipped_unsupported",
                          "skipped_too_large", "failed")
    if doc.status == "ok":
        assert doc.markdown is not None
