"""Inputs that once escaped ``extract_document`` or never returned:
a PDF page tree whose ``/Kids`` repeat a node, JSON nested past the
parser's recursion limit, and a zip whose version ``zipfile`` refuses.
Each must come back as exactly one row, quickly, and leave the rows
around it untouched."""

import io
import signal
import zipfile
from contextlib import contextmanager

import pytest

from document_convert_to__markdown_spark.extractors import (
    extract_document,
    sniff_format,
)
from document_convert_to__markdown_spark.extractors.pdf_extractor import (
    _collect_pages,
    _PdfObjects,
)


def _pdf(*objs: bytes) -> bytes:
    out = b"%PDF-1.4\n"
    for num, body in enumerate(objs, 1):
        out += b"%d 0 obj\n%s\nendobj\n" % (num, body)
    return out + b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"


def cyclic_pdf() -> bytes:
    """Two objects: the page-tree root lists itself twice as a kid."""
    return _pdf(b"<< /Type /Catalog /Pages 2 0 R >>",
                b"<< /Type /Pages /Kids [2 0 R 2 0 R] /Count 2 >>")


def deep_json() -> bytes:
    return b"[" * 100_000 + b"]" * 100_000


def zip_version_74() -> bytes:
    """A DOCX member listing whose central directory says version 7.4."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("word/document.xml", "<w:document/>")
    data = bytearray(buf.getvalue())
    at = data.find(b"PK\x01\x02")
    while at >= 0:
        data[at + 6] = 74  # version needed to extract
        at = data.find(b"PK\x01\x02", at + 4)
    return bytes(data)


HOSTILE = {"cyclic.pdf": cyclic_pdf, "deep.json": deep_json,
           "version74.docx": zip_version_74}


class Expired(BaseException):
    """Not an ``Exception``: ``extract_document``'s per-row ``except``
    must not turn the deadline into a ``failed`` row."""


@contextmanager
def _deadline(seconds: int):
    """Fail the test, instead of hanging it, past ``seconds``."""
    def expire(_signum, _frame):
        raise Expired(f"still running after {seconds} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)


@pytest.mark.parametrize("name", sorted(HOSTILE))
def test_hostile_payload_is_one_row(name):
    with _deadline(1):
        doc = extract_document(f"https://example.test/{name}",
                               HOSTILE[name]())
    assert doc.url == f"https://example.test/{name}"
    assert doc.status


def test_deep_json_is_not_json():
    assert sniff_format(deep_json()) != "json"
    assert sniff_format(b"[" * 50 + b"]" * 50) == "json"


def test_refused_zip_sniffs_unknown():
    assert sniff_format(zip_version_74()) == "unknown"


def test_page_tree_walks_each_node_once():
    pages = b"<< /Type /Page /Parent 2 0 R >>"
    with _deadline(1):
        assert _collect_pages(_PdfObjects(cyclic_pdf())) == []
        # A kid listed twice, and a back edge to the root, add nothing:
        # pages come out in first-visit order.
        shared = _PdfObjects(_pdf(
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [4 0 R 3 0 R 4 0 R 2 0 R] >>",
            pages, pages))
        assert _collect_pages(shared) == [4, 3]
    tree = _PdfObjects(_pdf(
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R 5 0 R] >>",
        b"<< /Type /Pages /Kids [6 0 R 4 0 R] >>",
        pages, pages, pages))
    assert _collect_pages(tree) == [6, 4, 5]


@pytest.mark.spark
def test_hostile_rows_leave_the_rest_unchanged(spark):
    """N good pages plus the three hostile ones give N + 3 rows, and the
    N rows are byte-identical to the run without the three."""
    from document_convert_to__markdown_spark.pipeline.corpus import (
        synth_pages_df,
    )
    from document_convert_to__markdown_spark.pipeline.job import run_extraction
    from document_convert_to__markdown_spark.pipeline.schemas import (
        PAGES_SCHEMA,
        RESULT_COLUMNS,
    )

    n = 120
    good = synth_pages_df(spark, n)
    hostile = spark.createDataFrame(
        [(f"https://example.test/{name}", None, build(), None, None)
         for name, build in sorted(HOSTILE.items())], PAGES_SCHEMA)
    cols = [c for c in RESULT_COLUMNS if c != "elapsed_us"]

    def rows(pages):
        got = (run_extraction(pages, partitions=4).results
               .select(*cols).collect())
        by_url = {r["url"]: tuple(r) for r in got}
        assert len(by_url) == len(got)
        return by_url

    alone = rows(good)
    mixed = rows(good.unionByName(hostile))
    assert len(alone) == n
    assert len(mixed) == n + 3
    assert {u: mixed[u] for u in alone} == alone
    assert all(mixed[u][cols.index("status")]
               for u in mixed.keys() - alone.keys())
