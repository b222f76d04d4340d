"""Extractor-kernel layer, timed from outside with no Spark.

- ``oracle_chunk`` runs ``extract_document`` over rows and returns
  ``(url, status, md_sha256)``; spread over a ``multiprocessing`` pool it
  is both the correctness oracle and the L0' control (``mp_docs_per_s``).
- ``staged_l0`` runs one in-process core over the same rows: each
  document once through ``extract_document`` (per-format latency), then
  through the public stage functions in the order ``extract_document``
  calls them (sniff -> convert -> insertion -> cleanup), so each stage's
  cost is attributed and the split is checked against the whole call.
"""

from __future__ import annotations

import hashlib
import statistics
import time

from document_convert_to__markdown_spark.extractors.cleanup import clean_markdown_content
from document_convert_to__markdown_spark.extractors.docx_extractor import extract_docx
from document_convert_to__markdown_spark.extractors.extract import extract_document
from document_convert_to__markdown_spark.extractors.html_extractor import html_to_markdown
from document_convert_to__markdown_spark.extractors.insertion import (
    normalize_image_links,
    pdf_process_content,
)
from document_convert_to__markdown_spark.extractors.normalize import doc_name_from_url
from document_convert_to__markdown_spark.extractors.pdf_extractor import extract_pdf
from document_convert_to__markdown_spark.extractors.sniffer import sniff_format

STAGES = ("sniff", "html_convert", "pdf_convert", "docx_convert",
          "insertion", "cleanup", "doc_name")
FORMAT_GROUPS = ("html", "pdf", "docx", "other")


def md_sha256(markdown):
    """The digest ``pipeline.job`` stores in ``md_sha256``."""
    if markdown is None:
        return None
    return hashlib.sha256(markdown.encode("utf-8")).hexdigest()


def warm(_):
    """Pool warm-up: workers import the extractors before timing."""
    return extract_document("https://warm.example/a", b"<p>x</p>").status


def oracle_chunk(rows):
    """[(url, payload)] -> [(url, status, md_sha256)] via extract_document."""
    out = []
    for url, payload in rows:
        doc = extract_document(url, payload)
        out.append((url, doc.status, md_sha256(doc.markdown)))
    return out


def run_oracle(pool, rows, n_chunks):
    """Oracle over ``rows`` on ``pool``; returns ({url: (status, sha)}, wall_s)."""
    size = max(1, -(-len(rows) // n_chunks))
    chunks = [rows[i:i + size] for i in range(0, len(rows), size)]
    t0 = time.perf_counter()
    results = pool.map(oracle_chunk, chunks)
    wall = time.perf_counter() - t0
    return {url: (status, sha) for part in results for url, status, sha in part}, wall


def _staged_markdown(url, payload, fmt_hint, span):
    """Re-run ``extract_document``'s chain for html/pdf/docx, one span per stage."""
    with span("extractors.doc_name"):
        doc_name = doc_name_from_url(url)
    with span("extractors.sniff"):
        fmt = sniff_format(payload)
    if fmt != fmt_hint:
        return None
    if fmt == "html":
        with span("extractors.html_convert"):
            content = html_to_markdown(payload)
        is_pdf = False
    elif fmt == "pdf":
        with span("extractors.pdf_convert"):
            result = extract_pdf(payload)
        with span("extractors.insertion"):
            key_files = [(img.key, img.filename) for img in result.images]
            content = pdf_process_content(result.text, doc_name, key_files,
                                          result.image_pages)
        is_pdf = True
    else:
        with span("extractors.docx_convert"):
            result = extract_docx(payload, doc_name)
        with span("extractors.insertion"):
            key_files = [(key, filename) for key, filename, _ in result.images]
            content = normalize_image_links(result.markdown, doc_name, key_files)
        is_pdf = False
    with span("extractors.cleanup"):
        return clean_markdown_content(content, is_pdf=is_pdf)


def _pct(values, q):
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


def staged_l0(rows, tracer):
    """One-core L0 over ``rows``: per-format latency, stage ms/doc, parity.

    Stage ms/doc divides each stage's total by the number of documents
    that reached it.  ``stage_coverage`` is the staged documents' summed
    stage time over their summed ``extract_document`` time (its base,
    ``stage_docs``, is reported beside it).  A staged document whose
    markdown digest differs from ``extract_document``'s is excluded from
    the stage figures and counted in ``stage_parity_failures``.
    """
    latency = {g: [] for g in FORMAT_GROUPS}
    stage_s = dict.fromkeys(STAGES, 0.0)
    stage_n = dict.fromkeys(STAGES, 0)
    whole_s = 0.0
    staged_docs = parity_failures = 0
    total_s = 0.0
    for url, payload in rows:
        with tracer.span("extractors.doc") as doc_span:
            with tracer.span("extractors.extract_document") as whole:
                doc = extract_document(url, payload)
            total_s += whole.seconds
            group = doc.format if doc.format in FORMAT_GROUPS[:3] else "other"
            latency[group].append(whole.seconds * 1e3)
            if doc.status != "ok" or group == "other":
                continue
            stage_spans = []

            def span(name):
                record = tracer.span(name)
                stage_spans.append(record)
                return record

            staged = _staged_markdown(url, payload, doc.format, span)
            doc_span.attrs["format"] = group
            if staged is None or md_sha256(staged) != md_sha256(doc.markdown):
                parity_failures += 1
                continue
            staged_docs += 1
            whole_s += whole.seconds
            for record in stage_spans:
                stage = record.name.split(".", 1)[1]
                stage_s[stage] += record.seconds
                stage_n[stage] += 1
    metrics = {
        "extractors.docs_per_s": len(rows) / total_s if total_s else 0.0,
        "extractors.stage_coverage":
            sum(stage_s.values()) / whole_s if whole_s else 0.0,
        "extractors.stage_docs": staged_docs,
        "extractors.stage_parity_failures": parity_failures,
    }
    for group in FORMAT_GROUPS:
        metrics[f"extractors.{group}.ms_p50"] = (
            statistics.median(latency[group]) if latency[group] else 0.0)
        metrics[f"extractors.{group}.ms_p99"] = _pct(latency[group], 0.99)
    for stage in STAGES:
        metrics[f"extractors.{stage}.ms"] = (
            stage_s[stage] * 1e3 / stage_n[stage] if stage_n[stage] else 0.0)
    return metrics
