"""Pure-Python per-document extraction modules (no pyspark imports).

Layer 1 of the engine: everything here is a deterministic pure function of
``(document bytes, url-derived doc name)`` so the Spark layer can batch it
through Arrow UDFs and so golden hashes are stable (SURVEY.md §4.3).
"""

from .sniffer import sniff_format
from .extract import ExtractedDocument, extract_document

__all__ = ["sniff_format", "extract_document", "ExtractedDocument"]
