# -*- coding: utf-8 -*-
"""Filename / doc-name / alt-text normalization — reference parity.

Reproduces ``FilenameNormalizer``
(/root/reference/src/utils/filename_normalizer.py:76-193) with the
reference's *effective* configuration from
/root/reference/src/config.py:183-224:

- ``FILENAME_NORMALIZATION['enabled'] = True``
- ``convert_chinese_to_pinyin = False``  (config.py:187 — the normalizer's
  ``.get(..., True)`` default at filename_normalizer.py:109 is overridden
  by the explicit config value, so pinyin conversion is OFF; we therefore
  do not need pypinyin at all)
- ``max_filename_length = 200``
- ``ALT_TEXT_CONFIG['use_simple_alt'] = True`` → alt text is always the
  constant ``"image"`` (config.py:219-224, document_processors.py:100-116)

These names are baked into the ``images/{doc}/image_%03d.ext`` link paths
inside the emitted markdown, so they directly affect byte-identity.
"""

from __future__ import annotations

import re

# filename_normalizer.py:29-56 — fullwidth→ASCII substitution map.
# Dict insertion order matters: replacements are applied in this order.
FILENAME_REPLACEMENT_CHARS: dict[str, str] = {
    "（": "(",
    "）": ")",
    "：": "_",
    "；": "_",
    "，": "_",
    "。": ".",
    "？": "",
    "！": "",
    "【": "[",
    "】": "]",
    "《": "",
    "》": "",
    '"': "",
    "'": "",
    "\\": "_",
    "/": "_",
    "*": "_",
    "?": "",
    "<": "",
    ">": "",
    "|": "_",
    " ": "_",
    "　": "_",  # fullwidth space
    "\t": "_",
    "\n": "_",
    "\r": "_",
}

MAX_FILENAME_LENGTH = 200  # config.py:186

_UNDERSCORE_RUNS = re.compile(r"_+")
_DOT_RUNS = re.compile(r"\.+")


def _split_ext(filename: str) -> tuple[str, str]:
    """os.path.splitext equivalent without importing os (pure string op)."""
    idx = filename.rfind(".")
    slash = max(filename.rfind("/"), filename.rfind("\\"))
    if idx > slash and idx > 0 and filename[slash + 1 : idx]:
        return filename[:idx], filename[idx:]
    return filename, ""


def normalize_filename(filename: str, is_document_title: bool = False) -> str:
    """filename_normalizer.py:76-138 with pinyin disabled (config wins)."""
    if not filename:
        return "unnamed"

    if is_document_title:
        name, ext = filename, ""
    else:
        name, ext = _split_ext(filename)

    for old_char, new_char in FILENAME_REPLACEMENT_CHARS.items():
        name = name.replace(old_char, new_char)
    name = name.replace(" ", "_")

    # pinyin conversion intentionally omitted:
    # config.py:187 sets convert_chinese_to_pinyin=False.

    name = _UNDERSCORE_RUNS.sub("_", name)
    name = _DOT_RUNS.sub(".", name)
    name = name.strip("_.")

    if not is_document_title:
        available_length = MAX_FILENAME_LENGTH - len(ext)
        if available_length > 0 and len(name) > available_length:
            name = name[:available_length]
        elif available_length <= 0:
            min_name_length = min(10, MAX_FILENAME_LENGTH // 2)
            name = name[:min_name_length]

    if not name:
        name = "unnamed"
    return name + ext


def generate_image_alt_text(doc_name: str, image_index: int) -> str:
    """document_processors.py:100-116 — simple-alt config is ON, so the
    alt text is always the constant ``"image"`` (config.py:220-221)."""
    return "image"


def normalized_relative_path(doc_name: str, image_filename: str) -> str:
    """document_processors.py:118-135 — ``images/{doc}/{file}`` with the
    doc name normalized as a document title."""
    normalized_doc_name = normalize_filename(doc_name, is_document_title=True)
    return f"images/{normalized_doc_name}/{image_filename}"


def doc_name_from_url(url: str) -> str:
    """Derive the document name from the url (replaces ``Path(file).stem``
    at converter.py:660 — the url is the document identity at web scale).

    Takes the last non-empty path segment, strips any query/fragment and
    a trailing extension, then applies title normalization so the name is
    stable and link-safe.
    """
    if not url:
        return "unnamed"
    base = url.split("#", 1)[0].split("?", 1)[0]
    base = base.rstrip("/")
    segment = base.rsplit("/", 1)[-1] if "/" in base else base
    if not segment:
        return "unnamed"
    stem, _ext = _split_ext(segment)
    return normalize_filename(stem or segment, is_document_title=True)
