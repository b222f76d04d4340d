# -*- coding: utf-8 -*-
"""Image link normalization and smart insertion — reference parity.

Reproduces the reference's image post-processing algorithms exactly
(greedy, order-dependent — byte parity forbids re-expressing them as
window functions, SURVEY.md §2 A11-A14):

- ``normalize_image_links``          — Word path, document_processors.py:336-403
- ``insert_images_by_reference_patterns`` — PDF path, document_processors.py:591-722
- ``find_insert_position_after_reference`` — document_processors.py:792-818
- ``insert_images_by_page_ratio``    — document_processors.py:820-864
- ``find_best_insertion_point``      — document_processors.py:866-897
- ``create_image_based_markdown``    — document_processors.py:521-567
- ``image_metadata_markdown``        — document_processors.py:959-1065

Instead of the reference's ``Dict[key, saved-file-path]`` the rebuild
models extracted images as an ordered list of ``(key, filename, page)``
tuples (``page`` may be None); "the file exists on disk" checks
(document_processors.py:517,540,686) are always True here because the
bytes live in the row, not the filesystem.
"""

from __future__ import annotations

import re
from typing import Optional

from .normalize import (
    generate_image_alt_text,
    normalized_relative_path,
    normalize_filename,
)

_IMAGE_LINK = re.compile(r"!\[([^\]]*)\]\(([^\)]+)\)")
_IMAGE_NUM = re.compile(r"image(\d+)")
_FIRST_INT = re.compile(r"(\d+)")


def extract_image_number(key: str) -> int:
    """document_processors.py:188-199 — first integer in the key, else 0."""
    match = _FIRST_INT.search(key)
    return int(match.group(1)) if match else 0


def normalize_image_links(
    content: str,
    doc_name: str,
    extracted_images: list[tuple[str, str]],
) -> str:
    """Word-path link rewriting — document_processors.py:336-403 verbatim.

    ``extracted_images`` is an ordered list of (key, filename) preserving
    the reference's dict insertion order (zip member order).
    """
    if not extracted_images:
        return content

    base64_counter = 1

    def replace_image_link(match: re.Match) -> str:
        nonlocal base64_counter
        alt_text = match.group(1)
        original_path = match.group(2)

        if original_path.startswith("data:image"):
            sorted_images = sorted(
                extracted_images, key=lambda x: extract_image_number(x[0])
            )
            if base64_counter <= len(sorted_images):
                _key, filename = sorted_images[base64_counter - 1]
                normalized_path = normalized_relative_path(doc_name, filename)
                normalized_alt = alt_text if alt_text else generate_image_alt_text(
                    doc_name, base64_counter
                )
                base64_counter += 1
                return f"![{normalized_alt}]({normalized_path})"
            base64_counter += 1
            return match.group(0)

        image_num_match = _IMAGE_NUM.search(original_path)
        if image_num_match:
            image_num = int(image_num_match.group(1))
            for key, filename in extracted_images:
                if f"image_{image_num:03d}" in key or f"image_{image_num}" in filename:
                    normalized_path = normalized_relative_path(doc_name, filename)
                    normalized_alt = generate_image_alt_text(doc_name, image_num)
                    return f"![{normalized_alt}]({normalized_path})"

        return match.group(0)

    return _IMAGE_LINK.sub(replace_image_link, content)


# PDF reference patterns — document_processors.py:607-635 verbatim.
_PATTERNS = [
    {"pattern": r"表\s*(\d+)\s*[-–—]\s*(\d+)", "type": "sequential"},
    {"pattern": r"表\s*(\d+)\s*[._]\s*(\d+)", "type": "sequential"},
    {"pattern": r"表\s*(\d+)(?!\s*[-–—._]\d)", "type": "sequential"},
    {"pattern": r"图\s*(\d+)\s*[-–—]\s*(\d+)", "type": "sequential"},
    {"pattern": r"图\s*(\d+)\s*[._]\s*(\d+)", "type": "sequential"},
    {"pattern": r"图\s*(\d+)(?!\s*[-–—._]\d)", "type": "sequential"},
    {"pattern": r"Fig\s*(\d+)[-_\s]*(\d*)", "type": "sequential"},
    {"pattern": r"Figure\s*(\d+)[-_\s]*(\d*)", "type": "sequential"},
    {"pattern": r"Table\s*(\d+)[-_\s]*(\d*)", "type": "sequential"},
    {"pattern": r"见图", "type": "keyword"},
    {"pattern": r"如图", "type": "keyword"},
    {"pattern": r"图示", "type": "keyword"},
    {"pattern": r"上图", "type": "keyword"},
    {"pattern": r"下图", "type": "keyword"},
    {"pattern": r"如图所示", "type": "keyword"},
    {"pattern": r"参见图", "type": "keyword"},
    {"pattern": r"详见图", "type": "keyword"},
    {"pattern": r"诊疗流程.*?图", "type": "keyword"},
    {"pattern": r"流程图", "type": "keyword"},
    {"pattern": r"示意图", "type": "keyword"},
    {"pattern": r"示例图", "type": "keyword"},
    {"pattern": r"附图", "type": "keyword"},
    {"pattern": r"配图", "type": "keyword"},
    {"pattern": r"右图", "type": "keyword"},
    {"pattern": r"左图", "type": "keyword"},
]

# The sequential patterns, compiled once, in their order, each with the
# group of ``_TRIGGER`` that matches its leading literal.  Every match of
# a pattern starts with a match of its trigger group under the same
# IGNORECASE folding (which maps ``İ``/``ı`` to ``i``; ``str.lower`` does
# not), so a line with no trigger match has no pattern match either.  The
# lookahead names the groups' first letters, folded by the same engine: it
# lets ``sre`` skip the other characters about twice as fast as it tries
# the four alternatives at each of them.
_TRIGGER = re.compile(r"(?=[表图ft])(?:(表)|(图)|(fig)|(table))", re.IGNORECASE)
_SEQUENTIAL = [
    ({"表": 1, "图": 2, "F": 3, "T": 4}[p["pattern"][0]],
     re.compile(p["pattern"], re.IGNORECASE))
    for p in _PATTERNS if p["type"] == "sequential"
]


def find_insert_position_after_reference(lines: list[str], ref_line: int) -> int:
    """document_processors.py:792-818 verbatim."""
    for i in range(ref_line + 1, min(ref_line + 10, len(lines))):
        line = lines[i].strip()
        if not line or line.startswith("#") or line.startswith("##") or line.startswith("###"):
            return i
        if line.endswith("。") or line.endswith(".") or line.endswith("：") or line.endswith(":"):
            if i + 1 < len(lines) and (
                not lines[i + 1].strip() or lines[i + 1].strip().startswith("#")
            ):
                return i + 1
    return ref_line + 1


def insert_images_by_reference_patterns(
    content: str,
    doc_name: str,
    sorted_images: list[tuple[str, str]],
) -> str:
    """document_processors.py:591-722 verbatim greedy assignment."""
    lines = content.split("\n")
    inserted_count = 0

    # Lines holding a trigger, in line order, each with the trigger
    # groups found on it: the patterns run only where they can match.
    triggers: dict[int, set[int]] = {}
    i = last = 0
    for m in _TRIGGER.finditer(content):
        i += content.count("\n", last, m.start())
        last = m.start()
        triggers.setdefault(i, set()).add(m.lastindex)

    figure_references = []
    for i, found in triggers.items():
        line = lines[i]
        for group, pattern in _SEQUENTIAL:
            if group not in found:
                continue
            for match in pattern.finditer(line):
                try:
                    ref_number = int(match.group(1))
                    second_number = None
                    if len(match.groups()) > 1 and match.group(2) and match.group(2).strip():
                        second_number = int(match.group(2))

                    score = 0.5
                    if second_number is not None:
                        if "图" in line and ("-" in line or "–" in line or "—" in line):
                            score = 0.85
                        else:
                            score = 0.75
                        if any(k in line for k in ["诊疗", "流程", "示意", "获得性"]):
                            score += 0.1
                    else:
                        score = 0.6
                        if any(k in line for k in ["诊疗", "流程", "示意"]):
                            score += 0.15

                    figure_references.append(
                        {
                            "line_index": i,
                            "ref_number": ref_number,
                            "second_number": second_number,
                            "score": score,
                            "line_content": line,
                        }
                    )
                except (ValueError, IndexError):
                    pass

    figure_references.sort(key=lambda x: x["line_index"])

    used_references: set[int] = set()
    for key, filename in sorted_images:
        relative_path = normalized_relative_path(doc_name, filename)
        image_number = extract_image_number(key)
        alt_text = generate_image_alt_text(doc_name, image_number)
        image_ref = f"![{alt_text}]({relative_path})"

        best_ref = None
        for ref in figure_references:
            if ref["line_index"] not in used_references and ref["score"] > 0.25:
                best_ref = ref
                break

        if best_ref:
            insert_pos = find_insert_position_after_reference(
                lines, best_ref["line_index"]
            )
            adjustment = sum(
                1 for used_line in used_references if used_line < best_ref["line_index"]
            ) * 2
            insert_pos += adjustment

            lines.insert(insert_pos, "")
            lines.insert(insert_pos + 1, image_ref)
            inserted_count += 1
            used_references.add(best_ref["line_index"])

    if inserted_count > 0:
        return "\n".join(lines)
    return content


def find_best_insertion_point(lines: list[str], target_line: int) -> int:
    """document_processors.py:866-897 verbatim."""
    search_range = 10
    start = max(0, target_line - search_range)
    end = min(len(lines), target_line + search_range)

    for i in range(target_line, end):
        if i < len(lines):
            line = lines[i].strip()
            if not line or line.startswith("#"):
                return i

    for i in range(target_line - 1, start - 1, -1):
        if i >= 0:
            line = lines[i].strip()
            if not line or line.startswith("#"):
                return i + 1

    return target_line


def insert_images_by_page_ratio(
    content: str,
    doc_name: str,
    sorted_images: list[tuple[str, str]],
    image_pages: dict[str, int],
) -> str:
    """document_processors.py:820-864 verbatim."""
    lines = content.split("\n")
    total_lines = len(lines)
    estimated_total_pages = max(10, total_lines // 50)

    for key, filename in sorted_images:
        page_num = image_pages.get(key, 1)
        relative_path = normalized_relative_path(doc_name, filename)
        image_number = extract_image_number(key)
        alt_text = generate_image_alt_text(doc_name, image_number)
        image_ref = f"![{alt_text}]({relative_path})"

        estimated_line = int((page_num / estimated_total_pages) * total_lines)
        estimated_line = max(0, min(estimated_line, total_lines - 1))

        best_position = find_best_insertion_point(lines, estimated_line)
        lines.insert(best_position, "")
        lines.insert(best_position + 1, image_ref)

    return "\n".join(lines)


def insert_images_intelligently(
    content: str,
    doc_name: str,
    sorted_images: list[tuple[str, str]],
    image_pages: dict[str, int],
) -> str:
    """document_processors.py:569-589 verbatim dispatch."""
    content_with_images = insert_images_by_reference_patterns(
        content, doc_name, sorted_images
    )
    if content_with_images != content:
        return content_with_images
    return insert_images_by_page_ratio(content, doc_name, sorted_images, image_pages)


def create_image_based_markdown(
    doc_name: str,
    sorted_images: list[tuple[str, str]],
    image_pages: dict[str, int],
) -> str:
    """Image-only-PDF markdown — document_processors.py:521-567 verbatim.

    The relative path here uses the same ``images/{doc}/{file}`` shape:
    DirectoryManager's template is '{base_dir}/{doc_name}' with no type
    prefix (config.py:229-235, 244-261).
    """
    markdown_content = f"# {doc_name}\n\n"
    markdown_content += (
        "**注意**: 这是一个图片型PDF文档，无法提取文本内容。以下是提取的图片：\n\n"
    )

    current_page = 1
    images_added_to_page = False

    for image_key, filename in sorted_images:
        image_page = image_pages.get(image_key, current_page)
        if image_page != current_page:
            current_page = image_page
            images_added_to_page = False
        if not images_added_to_page:
            markdown_content += f"## 第{current_page}页\n\n"
            images_added_to_page = True

        relative_path = normalized_relative_path(doc_name, filename)
        image_number = extract_image_number(image_key)
        alt_text = f"图片{image_number}"
        markdown_content += f"![{alt_text}]({relative_path})\n\n"

    return markdown_content


def pdf_process_content(
    content: str,
    doc_name: str,
    extracted_images: list[tuple[str, str]],
    image_pages: dict[str, int],
) -> str:
    """PDF image-stage dispatch — document_processors.py:491-519 verbatim."""
    if not extracted_images:
        return content

    sorted_images = sorted(extracted_images, key=lambda x: extract_image_number(x[0]))

    if not content.strip() or len(content.strip()) < 50:
        return create_image_based_markdown(doc_name, sorted_images, image_pages)
    return insert_images_intelligently(content, doc_name, sorted_images, image_pages)


def image_metadata_markdown(
    doc_name: str,
    original_filename: str,
    image_filename: str,
    width: Optional[int],
    height: Optional[int],
    format_info: Optional[str],
    mode: Optional[str],
    file_size: int,
) -> str:
    """Single-image metadata markdown — document_processors.py:959-1065.

    With metadata available → the full template (``:994-1011``); without →
    the simplified template (``:1014-1027``).
    """
    image_path = normalized_relative_path(doc_name, image_filename)
    alt = generate_image_alt_text(doc_name, 1)

    if width is not None and height is not None:
        return f"""# {doc_name}

## 图片信息

- **文件名**: {original_filename}
- **尺寸**: {width} x {height} 像素
- **格式**: {format_info}
- **颜色模式**: {mode}
- **文件大小**: {file_size} 字节

## 图片预览

![{alt}]({image_path})

---

*此文档由 MarkItDown 自动生成*
"""
    return f"""# {doc_name}

## 图片文件

- **文件名**: {original_filename}

## 图片预览

![{alt}]({image_path})

---

*此文档由 MarkItDown 自动生成*
"""
