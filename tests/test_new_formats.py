"""Edge cases for the CSV/JSON/XML/WAV/EPUB/PPTX extraction paths."""

import random

from document_convert_to__markdown_spark.data import synth
from document_convert_to__markdown_spark.extractors.audio_extractor import wav_meta
from document_convert_to__markdown_spark.extractors.extract import extract_document
from document_convert_to__markdown_spark.extractors.sniffer import sniff_format


def _extract(payload, url="https://t.example/en/doc"):
    return extract_document(url, payload)


def test_sniff_dispatch_new_formats():
    rng = random.Random(1)
    assert sniff_format(synth.make_pptx(rng, "en", 1, 1.0)) == "pptx"
    assert sniff_format(synth.make_csv(rng, "en", 1, 1.0)) == "csv"
    assert sniff_format(synth.make_json(rng, "en", 1, 1.0)) == "json"
    assert sniff_format(synth.make_xml(rng, "en", 1, 1.0)) == "xml"
    assert sniff_format(synth.make_wav(rng, "en", 1, 1.0)) == "wav"
    assert sniff_format(synth.make_epub(rng, "en", 1, 1.0)) == "epub"


def test_xml_with_html_root_is_html():
    payload = b'<?xml version="1.0"?>\n<html><body><p>x</p></body></html>'
    assert sniff_format(payload) == "html"


def test_malformed_xml_falls_back_to_fence():
    doc = _extract(b'<?xml version="1.0"?><doc><unclosed></doc>')
    assert doc.status == "ok" and doc.format == "xml"
    assert "```xml" in doc.markdown


def test_truncated_wav_is_status_row_not_crash():
    doc = _extract(b"RIFF\x10\x00\x00\x00WAVEfmt ")
    assert doc.status == "skipped_unsupported"
    assert doc.format == "wav"


def test_mp3_sniff_and_metadata():
    rng = random.Random(11)
    payload = synth.make_mp3(rng, "en", 1, 1.0)
    assert sniff_format(payload) == "mp3"
    doc = _extract(payload)
    assert doc.status == "ok" and doc.format == "mp3"
    assert "128 kbps" in doc.markdown and "44100 Hz" in doc.markdown


def test_mp3_garbage_after_id3_is_status_row():
    doc = _extract(b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00" * 64)
    assert doc.format == "mp3"
    assert doc.status == "skipped_unsupported"


def test_wav_meta_values():
    rng = random.Random(7)
    payload = synth.make_wav(rng, "en", 1, 1.0)
    meta = wav_meta(payload)
    assert meta is not None
    assert meta.channels in (1, 2)
    assert meta.sample_rate in (8000, 16000, 44100)
    assert meta.duration_sec > 0
    # duration consistency: frames / rate
    assert abs(meta.duration_sec - meta.n_frames / meta.sample_rate) < 1e-3


def test_csv_single_column_prose_stays_text():
    payload = ("line one here\nline two there\nline three now\n"
               "line four ends").encode()
    assert sniff_format(payload) == "text"


def test_json_invalid_falls_to_text():
    assert sniff_format(b"{not valid json at all") == "text"


def test_epub_without_manifest_uses_sorted_members():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
        zf.writestr("b.xhtml", "<html><body><p>second</p></body></html>")
        zf.writestr("a.xhtml", "<html><body><p>first</p></body></html>")
    doc = _extract(buf.getvalue())
    assert doc.status == "ok" and doc.format == "epub"
    assert doc.markdown.index("first") < doc.markdown.index("second")


def test_pptx_slide_order_is_numeric_not_lexicographic():
    import io
    import zipfile

    P = "http://schemas.openxmlformats.org/presentationml/2006/main"
    A = "http://schemas.openxmlformats.org/drawingml/2006/main"

    def slide(text):
        return (f'<?xml version="1.0"?><p:sld xmlns:p="{P}" xmlns:a="{A}">'
                f"<p:cSld><p:spTree><p:sp><p:nvSpPr><p:nvPr/></p:nvSpPr>"
                f"<p:txBody><a:p><a:r><a:t>{text}</a:t></a:r></a:p>"
                f"</p:txBody></p:sp></p:spTree></p:cSld></p:sld>")

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("[Content_Types].xml", "<Types/>")
        zf.writestr("ppt/presentation.xml", "<p/>")
        # write out of order; slide10 sorts before slide2 lexicographically
        zf.writestr("ppt/slides/slide10.xml", slide("tenth"))
        zf.writestr("ppt/slides/slide2.xml", slide("second"))
    doc = _extract(buf.getvalue())
    assert doc.status == "ok" and doc.format == "pptx"
    assert doc.markdown.index("second") < doc.markdown.index("tenth")


def test_flac_extracts_metadata_markdown():
    import numpy as np
    from document_convert_to__markdown_spark.extractors import (
        extract_document,
    )
    from document_convert_to__markdown_spark.extractors.flac_codec import (
        encode_flac,
    )

    x = np.clip(np.sin(np.arange(8192) / 9.0), -1, 1)
    blob = encode_flac(x, 16000)
    doc = extract_document("https://a.example/clip.flac", blob)
    assert doc.format == "flac" and doc.status == "ok"
    assert doc.extractor_used == "flac_metadata"
    assert "FLAC" in doc.markdown and "16000 Hz" in doc.markdown
    assert "16 bit" in doc.markdown
    # malformed FLAC surfaces as a status row, never a crash
    bad = extract_document("https://a.example/x.flac", b"fLaC\x00\x00")
    assert bad.status == "skipped_unsupported"


def test_aiff_extracts_metadata_markdown():
    import numpy as np
    from document_convert_to__markdown_spark.extractors import (
        extract_document,
    )
    from document_convert_to__markdown_spark.extractors.wav_codec import (
        encode_aiff,
    )

    x = np.clip(np.sin(np.arange(8192) / 9.0), -1, 1)
    doc = extract_document("https://a.example/c.aiff", encode_aiff(x, 22050))
    assert doc.format == "aiff" and doc.status == "ok"
    assert doc.extractor_used == "aiff_metadata"
    assert "AIFF" in doc.markdown and "22050 Hz" in doc.markdown
    bad = extract_document("https://a.example/x.aiff",
                           b"FORM\x00\x00\x00\x04AIFF")
    assert bad.status == "skipped_unsupported"
