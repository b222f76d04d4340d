"""Video-container metadata (extractors/video_meta.py, round 5j).

Covers: ISO-BMFF builder→parser roundtrips (v0 + v1 mvhd/largesize
epochs, video-only / audio-only / both), Matroska/WebM EBML walks
(doctype split, unknown-size Segment, float rates), Ogg identification
headers for all three codecs + last-page granule duration, the RFC
3533 CRC (known check value), every-prefix + bit-flip never-raise
fuzzing, hostile declared sizes, sniffer labels, extract_document's
video_metadata markdown (status rows, no silent drops), and the
media_video / media_metadata Spark operators.
"""

import struct

import pytest

from document_convert_to__markdown_spark.extractors.video_meta import (
    _ogg_crc, build_heif, build_mp4, build_ogg, build_webm, heif_meta,
    mp4_meta, ogg_meta, video_meta, video_to_markdown, webm_meta,
)


def test_mp4_roundtrip_v0_and_v1():
    m = video_meta(build_mp4())
    assert m.container == "mp4" and m.brand == "isom"
    assert (m.width, m.height) == (640, 360)
    assert m.video_codec == "avc1" and m.audio_codec == "mp4a"
    assert m.sample_rate == 48000 and m.n_frames == 96
    assert m.duration_ms == 4000
    assert m.creation_time == "2021-03-04T05:06:07Z"

    m1 = video_meta(build_mp4(
        mvhd_v1=True, brand="mp42", duration_ms=10000,
        video=("hev1", 1920, 1080, 240), audio=None,
        creation="1999-12-31T23:59:59"))
    assert m1.brand == "mp42" and m1.duration_ms == 10000
    assert (m1.width, m1.height, m1.n_frames) == (1920, 1080, 240)
    assert m1.video_codec == "hev1" and m1.audio_codec is None
    assert m1.sample_rate is None
    assert m1.creation_time == "1999-12-31T23:59:59Z"

    audio_only = video_meta(build_mp4(video=None,
                                      audio=("mp4a", 44100)))
    assert audio_only.width is None and audio_only.video_codec is None
    assert audio_only.sample_rate == 44100

    # mdhd packed ISO-639 language; 'und' and absent both -> None
    assert video_meta(build_mp4(language="fra")).language == "fra"
    assert video_meta(build_mp4()).language is None


def test_webm_and_mkv_roundtrip():
    m = video_meta(build_webm())
    assert m.container == "webm" and m.brand == "webm"
    assert (m.width, m.height) == (1280, 720)
    assert m.video_codec == "V_VP9" and m.audio_codec == "A_OPUS"
    assert m.sample_rate == 48000 and m.duration_ms == 4000
    assert m.creation_time == "2022-11-12T13:14:15Z"

    # matroska doctype + the unknown-size Segment streamed files carry
    mkv = video_meta(build_webm(
        doctype="matroska", video=("V_MPEG4/ISO/AVC", 720, 576),
        audio=("A_AAC", 44100), unknown_segment_size=True,
        date_utc=None, duration_ms=90000, timescale_ns=500_000))
    assert mkv.container == "mkv" and mkv.brand == "matroska"
    assert (mkv.width, mkv.height) == (720, 576)
    assert mkv.video_codec == "V_MPEG4/ISO/AVC"
    assert mkv.sample_rate == 44100
    assert mkv.duration_ms == 90000          # scale-independent ms
    assert mkv.creation_time is None

    # explicit Matroska Language element; the spec DEFAULT eng is
    # NOT synthesized when absent — pipelines want the file's claim
    assert video_meta(build_webm(language="deu")).language == "deu"
    assert video_meta(build_webm()).language is None


def test_ogg_three_codecs():
    v = video_meta(build_ogg(codec="vorbis", rate=22050, channels=1,
                             n_samples=66150))
    assert v.container == "ogg" and v.audio_codec == "vorbis"
    assert v.sample_rate == 22050 and v.n_frames == 66150
    assert v.duration_ms == 3000             # granule/rate

    # real encoders write the final granule INCLUDING pre-skip (the
    # builder's is 312); RFC 7845 §4.2 says playable audio excludes
    # it — author granule = samples + 312, expect exactly 2 s
    o = video_meta(build_ogg(codec="opus", rate=44100,
                             n_samples=96000 + 312))
    assert o.audio_codec == "opus" and o.sample_rate == 44100
    assert o.duration_ms == 2000             # granule clock is 48 kHz
    assert o.n_frames == 96000               # pre-skip subtracted

    t = video_meta(build_ogg(codec="theora", dims=(352, 288)))
    assert t.video_codec == "theora"
    assert (t.width, t.height) == (352, 288)
    assert t.duration_ms is None             # theora granule is split


def test_ogg_crc_known_vector():
    """RFC 3533 CRC-32 (poly 0x04C11DB7, init 0, no reflect, no
    xorout) — the CRC-32/POSIX check value without its final xor."""
    assert _ogg_crc(b"123456789") == 0x89A1897F


def test_never_raises_on_fuzz():
    blobs = [build_mp4(), build_mp4(mvhd_v1=True), build_webm(),
             build_webm(unknown_segment_size=True), build_ogg(),
             build_ogg(codec="opus"), build_ogg(codec="theora")]
    for blob in blobs:
        assert video_meta(blob) is not None
        for cut in range(len(blob) + 1):
            video_meta(blob[:cut])           # must not raise
        for pos in range(len(blob)):
            flipped = bytearray(blob)
            flipped[pos] ^= 0xFF
            video_meta(bytes(flipped))       # must not raise


def test_hostile_values_clamp_to_null_fields():
    """Crafted numeric fields cost one null field, never the row (or
    an int64-overflow Arrow task kill downstream): ISO-BMFF all-ones
    'unknown duration', EBML inf/NaN/astronomical Duration floats."""
    blob = bytearray(build_mp4(audio=None))
    i = blob.find(b"mvhd") + 4 + 16          # v0 duration field
    blob[i:i + 4] = b"\xff\xff\xff\xff"
    m = mp4_meta(bytes(blob))
    assert m is not None and m.duration_ms is None
    assert m.video_codec == "avc1"           # rest of the row intact

    for evil in (float("inf"), float("nan"), 1e300):
        wb = bytearray(build_webm(audio=None, date_utc=None))
        j = wb.find(struct.pack(">d", 4000.0))
        assert j > 0
        wb[j:j + 8] = struct.pack(">d", evil)
        w = webm_meta(bytes(wb))
        assert w is not None and w.duration_ms is None, evil
        assert w.video_codec == "V_VP9", evil


def test_hostile_sizes_refused():
    giant = struct.pack(">I", 0xFFFFFFF0) + b"ftypisom" + bytes(64)
    assert video_meta(giant) is None         # box overruns buffer
    assert video_meta(b"\x1aE\xdf\xa3" + b"\xff" * 64) is None
    assert video_meta(b"OggS" + bytes(64)) is None   # no codec header
    assert video_meta(b"") is None and video_meta(b"x" * 3) is None
    # 64-bit largesize smaller than its own header
    bad_large = struct.pack(">I", 1) + b"ftyp" + struct.pack(">Q", 4)
    assert video_meta(bad_large) is None


def test_sniffer_and_extract_document():
    from document_convert_to__markdown_spark.extractors import (
        extract_document,
    )
    from document_convert_to__markdown_spark.extractors.sniffer import (
        sniff_format,
    )

    mp4, webm, ogg = build_mp4(), build_webm(), build_ogg()
    assert sniff_format(mp4) == "mp4"
    assert sniff_format(webm) == "webm"
    assert sniff_format(ogg) == "ogg"

    doc = extract_document("http://v/a.mp4", mp4)
    assert doc.status == "ok" and doc.extractor_used == "video_metadata"
    assert "avc1" in doc.markdown and "640x360" in doc.markdown
    assert "4.00" in doc.markdown
    doc2 = extract_document("http://v/b.webm", webm)
    assert doc2.status == "ok" and "V_VP9" in doc2.markdown
    doc3 = extract_document("http://v/c.ogg", ogg)
    assert doc3.status == "ok" and "vorbis" in doc3.markdown
    # cut to ten bytes it no longer sniffs as video: a status row, never
    # a drop
    broken = extract_document("http://v/d.mp4", mp4[:10])
    assert (broken.format, broken.status) == ("unknown",
                                              "skipped_unsupported")
    # sniffed as video but unreadable: the converter's None is unsupported
    cut = extract_document("http://v/e.mp4", mp4[:16])
    assert (cut.format, cut.status) == ("mp4", "skipped_unsupported")
    assert broken.url == "http://v/d.mp4"
    # determinism
    assert extract_document("http://v/a.mp4", mp4) == doc


def test_heif_avif_images():
    """HEIF/AVIF are ISO-BMFF STILL IMAGES and must route to the
    image family, not the mp4 video path (round-5j mislabel fix):
    brand-based sniff, largest-ispe dims (thumbnails ignored),
    image-passthrough extraction with the real dimensions."""
    from document_convert_to__markdown_spark.extractors import (
        extract_document,
    )
    from document_convert_to__markdown_spark.extractors.image_extractor \
        import image_meta
    from document_convert_to__markdown_spark.extractors.sniffer import (
        sniff_format,
    )

    a = build_heif(brand="avif", width=800, height=600,
                   thumb=(160, 120))
    h = build_heif(brand="heic", width=4032, height=3024)
    assert sniff_format(a) == "avif" and sniff_format(h) == "heic"
    assert heif_meta(a) == ("avif", 800, 600)      # thumb ignored
    assert heif_meta(h) == ("heic", 4032, 3024)
    m = image_meta(a, "avif")
    assert (m.width, m.height, m.format) == (800, 600, "AVIF")

    doc = extract_document("http://i/x.avif", a)
    assert doc.status == "ok"
    assert doc.extractor_used == "image_passthrough"
    assert "800 x 600" in doc.markdown and "AVIF" in doc.markdown
    assert doc.n_images == 1
    assert extract_document("http://i/x.avif", a) == doc

    # mp4 brands still route to the video path
    assert sniff_format(build_mp4()) == "mp4"
    assert heif_meta(build_mp4()) is None
    # prefix fuzz: sniff + parse never raise
    for blob in (a, h):
        for cut in range(len(blob) + 1):
            sniff_format(blob[:cut])
            heif_meta(blob[:cut])


def test_media_video_operator(spark):
    from document_convert_to__markdown_spark.operators.multimodal import (
        media_metadata, media_video,
    )

    rows = [("u1", bytearray(build_mp4())),
            ("u2", bytearray(build_webm(doctype="matroska"))),
            ("u3", bytearray(build_ogg(codec="opus", rate=16000,
                                       n_samples=48000 + 312))),
            ("u4", bytearray(b"not a video")),
            ("u5", None),
            ("u6", bytearray(build_heif(brand="avif", width=640,
                                        height=480)))]
    df = spark.createDataFrame(rows, "url string, data binary")
    got = {r["url"]: r for r in media_video(df).collect()}
    assert len(got) == 6                     # no silent drops
    assert got["u1"]["container"] == "mp4"
    assert got["u1"]["video_codec"] == "avc1"
    assert got["u1"]["duration_ms"] == 4000
    assert got["u1"]["creation_time"] == "2021-03-04T05:06:07Z"
    assert got["u2"]["container"] == "mkv"
    assert got["u2"]["brand"] == "matroska"
    assert got["u3"]["audio_codec"] == "opus"
    assert got["u3"]["duration_ms"] == 1000
    assert got["u4"]["container"] is None
    assert got["u5"]["n_bytes"] == 0

    meta = {r["url"]: r for r in media_metadata(df).collect()}
    assert meta["u1"]["media_format"] == "mp4"
    assert meta["u1"]["width"] == 640 and meta["u1"]["n_frames"] == 96
    assert meta["u2"]["media_format"] == "mkv"  # parsed > sniffed
    assert meta["u3"]["media_format"] == "ogg"
    assert meta["u3"]["sample_rate"] == 16000
    assert meta["u6"]["media_format"] == "avif"   # image family row
    assert (meta["u6"]["width"], meta["u6"]["height"]) == (640, 480)


def test_media_metadata_mp3_rows(spark):
    """MP3s get stream properties, not the null row: first-frame
    bitrate/rate via the existing mp3_meta (round-5j wiring)."""
    from document_convert_to__markdown_spark.operators.multimodal import (
        media_metadata,
    )

    # minimal MPEG1 Layer III frame header: sync, 128 kbps, 44.1 kHz
    frame = b"\xff\xfb\x90\x00" + bytes(413)
    df = spark.createDataFrame(
        [("m1", bytearray(b"ID3" + bytes(7) + frame * 3))],
        "url string, data binary")
    row = media_metadata(df).collect()[0]
    assert row["media_format"] == "mp3"
    assert row["mode"] == "mp3_128kbps"
    assert row["sample_rate"] == 44100


def test_review_r5j_regressions():
    """Round-5j review findings: a hostile mvhd creation time must
    cost one field (not the whole row), and Opus pre-skip is
    subtracted from the granule (RFC 7845 §4.2)."""
    blob = bytearray(build_mp4(mvhd_v1=True, audio=None))
    i = blob.find(b"mvhd") + 4 + 4           # v1 creation_time (u64)
    blob[i:i + 8] = struct.pack(">Q", 2 ** 39)   # past datetime range
    m = mp4_meta(bytes(blob))
    assert m is not None                     # row survives
    assert m.creation_time is None           # field nulled
    assert m.video_codec == "avc1" and m.duration_ms == 4000

    o = ogg_meta(build_ogg(codec="opus", n_samples=312))
    assert o.duration_ms == 0 and o.n_frames == 0   # all pre-skip
