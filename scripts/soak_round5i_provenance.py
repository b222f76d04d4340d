"""Round-5i soak: provenance/metadata header scans at 10^5-row scale.

Volume evidence for the round-5i scan operators — the same class of
closed-form check the multimodal soak pins for codecs:

- ``media_exif`` over all four EXIF carriers (spliced JPEG APP1,
  TIFF tag 274, PNG eXIf, WebP VP8X EXIF): every row must report its
  authored orientation code and GPS flag;
- ``media_tags`` over all six audio grammars (ID3v2.2/2.3/2.4, ID3v1,
  FLAC VORBIS_COMMENT, RIFF LIST-INFO): every row must recover its
  authored title/artist;
- ``caption_cues`` over alternating SRT/WebVTT docs with a known
  per-doc cue count: total cue rows are closed-form;
- ``page_metadata`` over OpenGraph/JSON-LD pages: canonical,
  published-time and @type counts are closed-form;
- ``media_video`` (round 5j) over MP4 (v0+v1 mvhd) / WebM / unknown-
  size Matroska / Ogg Vorbis+Opus blobs: every row must report its
  authored duration, all four parsed containers must appear;
- ``media_xmp`` (round 5j) over JPEG-APP1 XMP packets alternating
  element/attribute RDF form: every row must recover its authored
  creator + license URL and Marked flag.

Synthesis happens executor-side in ``mapInPandas`` (the driver ships
a range); every authored blob round-trips through the real splicers +
codecs, so the soak also measures distributed author+parse
throughput.  Usage: ``python scripts/soak_round5i_provenance.py
[n_scenes]`` (default 50_000; each scene emits 4 image + 6 audio +
2 caption + 2 html + 3 video rows).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def main() -> int:
    n_scenes = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from pyspark.sql import functions as F
    from pyspark.sql.types import (BinaryType, IntegerType, StringType,
                                   StructField, StructType)

    from document_convert_to__markdown_spark.operators.multimodal import (
        caption_cues, media_exif, media_tags, media_video, media_xmp,
    )
    from document_convert_to__markdown_spark.operators.pagemeta import (
        page_metadata,
    )
    from document_convert_to__markdown_spark.pipeline.session import (
        build_session,
        default_cores,
    )

    cores = int(default_cores())
    spark = build_session("soak-r5i-provenance",
                          master=f"local[{cores}]",
                          shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {"metric": "provenance_scan_soak",
                     "n_scenes": n_scenes, "cores": cores}

    IMG_SCHEMA = StructType([
        StructField("url", StringType(), False),
        StructField("o", IntegerType(), False),
        StructField("data", BinaryType(), False)])

    def gen_images(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.exif import (
            invert_orientation, png_add_exif, splice_jpeg_exif,
            webp_add_exif,
        )
        from document_convert_to__markdown_spark.extractors.jpeg_codec \
            import encode_jpeg
        from document_convert_to__markdown_spark.extractors.png_codec \
            import encode_png
        from document_convert_to__markdown_spark.extractors.tiff_codec \
            import encode_tiff_layout
        from document_convert_to__markdown_spark.extractors.webp_codec \
            import encode_webp

        for pdf in batches:
            urls, os_, blobs = [], [], []
            for s in pdf["id"]:
                s = int(s)
                o = s % 8 + 1
                img = np.random.RandomState(s).randint(
                    0, 256, (6, 8, 3)).astype(np.uint8)
                stored = invert_orientation(img, o)
                blobs.append(splice_jpeg_exif(
                    encode_jpeg(img), orientation=o, gps=o % 2 == 0))
                blobs.append(encode_tiff_layout(stored, orientation=o))
                blobs.append(png_add_exif(encode_png(stored),
                                          orientation=o))
                blobs.append(webp_add_exif(encode_webp(stored),
                                           orientation=o))
                for k in ("jpeg", "tiff", "png", "webp"):
                    urls.append(f"s{s:07d}/{k}")
                    os_.append(o)
            yield pd.DataFrame({"url": urls, "o": os_, "data": blobs})

    imgs = spark.range(n_scenes).repartition(2 * cores) \
        .mapInPandas(gen_images, IMG_SCHEMA)
    t0 = time.time()
    exif = media_exif(imgs).join(imgs.select("url", "o"), "url")
    agg = exif.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("orientation") == F.col("o"), 1)
              .otherwise(0)).alias("n_orient_ok"),
        F.sum(F.when(F.col("has_gps"), 1).otherwise(0)).alias("n_gps"),
    ).collect()[0]
    results["exif_rows"] = agg["n"]
    results["exif_sec"] = round(time.time() - t0, 1)
    results["exif_rows_per_sec"] = int(agg["n"] / max(
        time.time() - t0, 1e-9))
    assert agg["n"] == 4 * n_scenes, agg
    assert agg["n_orient_ok"] == 4 * n_scenes, agg
    # gps authored only on the JPEG rendition, even codes only
    assert agg["n_gps"] == n_scenes // 2, agg

    AUD_SCHEMA = StructType([
        StructField("url", StringType(), False),
        StructField("want_title", StringType(), False),
        StructField("data", BinaryType(), False)])

    def gen_audio(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.audio_tags \
            import (append_id3v1, build_id3v2, flac_add_vorbis_comment,
                    wav_add_info)
        from document_convert_to__markdown_spark.extractors.flac_codec \
            import encode_flac
        from document_convert_to__markdown_spark.extractors.wav_codec \
            import encode_wav

        for pdf in batches:
            urls, titles, blobs = [], [], []
            for s in pdf["id"]:
                s = int(s)
                title = f"T{s}"
                pcm = (np.random.RandomState(s)
                       .standard_normal(160) * 0.2).astype(np.float32)
                wav = encode_wav(pcm, rate=8000)
                flac = encode_flac((pcm * 32767).astype(np.int16),
                                   rate=8000)
                mpeg = b"\xff\xfb" + bytes(32)
                renditions = [
                    build_id3v2(title=title, artist="a",
                                version=4) + mpeg,
                    build_id3v2(title=title, artist="a",
                                version=3) + mpeg,
                    build_id3v2(title=title, artist="a",
                                version=2) + mpeg,
                    append_id3v1(mpeg, title=title, artist="a"),
                    flac_add_vorbis_comment(flac, title=title),
                    wav_add_info(wav, title=title),
                ]
                for k, blob in enumerate(renditions):
                    urls.append(f"s{s:07d}/a{k}")
                    titles.append(title)
                    blobs.append(blob)
            yield pd.DataFrame({"url": urls, "want_title": titles,
                                "data": blobs})

    auds = spark.range(n_scenes // 5).repartition(2 * cores) \
        .mapInPandas(gen_audio, AUD_SCHEMA)
    t0 = time.time()
    tags = media_tags(auds).join(auds.select("url", "want_title"),
                                 "url")
    agg = tags.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("title") == F.col("want_title"), 1)
              .otherwise(0)).alias("n_title_ok"),
        F.sum(F.when(F.col("tag_how") == "none", 1)
              .otherwise(0)).alias("n_none"),
    ).collect()[0]
    results["tags_rows"] = agg["n"]
    results["tags_sec"] = round(time.time() - t0, 1)
    assert agg["n"] == 6 * (n_scenes // 5), agg
    assert agg["n_title_ok"] == agg["n"], agg
    assert agg["n_none"] == 0, agg

    TXT_SCHEMA = StructType([
        StructField("url", StringType(), False),
        StructField("data", BinaryType(), False),
        StructField("html", StringType(), False)])

    def gen_text(batches):
        import pandas as pd
        for pdf in batches:
            urls, blobs, htmls = [], [], []
            for s in pdf["id"]:
                s = int(s)
                n_cues = 2 + s % 3
                if s % 2 == 0:
                    cap = "\n".join(
                        f"{c + 1}\n00:00:{c:02d},000 --> "
                        f"00:00:{c:02d},900\nCue {s}-{c}\n"
                        for c in range(n_cues))
                else:
                    cap = "WEBVTT\n\n" + "\n".join(
                        f"00:{c:02d}.000 --> 00:{c:02d}.900\n"
                        f"Cue {s}-{c}\n" for c in range(n_cues))
                html = (f'<html><head><title>P{s}</title>'
                        f'<link rel="canonical" href="https://e.com/{s}">'
                        f'<meta property="article:published_time" '
                        f'content="2024-01-01"><script '
                        f'type="application/ld+json">{{"@type":'
                        f'"Article"}}</script></head>'
                        f"<body><p>x</p></body></html>")
                urls.append(f"s{s:07d}")
                blobs.append(cap.encode())
                htmls.append(html)
            yield pd.DataFrame({"url": urls, "data": blobs,
                                "html": htmls})

    txts = spark.range(n_scenes).repartition(2 * cores) \
        .mapInPandas(gen_text, TXT_SCHEMA).localCheckpoint()
    expected_cues = sum(2 + s % 3 for s in range(n_scenes))

    t0 = time.time()
    agg = caption_cues(txts).agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("kind") == "none", 1)
              .otherwise(0)).alias("n_none")).collect()[0]
    results["cues_rows"] = agg["n_rows"]
    results["cues_sec"] = round(time.time() - t0, 1)
    assert agg["n_rows"] == expected_cues, (agg, expected_cues)
    assert agg["n_none"] == 0, agg

    t0 = time.time()
    agg = page_metadata(txts).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("canonical_url").isNotNull(), 1)
              .otherwise(0)).alias("n_canon"),
        F.sum(F.when(F.col("published_time") == "2024-01-01", 1)
              .otherwise(0)).alias("n_pub"),
        F.sum(F.size("jsonld_types")).alias("n_types")).collect()[0]
    results["pages_rows"] = agg["n"]
    results["pages_sec"] = round(time.time() - t0, 1)
    assert agg["n"] == n_scenes, agg
    assert agg["n_canon"] == n_scenes == agg["n_pub"], agg
    assert agg["n_types"] == n_scenes, agg

    VID_SCHEMA = StructType([
        StructField("url", StringType(), False),
        StructField("want_dur", IntegerType(), False),
        StructField("data", BinaryType(), False)])

    def gen_video(batches):
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.video_meta \
            import build_mp4, build_ogg, build_webm

        for pdf in batches:
            urls, durs, blobs = [], [], []
            for s in pdf["id"]:
                s = int(s)
                dur = 1000 + (s % 100) * 40
                blobs.append(build_mp4(
                    duration_ms=dur, mvhd_v1=s % 2 == 1,
                    video=("avc1", 320 + s % 64, 180, 24)))
                blobs.append(build_webm(
                    duration_ms=dur,
                    doctype="webm" if s % 2 == 0 else "matroska",
                    unknown_segment_size=s % 3 == 0))
                if s % 2 == 0:       # vorbis granule = input-rate pcm
                    blobs.append(build_ogg(codec="vorbis", rate=8000,
                                           n_samples=dur * 8))
                else:                # opus: 48 kHz granule clock,
                    # final granule includes the 312-sample pre-skip
                    blobs.append(build_ogg(codec="opus", rate=8000,
                                           n_samples=dur * 48 + 312))
                for k in ("mp4", "ebml", "ogg"):
                    urls.append(f"s{s:07d}/{k}")
                    durs.append(dur)
            yield pd.DataFrame({"url": urls, "want_dur": durs,
                                "data": blobs})

    vids = spark.range(n_scenes).repartition(2 * cores) \
        .mapInPandas(gen_video, VID_SCHEMA)
    t0 = time.time()
    vm = media_video(vids).join(vids.select("url", "want_dur"), "url")
    agg = vm.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("duration_ms") == F.col("want_dur"), 1)
              .otherwise(0)).alias("n_dur_ok"),
        F.countDistinct("container").alias("n_containers"),
        F.sum(F.when(F.col("container").isNull(), 1)
              .otherwise(0)).alias("n_null")).collect()[0]
    results["video_rows"] = agg["n"]
    results["video_sec"] = round(time.time() - t0, 1)
    results["video_rows_per_sec"] = int(agg["n"] / max(
        time.time() - t0, 1e-9))
    assert agg["n"] == 3 * n_scenes, agg
    assert agg["n_dur_ok"] == 3 * n_scenes, agg
    assert agg["n_containers"] == 4, agg      # mp4/webm/mkv/ogg
    assert agg["n_null"] == 0, agg

    XMP_SCHEMA_ = StructType([
        StructField("url", StringType(), False),
        StructField("want_creator", StringType(), False),
        StructField("data", BinaryType(), False)])

    def gen_xmp(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.jpeg_codec \
            import encode_jpeg
        from document_convert_to__markdown_spark.extractors.xmp import (
            splice_jpeg_xmp,
        )

        for pdf in batches:
            urls, creators, blobs = [], [], []
            for s in pdf["id"]:
                s = int(s)
                img = np.random.RandomState(s).randint(
                    0, 256, (6, 8, 3)).astype(np.uint8)
                creator = f"C{s}"
                blobs.append(splice_jpeg_xmp(
                    encode_jpeg(img), creator=creator,
                    license_url=f"https://l/{s}", marked=s % 2 == 0,
                    attribute_form=s % 2 == 1))
                urls.append(f"s{s:07d}")
                creators.append(creator)
            yield pd.DataFrame({"url": urls, "want_creator": creators,
                                "data": blobs})

    xmps = spark.range(n_scenes).repartition(2 * cores) \
        .mapInPandas(gen_xmp, XMP_SCHEMA_)
    t0 = time.time()
    xm = media_xmp(xmps).join(xmps.select("url", "want_creator"),
                              "url")
    agg = xm.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("creator") == F.col("want_creator"))
                     & F.col("license_url").isNotNull()
                     & F.col("marked").isNotNull(), 1)
              .otherwise(0)).alias("n_ok")).collect()[0]
    results["xmp_rows"] = agg["n"]
    results["xmp_sec"] = round(time.time() - t0, 1)
    assert agg["n"] == n_scenes == agg["n_ok"], agg

    results["checks"] = "pass"
    print(json.dumps(results))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
