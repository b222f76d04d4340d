"""Round-5 soak: perceptual-hash near-dup at 10^5-10^6 row scale.

Proves the multimodal dedup path holds its shape beyond the 90-row
contract fixtures — REAL codec decodes (png_codec / wav_codec) inside
the Arrow kernels, the banded Hamming self-join, and closed-form
output checks:

- images: ``n_scenes`` distinct seeded 8×9 grayscale grids, each
  rendered twice (base PNG; +10 brightness — dHash-invariant — cycled
  by scene across EVERY lossless decode path: plain PNG, Adam7-
  interlaced PNG, 16-bit PNG, LZW TIFF, deflate+predictor TIFF,
  PackBits TIFF, RLE8 BMP with an identity gray palette, VP8L WebP
  cycling the encoder transforms, and — round 5i — the four TIFF
  layout paths (tiled, 16-bit gray, full-range-ColorMap palette,
  planar RGB strips with predictor) — so each from-scratch codec
  decodes at 10^4-10^5 volume inside the Arrow kernel).  Pairs found
  must be EXACTLY n_scenes, all at Hamming 0: every within-scene pair
  recalled, and random 64-bit codes put the expected cross-scene
  collision count at ~C(n,2)·4.4e4/2^64 (≪ 1 even at 10^6 rows), so
  any extra pair is a real defect (any cross-codec hash mismatch
  included).
- audio: ``n_scenes/10`` clips built in the frequency domain (65
  decisive log-band energies), each rendered twice (full gain, 0.45×);
  the second rendition alternates WAV / FLAC per scene, so the
  from-scratch RFC 9639 decoder (rice + fixed predictors + CRC-16
  verify) runs at 10^4 volume inside the Arrow hash kernel and must
  agree with the WAV rendition bit-for-bit through the fingerprint.
  Same exact-count/zero-distance check through the same banded join.
- animation: ``n_scenes/5`` six-frame animations, alternating APNG
  (full dispose cycle incl. previous) and animated lossless WebP
  (ANMF, even offsets, none/background dispose) per scene, through
  ``video_frame_sample``; every sampled frame's crc32 must equal the
  one an INDEPENDENT numpy compositor (written in this script, not
  the codecs) computed at synthesis time — a bit-exact 10^5-frame
  exercise of BOTH container walks and the shared Porter-Duff OVER /
  dispose math.

Synthesis happens executor-side in ``mapInPandas`` (the driver ships
only a range), so the soak also measures distributed encode+decode
throughput: PNG scanline filters and WAV PCM quantization run once per
row on the way in, the codec decodes run once per row inside the hash
kernels.

Usage: python scripts/soak_round5_multimodal.py [n_scenes]  (default
100000 → 200k images + 20k clips).  Prints one JSON line.  Run
serialized (no concurrent Spark jobs).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n_scenes = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from document_convert_to__markdown_spark.operators.multimodal import (
        audio_spectral_hash, image_dhash, image_neardup_pairs,
    )

    from document_convert_to__markdown_spark.pipeline.session import (
        default_cores,
    )

    cores = int(default_cores())
    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config("spark.sql.shuffle.partitions", str(2 * cores))
             .config("spark.driver.memory", f"{max(3 * cores // 2, 8)}g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {"metric": "multimodal_neardup_soak",
                     "n_scenes": n_scenes, "cores": cores}

    # --- images: 2 PNG renditions per scene, executor-side synth ----
    from pyspark.sql.types import (BinaryType, StringType, StructField,
                                   StructType)

    IMG_SCHEMA = StructType([StructField("url", StringType(), False),
                             StructField("data", BinaryType(), False)])

    def gen_images(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.bmp_codec \
            import encode_bmp_rle8
        from document_convert_to__markdown_spark.extractors.png_codec \
            import encode_png
        from document_convert_to__markdown_spark.extractors.tiff_codec \
            import encode_tiff, encode_tiff_layout
        from document_convert_to__markdown_spark.extractors.webp_codec \
            import encode_webp

        transforms = (None, "subtract_green", "predictor", "palette")
        gray_pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        # full-range identity ColorMap: v*257 >> 8 == v, so the
        # palette TIFF decodes back to the exact gray values
        gray_pal16 = np.stack(
            [np.arange(256, dtype=np.uint16) * 257] * 3, axis=1)

        def rendition(s, img):
            k = s % 12
            if k == 0:          # VP8L WebP, transform cycle
                return encode_webp(img, transform=transforms[(s >> 3) % 4],
                                   predictor_mode=s % 14)
            if k == 1:
                return encode_png(img)
            if k == 2:
                return encode_png(img, interlace=True)     # Adam7
            if k == 3:
                return encode_png(img, depth=16)
            if k == 4:
                return encode_tiff(img, compression="lzw")
            if k == 5:
                return encode_tiff(img, compression="deflate",
                                   predictor=True)
            if k == 6:
                return encode_tiff(img, compression="packbits")
            if k == 7:      # RLE8 BMP, identity gray palette (equal
                # channels keep the dHash channel-mean exact)
                return encode_bmp_rle8(img, gray_pal)
            # round-5i layout paths (encode_tiff_layout):
            if k == 8:          # tiled gray (one edge-cropped tile)
                return encode_tiff_layout(img, tile=(16, 16),
                                          compression="deflate")
            if k == 9:          # 16-bit gray, v*257 >> 8 == v exact
                return encode_tiff_layout(
                    img.astype(np.uint16) * 257, rows_per_strip=3,
                    compression="lzw")
            if k == 10:         # palette TIFF, identity 16-bit map
                return encode_tiff_layout(img, palette=gray_pal16,
                                          bit_depth=8,
                                          compression="packbits")
            # k == 11: planar RGB strips (equal channels), predictor
            return encode_tiff_layout(
                np.stack([img] * 3, axis=2), planar=2,
                rows_per_strip=2, compression="lzw", predictor=True)

        for pdf in batches:
            urls, blobs = [], []
            for s in pdf["id"]:
                s = int(s)
                base = np.random.RandomState(s) \
                    .randint(0, 240, (8, 9)).astype(np.uint8)
                urls.append(f"s{s:07d}/a")
                blobs.append(encode_png(base))
                urls.append(f"s{s:07d}/b")
                blobs.append(rendition(s, base + 10))
            yield pd.DataFrame({"url": urls, "data": blobs})

    imgs = spark.range(n_scenes).repartition(64) \
        .mapInPandas(gen_images, IMG_SCHEMA)

    t0 = time.time()
    hashes = image_dhash(imgs).localCheckpoint()   # materialize hash stage
    n_imgs = hashes.count()
    t_hash = time.time() - t0
    results["n_images"] = n_imgs
    results["renditions_per_codec_path"] = n_scenes // 12
    results["img_hash_sec"] = round(t_hash, 1)
    results["img_hash_docs_per_sec"] = round(n_imgs / t_hash)

    t0 = time.time()
    pairs = image_neardup_pairs(hashes, max_hamming=3, n_bands=4) \
        .localCheckpoint()
    n_pairs = pairs.count()
    results["img_pairs"] = n_pairs
    results["img_join_sec"] = round(time.time() - t0, 1)
    results["img_pairs_h0"] = pairs.filter("hamming = 0").count()
    same = pairs.filter(F.substring("id_a", 1, 8)
                        == F.substring("id_b", 1, 8)).count()
    assert n_imgs == 2 * n_scenes, results
    assert n_pairs == n_scenes == same == results["img_pairs_h0"], results

    # --- audio: 2 WAV renditions per scene ---------------------------
    n_clips = max(n_scenes // 10, 100)

    def gen_clips(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.flac_codec \
            import encode_flac
        from document_convert_to__markdown_spark.extractors.wav_codec \
            import encode_wav
        from document_convert_to__markdown_spark.operators.multimodal \
            import _BAND_EDGES

        centers = (_BAND_EDGES[:-1] + _BAND_EDGES[1:]) // 2
        for pdf in batches:
            urls, blobs = [], []
            for s in pdf["id"]:
                s = int(s)
                rng = np.random.RandomState(s)
                amps = 0.97 ** rng.permutation(65).astype(np.float64)
                coef = np.zeros(8193, dtype=complex)
                coef[centers] = amps * np.exp(
                    1j * rng.uniform(0, 2 * np.pi, 65))
                x = np.fft.irfft(coef, 16384)
                x = 0.9 * x / np.abs(x).max()
                urls.append(f"c{s:07d}/a")
                blobs.append(encode_wav(x, 16000))
                urls.append(f"c{s:07d}/b")
                # alternate the gain-scaled rendition's container: the
                # FLAC path must land at Hamming 0 exactly like WAV
                enc = encode_flac if s % 2 == 0 else encode_wav
                blobs.append(enc(0.45 * x, 16000))
            yield pd.DataFrame({"url": urls, "data": blobs})

    clips = spark.range(n_clips).repartition(64) \
        .mapInPandas(gen_clips, IMG_SCHEMA)

    t0 = time.time()
    ahashes = audio_spectral_hash(clips).localCheckpoint()
    n_audio = ahashes.count()
    t_ahash = time.time() - t0
    results["n_clips"] = n_audio
    results["audio_hash_sec"] = round(t_ahash, 1)
    results["audio_hash_clips_per_sec"] = round(n_audio / t_ahash)
    results["audio_pcm_rows"] = ahashes.filter("mode = 'pcm'").count()
    results["audio_flac_rows"] = ahashes.filter("mode = 'flac'").count()

    apairs = image_neardup_pairs(ahashes, hash_col="ahash",
                                 max_hamming=3, n_bands=4)
    n_apairs = apairs.count()
    results["audio_pairs"] = n_apairs
    results["audio_pairs_h0"] = apairs.filter("hamming = 0").count()
    assert n_audio == 2 * n_clips, results
    assert results["audio_flac_rows"] == (n_clips + 1) // 2, results
    assert results["audio_pcm_rows"] == n_audio \
        - results["audio_flac_rows"], results
    assert n_apairs == n_clips == results["audio_pairs_h0"], results

    # --- animation: 6-frame APNGs, independent-compositor CRCs ------
    n_anim = max(n_scenes // 5, 100)

    ANIM_SCHEMA = StructType([
        StructField("url", StringType(), False),
        StructField("data", BinaryType(), False),
        StructField("crc0", StringType(), False),   # frame 0 crc32 hex
        StructField("crc3", StringType(), False),   # frame 3 crc32 hex
    ])

    def gen_anims(batches):
        import zlib

        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.png_codec \
            import encode_apng
        from document_convert_to__markdown_spark.extractors.webp_codec \
            import encode_webp_anim

        def over(dst, src):
            # independent Porter-Duff OVER twin (NOT the codec's code)
            fa = src[:, :, 3:].astype(np.float64) / 255.0
            ca = dst[:, :, 3:].astype(np.float64) / 255.0
            oa = fa + ca * (1 - fa)
            orgb = src[:, :, :3] * fa + dst[:, :, :3] * ca * (1 - fa)
            out = dst.copy()
            out[:, :, :3] = np.rint(
                orgb / np.where(oa == 0, 1.0, oa)).astype(np.uint8)
            out[:, :, 3:] = np.rint(oa * 255).astype(np.uint8)
            return out

        for pdf in batches:
            rows = []
            for s in pdf["id"]:
                s = int(s)
                # even scenes render as animated WebP (ANMF: even
                # offsets, dispose none/background only), odd as APNG
                # (full dispose cycle incl. previous) — the SAME
                # independent compositor replays both
                is_webp = s % 2 == 0
                rng = np.random.RandomState(1 << 20 | s)
                h, w = 6 + s % 3, 7 + s % 4
                base = rng.randint(0, 256, (h, w, 4)).astype(np.uint8)
                base[:, :, 3] = 255
                spec = []                  # (patch, x, y, dispose, blend)
                canvas = base.copy()
                d0 = (s % 3) if not is_webp else (s % 2)
                spec.append((base, 0, 0, d0, 0))
                composites = [canvas.copy()]
                # replay dispose of frame 0 (APNG first-frame coercion:
                # dispose PREVIOUS acts as BACKGROUND)
                if (1 if d0 == 2 else d0) == 1:
                    canvas = np.zeros_like(canvas)
                for f in range(5):
                    ph, pw = 2 + (s + f) % 3, 2 + (s + f) % 4
                    if is_webp:
                        x0 = 2 * ((s + f) % ((w - pw) // 2 + 1))
                        y0 = 2 * (f % ((h - ph) // 2 + 1))
                        dispose = (s + f) % 2
                    else:
                        x0 = (s + f) % (w - pw + 1)
                        y0 = f % (h - ph + 1)
                        dispose = (s + f) % 3
                    blend = (s + f) % 2
                    patch = rng.randint(0, 256, (ph, pw, 4)) \
                        .astype(np.uint8)
                    spec.append((patch, x0, y0, dispose, blend))
                    saved = canvas.copy() if dispose == 2 else None
                    rect = canvas[y0:y0 + ph, x0:x0 + pw]
                    rect[:] = patch if blend == 0 else over(rect, patch)
                    composites.append(canvas.copy())
                    if dispose == 1:
                        canvas[y0:y0 + ph, x0:x0 + pw] = 0
                    elif dispose == 2:
                        canvas = saved
                if is_webp:
                    # WebP bit semantics: blend bit 1 = overwrite
                    # (SOURCE), 0 = OVER; bg (0,0,0,0) makes dispose-
                    # to-background equal APNG's clear-to-transparent
                    blob = encode_webp_anim(
                        [(px, x, y, 1 - b, d)
                         for px, x, y, d, b in spec],
                        bg=(0, 0, 0, 0))
                else:
                    blob = encode_apng(spec)
                rows.append((f"a{s:07d}", bytearray(blob),
                             f"{zlib.crc32(composites[0].tobytes()):08x}",
                             f"{zlib.crc32(composites[3].tobytes()):08x}"))
            yield pd.DataFrame(
                rows, columns=["url", "data", "crc0", "crc3"])

    anims = spark.range(n_anim).repartition(64) \
        .mapInPandas(gen_anims, ANIM_SCHEMA).localCheckpoint()

    from document_convert_to__markdown_spark.operators.multimodal import (
        video_frame_sample,
    )

    t0 = time.time()
    frames = video_frame_sample(anims.select("url", "data"), every_n=3)
    got = (frames
           .withColumn("crc", F.lpad(F.lower(F.hex(F.crc32("frame_data"))),
                                     8, "0"))
           .join(anims.select("url", "crc0", "crc3"), "url")
           .withColumn("expected", F.when(F.col("frame_idx") == 0,
                                          F.col("crc0"))
                       .otherwise(F.col("crc3"))))
    agg = got.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("mode") == "apng", 1).otherwise(0))
        .alias("n_apng"),
        F.sum(F.when(F.col("mode") == "webp", 1).otherwise(0))
        .alias("n_webp"),
        F.sum(F.when(F.col("crc") == F.col("expected"), 1).otherwise(0))
        .alias("n_crc_match")).collect()[0]
    results["n_anims"] = n_anim
    results["anim_frames_sampled"] = agg.n
    results["anim_apng_frames"] = agg.n_apng
    results["anim_webp_frames"] = agg.n_webp
    results["anim_frame_sec"] = round(time.time() - t0, 1)
    results["anim_frames_per_sec"] = round(
        agg.n * 3 / max(time.time() - t0, 1e-9))
    assert agg.n == 2 * n_anim == agg.n_crc_match, results
    assert agg.n_apng == 2 * (n_anim // 2), results
    assert agg.n_webp == 2 * ((n_anim + 1) // 2), results

    # --- lossy VP8: decode determinism at volume ---------------------
    # dHash under a lossy codec is approximate BY DESIGN (quantization
    # flips near-tie gradient bits), so the volume invariant here is
    # decode determinism: each scene pairs the VP8 bitstream with a
    # PNG of its OWN decoded pixels — the executor-side decode in the
    # hash kernel must reproduce the synthesis-side decode exactly, so
    # every pair sits at Hamming 0 with zero cross-scene pairs.
    # Stream layouts cycle quality 60/75/85/95 x partitions 1/2/4/8 x
    # normal/simple loop filter.
    n_vp8 = max(n_scenes // 10, 100)

    def gen_vp8(batches):
        import numpy as np
        import pandas as pd

        from document_convert_to__markdown_spark.extractors.png_codec \
            import encode_png
        from document_convert_to__markdown_spark.extractors.vp8_codec \
            import encode_webp_lossy
        from document_convert_to__markdown_spark.extractors.webp_codec \
            import decode_webp

        quals = (60, 75, 85, 95)
        parts = (1, 2, 4, 8)
        for pdf in batches:
            urls, blobs = [], []
            for s in pdf["id"]:
                s = int(s)
                rng = np.random.RandomState(s)
                yy, xx = np.mgrid[0:32, 0:32]
                base = (120 + 70 * np.sin(xx / (4 + s % 7) + s)
                        * np.cos(yy / (6 + s % 5)))[..., None] \
                    + rng.randint(-6, 7, (32, 32, 3))
                img = np.clip(base, 0, 255).astype(np.uint8)
                blob = encode_webp_lossy(
                    img, quality=quals[s % 4],
                    filter_level=(0 if s % 3 == 0 else 16),
                    filter_simple=(s % 6 >= 3),
                    n_partitions=parts[(s >> 2) % 4])
                ref = decode_webp(blob)[0]
                urls.append(f"v{s:07d}/a")
                blobs.append(encode_png(ref))
                urls.append(f"v{s:07d}/b")
                blobs.append(blob)
            yield pd.DataFrame({"url": urls, "data": blobs})

    vimgs = spark.range(n_vp8).repartition(64) \
        .mapInPandas(gen_vp8, IMG_SCHEMA)
    t0 = time.time()
    vhashes = image_dhash(vimgs).localCheckpoint()
    n_vimgs = vhashes.count()
    t_vhash = time.time() - t0
    results["n_vp8_scenes"] = n_vp8
    results["vp8_hash_sec"] = round(t_vhash, 1)
    results["vp8_imgs_per_sec"] = round(n_vimgs / t_vhash)
    vpairs = image_neardup_pairs(vhashes, max_hamming=3, n_bands=4) \
        .localCheckpoint()
    results["vp8_pairs"] = vpairs.count()
    vsame = vpairs.filter(F.substring("id_a", 1, 8)
                          == F.substring("id_b", 1, 8)) \
        .localCheckpoint()
    results["vp8_same_scene_pairs"] = vsame.count()
    results["vp8_same_scene_h0"] = vsame.filter("hamming = 0").count()
    # cross-scene pairs are benign hash coincidences between DIFFERENT
    # smooth scenes (a 64-bit dHash of low-frequency content), reported
    # but not asserted; the determinism invariant is exact: every
    # scene's (vp8, png-of-decoded-vp8) pair exists at Hamming 0.
    results["vp8_cross_scene_pairs"] = (results["vp8_pairs"]
                                        - results["vp8_same_scene_pairs"])
    assert n_vimgs == 2 * n_vp8, results
    assert results["vp8_same_scene_pairs"] == n_vp8 \
        == results["vp8_same_scene_h0"], results

    results["checks"] = "pass"
    print(json.dumps(results))


if __name__ == "__main__":
    main()
