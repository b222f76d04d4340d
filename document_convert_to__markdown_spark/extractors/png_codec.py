"""From-scratch PNG decode/encode — stdlib ``zlib`` + numpy only.

The container has no image libraries (PIL/ffmpeg installs are
off-limits), which is why the multimodal decode kernels started as
stubs.  PNG, the dominant lossless web image format, needs nothing
beyond DEFLATE — so this module implements the subset of ISO/IEC
15948 / RFC 2083 a training-data pipeline actually meets:

- ``decode_png``: color types 0 (gray), 2 (RGB), 3 (palette),
  4 (gray+alpha), 6 (RGBA) at every legal bit depth — 8, 16 (reduced
  to 8 via the high byte, the standard presentation mapping), and the
  sub-byte 1/2/4 gray/palette depths (bit-unpacked, gray rescaled by
  the exact 255/(2^d-1) factor) — both sequential and Adam7
  interlaced (each of the seven passes is its own filtered sub-image,
  scattered back on the (x0, y0, dx, dy) lattice, spec §8.2); all
  five scanline filters (None/Sub/Up/Average/Paeth, spec §6) reversed
  exactly, with the filter's bpp equal to the *byte* stride per pixel
  (1 for sub-byte rows, 2×channels at depth 16); ``tRNS``
  transparency (spec §11.3.2) for all three legal color types —
  per-palette-entry alpha, and the single transparent gray/RGB sample
  value (palette → RGBA, gray → LA, RGB → RGBA).
- ``encode_png``: gray/gray+alpha/RGB/RGBA arrays as filter-0
  scanlines (the synthesizer's ``make_png`` twin), optionally Adam7
  interlaced and/or widened to depth 16 or packed to sub-byte gray —
  so the decoder's pass walk, 16-bit reduction, and bit unpacking are
  all roundtrip-tested without any external PNG to import.

- ``decode_apng_frames`` / ``encode_apng``: the APNG extension
  (W3C PNG 3rd ed. §12 — ``acTL``/``fcTL``/``fdAT`` chunks), i.e.
  animated PNG, the successor to animated GIF on the modern web.
  Each frame region is a complete PNG datastream decoded through
  ``decode_png``; frames composite onto a shared RGBA canvas honoring
  ``blend_op`` (SOURCE overwrite / Porter-Duff OVER) and
  ``dispose_op`` (none / clear-to-transparent / restore-previous),
  with the spec's first-frame coercions (OVER→SOURCE,
  PREVIOUS→BACKGROUND).

Anything outside that (illegal depth/type combos, undeclared streams)
raises ``UnsupportedPNG``/``ValueError`` so callers can fall back to
their stub path explicitly — never a silent wrong decode.

Cross-validated against the system libpng16 (``tests/
test_libpng_parity.py``, test-time oracle only): libpng decodes
``encode_png`` output — gray 1/2/4/8, LA, RGB, RGBA, sequential and
Adam7 — to the exact same 8-bit expansion this decoder produces, and
libpng-written PNGs decode here pixel-exactly.

Pure Python per-row filter loops are fine here: scanlines are
sequential by definition (each byte depends on the previous), and the
Up filter — the only whole-row-parallel one — uses numpy.  Decode
speed is bounded by the IDAT inflate (``bounded.inflate``) for real
images.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bounded import inflate

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> channels in the raw scanline
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_MODES = {0: "L", 2: "RGB", 3: "RGB", 4: "LA", 6: "RGBA"}


class UnsupportedPNG(ValueError):
    """Valid PNG outside the implemented subset (decoded-size caps,
    non-animated input to the APNG decoder)."""


def _chunks(payload: bytes):
    pos = len(PNG_SIG)
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        yield tag, data
        pos += 12 + length  # length + tag + data + crc
        if tag == b"IEND":
            return


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse per-scanline filtering (spec §6.1-6.6) → (h, stride) u8."""
    expected = height * (stride + 1)
    if len(raw) < expected:
        # BEFORE the output allocation: a crafted IHDR declaring huge
        # dimensions with a tiny IDAT must die as ValueError here, not
        # as a MemoryError on np.empty below
        raise ValueError("truncated PNG pixel data")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        row = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 0:                              # None
            pass
        elif ftype == 1:                            # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:                            # Up
            row = bytearray(
                ((np.frombuffer(bytes(row), dtype=np.uint8)
                  + prev) & 0xFF).astype(np.uint8).tobytes())
        elif ftype == 3:                            # Average
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:                            # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
        prev = out[y]
    return out


# Adam7 pass lattice: (x0, y0, dx, dy) per pass (spec §8.2)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

# legal (color type -> bit depths) combos, spec table 11.1
_LEGAL_DEPTHS = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                 4: (8, 16), 6: (8, 16)}


def _row_stride(width: int, depth: int, ch: int) -> int:
    """Filtered scanline byte length for `width` pixels."""
    return (width * depth * ch + 7) // 8


def _samples(grid: np.ndarray, width: int, depth: int,
             ch: int) -> np.ndarray:
    """Unfiltered row bytes ``(rows, stride)`` → ``(rows, width, ch)``
    uint8 samples: depth 16 reduces via the high (big-endian first)
    byte; sub-byte depths unpack MSB-first (spec §7.2)."""
    h = grid.shape[0]
    if depth == 8:
        return grid[:, :width * ch].reshape(h, width, ch)
    if depth == 16:
        return grid[:, :width * ch * 2].reshape(h, width * ch, 2)[:, :, 0] \
            .reshape(h, width, ch)
    bits = np.unpackbits(grid, axis=1)[:, :width * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    v = (bits.reshape(h, width, depth) * weights).sum(axis=2)
    return v.astype(np.uint8).reshape(h, width, 1)


def decode_png(payload: bytes) -> tuple[np.ndarray, str]:
    """PNG bytes → ``(pixels, mode)``.

    ``pixels`` is ``(h, w)`` uint8 for mode ``"L"`` and ``(h, w, c)``
    for ``"LA"``/``"RGB"``/``"RGBA"``; palette images resolve through
    PLTE to RGB; depth 16 reduces to 8 via the high byte; sub-byte
    grays rescale by 255/(2^d-1); Adam7 passes scatter back onto the
    full lattice.  A ``tRNS`` chunk (spec §11.3.2 — the common web
    transparency form for palette PNGs) widens the output: palette →
    RGBA with per-entry alpha (missing entries opaque), gray → LA and
    RGB → RGBA with alpha 0 exactly where the sample equals the
    declared transparent value (compared at the stored precision —
    the high byte at depth 16, matching the sample reduction; the raw
    sub-depth value before the gray rescale).  Raises ``ValueError``
    (or its ``UnsupportedPNG`` subclass) for malformed or
    out-of-subset inputs.
    """
    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    ihdr = None
    plte = None
    trns = None
    idat = []
    for tag, data in _chunks(payload):
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = data
        elif tag == b"tRNS":
            trns = data
        elif tag == b"IDAT":
            idat.append(data)
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("bad PNG compression/filter method")
    if interlace not in (0, 1):
        raise ValueError("bad PNG interlace method")
    if ctype not in _CHANNELS:
        raise ValueError(f"bad PNG color type {ctype}")
    if depth not in _LEGAL_DEPTHS[ctype]:
        raise ValueError(f"illegal depth {depth} for color type {ctype}")
    if width == 0 or height == 0:
        raise ValueError("zero-dimension PNG")

    ch = _CHANNELS[ctype]
    bpp = max(1, depth * ch // 8)     # filter stride per pixel, in bytes
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = _ADAM7
    spans = []                        # (pw, ph, x0, y0, dx, dy, stride)
    expected = 0
    for x0, y0, dx, dy in passes:
        pw = max(0, -(-(width - x0) // dx))
        ph = max(0, -(-(height - y0) // dy))
        if pw == 0 or ph == 0:
            continue                  # empty pass contributes no bytes
        stride = _row_stride(pw, depth, ch)
        spans.append((pw, ph, x0, y0, dx, dy, stride))
        expected += ph * (stride + 1)
    if expected > 1 << 28:
        # decoded-size ceiling (256 MiB of scanlines): zlib expands up
        # to ~1032x, so without a cap a small crafted payload can
        # demand tens of GB.  Real web images sit far below this;
        # UnsupportedPNG → callers' stub fallback, never an OOM.
        raise UnsupportedPNG("PNG decoded size beyond 256MiB cap")
    try:
        # decompress with the output CAPPED at the size the header
        # promises — a decompression bomb stops at `expected` bytes
        # instead of materializing its full expansion
        raw = inflate(b"".join(idat), expected)[0]
    except zlib.error as exc:
        # zlib.error subclasses Exception, NOT ValueError — without
        # this wrap one corrupt IDAT kills the whole Arrow batch task
        raise ValueError(f"corrupt PNG deflate stream: {exc}") from None

    full = np.zeros((height, width, ch), dtype=np.uint8)
    pos = 0
    for pw, ph, x0, y0, dx, dy, stride in spans:
        sub = _unfilter(raw[pos:pos + ph * (stride + 1)], ph, stride, bpp)
        pos += ph * (stride + 1)
        full[y0::dy, x0::dx] = _samples(sub, pw, depth, ch)

    if trns is not None and ctype in (4, 6):
        raise ValueError("tRNS is illegal for alpha color types")
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = full.reshape(height, width)
        if pal.shape[0] == 0 or int(idx.max()) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        if trns is not None:
            # per-entry alpha; entries past the chunk are opaque
            alpha = np.full(pal.shape[0], 255, dtype=np.uint8)
            n_a = min(len(trns), pal.shape[0])
            alpha[:n_a] = np.frombuffer(trns[:n_a], dtype=np.uint8)
            return np.concatenate(
                [pal[idx], alpha[idx][:, :, None]], axis=2), "RGBA"
        return pal[idx], _MODES[ctype]
    if ctype == 0:
        gray = full.reshape(height, width)
        mask = None
        if trns is not None:
            if len(trns) < 2:
                raise ValueError("truncated tRNS for grayscale")
            v16 = struct.unpack(">H", trns[:2])[0]
            cmp = v16 >> 8 if depth == 16 else v16 & ((1 << depth) - 1)
            # compared BEFORE the sub-byte rescale, at stored precision
            mask = gray == cmp
        if depth < 8:
            # exact integer rescale: 255 is divisible by 1, 3, and 15
            gray = gray * np.uint8(255 // ((1 << depth) - 1))
        if mask is not None:
            a = np.where(mask, 0, 255).astype(np.uint8)
            return np.stack([gray, a], axis=2), "LA"
        return gray, _MODES[ctype]
    if ctype == 2 and trns is not None:
        if len(trns) < 6:
            raise ValueError("truncated tRNS for RGB")
        v = struct.unpack(">HHH", trns[:6])
        cmp = [x >> 8 if depth == 16 else x & 0xFF for x in v]
        mask = ((full[:, :, 0] == cmp[0]) & (full[:, :, 1] == cmp[1])
                & (full[:, :, 2] == cmp[2]))
        a = np.where(mask, 0, 255).astype(np.uint8)
        return np.concatenate([full, a[:, :, None]], axis=2), "RGBA"
    return full, _MODES[ctype]


def _pack_rows(samp: np.ndarray, depth: int, ch: int) -> bytes:
    """(rows, width, ch) uint8 samples → filter-0 scanline bytes."""
    h, w = samp.shape[:2]
    if depth == 8:
        body = samp.reshape(h, w * ch)
        return b"".join(b"\x00" + body[y].tobytes() for y in range(h))
    if depth == 16:
        # widen v -> (v<<8)|v == v*257, the exact inverse of the
        # decoder's high-byte reduction
        wide = (samp.astype(">u2") * 257).reshape(h, w * ch)
        return b"".join(b"\x00" + wide[y].tobytes() for y in range(h))
    # sub-byte gray: values must already fit the depth
    bits = ((samp.reshape(h, w, 1)
             >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    rows = np.packbits(bits.reshape(h, w * depth), axis=1)
    return b"".join(b"\x00" + rows[y].tobytes() for y in range(h))


def encode_png(pixels: np.ndarray, mode: str | None = None,
               interlace: bool = False, depth: int = 8) -> bytes:
    """Pixel array → PNG bytes (filter 0, one IDAT).

    ``(h, w)`` arrays encode as grayscale; ``(h, w, {2,3,4})`` as
    LA/RGB/RGBA.  ``mode`` is accepted for symmetry and validated.
    ``interlace`` emits the seven Adam7 passes; ``depth`` accepts 16
    (samples widened to v*257 so the decode reduces back exactly) and
    1/2/4 for grayscale whose values already fit the depth — both
    exist to roundtrip-test the decoder's full lattice.
    """
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        ctype, ch = 0, 1
    elif arr.ndim == 3 and arr.shape[2] in (2, 3, 4):
        ctype = {2: 4, 3: 2, 4: 6}[arr.shape[2]]
        ch = arr.shape[2]
    else:
        raise ValueError(f"unsupported pixel array shape {arr.shape}")
    if mode is not None and mode != _MODES[ctype]:
        raise ValueError(f"mode {mode!r} does not match array shape")
    if depth not in _LEGAL_DEPTHS[ctype] or (depth < 8 and ctype != 0):
        raise ValueError(f"encode depth {depth} unsupported for this shape")
    if depth < 8 and int(arr.max(initial=0)) >= (1 << depth):
        raise ValueError(f"samples exceed {depth}-bit range")
    h, w = arr.shape[0], arr.shape[1]
    samp = arr.reshape(h, w, ch)
    if interlace:
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            part = samp[y0::dy, x0::dx]
            if part.shape[0] and part.shape[1]:
                raw += _pack_rows(part, depth, ch)
    else:
        raw = _pack_rows(samp, depth, ch)

    return (PNG_SIG
            + _chunk(b"IHDR",
                     struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0,
                                 1 if interlace else 0))
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b""))


# ------------------------------------------------------------------ APNG
# Animated PNG (W3C PNG spec 3rd edition §12; formerly the Mozilla APNG
# extension).  acTL declares the animation, fcTL carries per-frame
# geometry + dispose/blend ops, fdAT carries frame pixel data with a
# 4-byte sequence-number prefix.  Every frame's fdAT payloads together
# form a complete zlib datastream with the same depth/color type as the
# IHDR — so each frame decodes through `decode_png` on a reconstructed
# single-frame datastream, reusing the filter/interlace/palette walk.


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def composite_over(rect: np.ndarray, rgba: np.ndarray) -> None:
    """In-place Porter-Duff OVER of ``rgba`` onto the RGBA canvas view
    ``rect`` — float64 with ``np.rint`` (round-half-even) so the
    integer result is platform-independent.  Shared by the APNG and
    animated-WebP compositors: the pinned frame CRCs in both contract
    queries depend on this exact rounding, so the math lives in ONE
    place."""
    fa = rgba[:, :, 3:].astype(np.float64) / 255.0
    ca = rect[:, :, 3:].astype(np.float64) / 255.0
    oa = fa + ca * (1.0 - fa)
    orgb = (rgba[:, :, :3].astype(np.float64) * fa
            + rect[:, :, :3].astype(np.float64) * ca * (1.0 - fa))
    safe = np.where(oa == 0.0, 1.0, oa)
    rect[:, :, :3] = np.rint(orgb / safe).astype(np.uint8)
    rect[:, :, 3:] = np.rint(oa * 255.0).astype(np.uint8)


def _to_rgba(px: np.ndarray, mode: str) -> np.ndarray:
    """decode_png output → (h, w, 4) RGBA uint8."""
    if mode == "L":
        g = px[:, :, None]
        return np.concatenate(
            [g, g, g, np.full_like(g, 255)], axis=2)
    if mode == "LA":
        g = px[:, :, :1]
        return np.concatenate([g, g, g, px[:, :, 1:]], axis=2)
    if mode == "RGB":
        return np.concatenate(
            [px, np.full(px.shape[:2] + (1,), 255, dtype=np.uint8)],
            axis=2)
    return px


def decode_apng_frames(payload: bytes,
                       max_frames: int = 256) -> list[np.ndarray]:
    """APNG bytes → list of fully-composited ``(h, w, 4)`` RGBA
    canvases, one per animation frame.

    Compositing follows the spec exactly: ``blend_op`` 0 overwrites the
    frame rectangle, 1 is Porter-Duff OVER; after the frame renders,
    ``dispose_op`` 1 clears the rectangle to fully-transparent black
    and 2 restores the pre-frame canvas.  On the FIRST frame the spec
    coerces OVER→SOURCE and PREVIOUS→BACKGROUND.  When the ``fcTL``
    with sequence 0 precedes ``IDAT``, the default image IS frame 0;
    otherwise the default image is not part of the animation and every
    frame comes from ``fdAT``.  Raises ``UnsupportedPNG`` for a static
    PNG (no ``acTL``) and ``ValueError`` for malformed animations
    (broken sequence numbers, frame rect outside the canvas, acTL
    frame-count mismatch) — never a silent wrong composite.
    """
    if not payload.startswith(PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    ihdr = None
    plte = None
    trns = None
    actl = None
    seqs: list[int] = []
    frames: list[dict] = []
    idat_seen = False
    fdat_seen = False
    for tag, data in _chunks(payload):
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"PLTE":
            plte = data
        elif tag == b"tRNS":
            trns = data
        elif tag == b"acTL":
            if idat_seen:
                raise ValueError("APNG acTL after IDAT")
            if len(data) < 8:
                raise ValueError("truncated acTL")
            actl = struct.unpack(">II", data[:8])
        elif tag == b"fcTL":
            if len(data) < 26:
                raise ValueError("truncated fcTL")
            (seq, fw, fh, x0, y0, _dn, _dd,
             dispose, blend) = struct.unpack(">IIIIIHHBB", data[:26])
            seqs.append(seq)
            frames.append({"w": fw, "h": fh, "x": x0, "y": y0,
                           "dispose": dispose, "blend": blend,
                           "data": []})
        elif tag == b"IDAT":
            idat_seen = True
            # the default image is animation frame 0 only when its
            # fcTL arrived first (spec §12.3) — otherwise IDAT is the
            # standalone default image and contributes no frame
            if len(frames) == 1 and not fdat_seen:
                frames[0]["data"].append(data)
        elif tag == b"fdAT":
            if len(data) < 4:
                raise ValueError("truncated fdAT")
            fdat_seen = True
            seqs.append(struct.unpack(">I", data[:4])[0])
            if not frames:
                raise ValueError("APNG fdAT before any fcTL")
            frames[-1]["data"].append(data[4:])
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    if actl is None:
        raise UnsupportedPNG("PNG without acTL (not animated)")
    width, height, depth, ctype, comp, filt, interlace = ihdr
    if seqs != list(range(len(seqs))):
        raise ValueError("APNG sequence numbers not consecutive from 0")
    num_frames = actl[0]
    if num_frames != len(frames) or num_frames == 0:
        raise ValueError(
            f"acTL declares {num_frames} frames, found {len(frames)}")
    if width * height > 1 << 24:
        # canvas bomb cap (matches the GIF compositor): a crafted
        # header must not make the per-frame canvas copies explode
        raise UnsupportedPNG("APNG canvas beyond 16M-pixel cap")

    canvas = np.zeros((height, width, 4), dtype=np.uint8)
    out: list[np.ndarray] = []
    for i, fr in enumerate(frames[:max_frames]):
        fw, fh, x0, y0 = fr["w"], fr["h"], fr["x"], fr["y"]
        dispose, blend = fr["dispose"], fr["blend"]
        if fw == 0 or fh == 0 or x0 + fw > width or y0 + fh > height:
            raise ValueError("APNG frame rect outside canvas")
        if dispose > 2 or blend > 1:
            raise ValueError("bad APNG dispose/blend op")
        if not fr["data"]:
            raise ValueError("APNG frame with no pixel data")
        if i == 0:
            # spec first-frame coercions
            blend = 0
            if dispose == 2:
                dispose = 1
        sub = (PNG_SIG
               + _chunk(b"IHDR", struct.pack(
                   ">IIBBBBB", fw, fh, depth, ctype, comp, filt,
                   interlace))
               + (_chunk(b"PLTE", plte) if plte is not None else b"")
               + (_chunk(b"tRNS", trns) if trns is not None else b"")
               + _chunk(b"IDAT", b"".join(fr["data"]))
               + _chunk(b"IEND", b""))
        px, mode = decode_png(sub)
        rgba = _to_rgba(px, mode)

        saved = canvas.copy() if dispose == 2 else None
        rect = canvas[y0:y0 + fh, x0:x0 + fw]
        if blend == 0:
            rect[:] = rgba
        else:
            composite_over(rect, rgba)
        out.append(canvas.copy())
        if dispose == 1:
            canvas[y0:y0 + fh, x0:x0 + fw] = 0
        elif dispose == 2:
            canvas = saved
    return out


def encode_apng(frames, num_plays: int = 0) -> bytes:
    """Animated PNG (the APNG decoder's test twin).

    ``frames`` is a list of ``(pixels, x, y, dispose, blend)`` where
    ``pixels`` is ``(h, w, 4)`` uint8 RGBA.  Frame 0 is the default
    image (fcTL before IDAT) and must cover the full canvas at (0, 0)
    per spec §12.3; later frames may be sub-rectangles.  Frame data is
    filter-0 scanlines, one zlib stream per frame, fdAT sequence
    numbers shared with fcTL exactly as the spec requires.
    """
    if not frames:
        raise ValueError("encode_apng needs at least one frame")
    first = np.ascontiguousarray(frames[0][0], dtype=np.uint8)
    if first.ndim != 3 or first.shape[2] != 4:
        raise ValueError("APNG frames must be (h, w, 4) RGBA")
    height, width = first.shape[:2]
    if frames[0][1] != 0 or frames[0][2] != 0:
        raise ValueError("APNG frame 0 must sit at (0, 0)")

    body = _chunk(b"IHDR", struct.pack(
        ">IIBBBBB", width, height, 8, 6, 0, 0, 0))
    body += _chunk(b"acTL", struct.pack(">II", len(frames), num_plays))
    seq = 0
    for i, (px, x0, y0, dispose, blend) in enumerate(frames):
        arr = np.ascontiguousarray(px, dtype=np.uint8)
        if arr.ndim != 3 or arr.shape[2] != 4:
            raise ValueError("APNG frames must be (h, w, 4) RGBA")
        fh, fw = arr.shape[:2]
        if x0 + fw > width or y0 + fh > height:
            raise ValueError("APNG frame rect outside canvas")
        if i == 0 and (fw != width or fh != height):
            raise ValueError("APNG frame 0 must cover the canvas")
        body += _chunk(b"fcTL", struct.pack(
            ">IIIIIHHBB", seq, fw, fh, x0, y0, 1, 10,
            int(dispose), int(blend)))
        seq += 1
        data = zlib.compress(_pack_rows(arr, 8, 4))
        if i == 0:
            body += _chunk(b"IDAT", data)
        else:
            body += _chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    return PNG_SIG + body + _chunk(b"IEND", b"")


def apng_frame_count(payload: bytes) -> int | None:
    """Header-only probe: the acTL-declared frame count for an APNG,
    ``None`` for a static PNG or anything malformed.  Stops at the
    first IDAT (acTL must precede it, spec §12.3), so this never walks
    pixel data."""
    if not payload.startswith(PNG_SIG):
        return None
    try:
        for tag, data in _chunks(payload):
            if tag == b"acTL" and len(data) >= 8:
                return struct.unpack(">I", data[:4])[0]
            if tag == b"IDAT":
                return None
    except ValueError:
        return None
    return None
