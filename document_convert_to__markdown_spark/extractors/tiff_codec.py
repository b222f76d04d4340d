"""From-scratch TIFF decode/encode — stdlib ``struct``/``zlib`` + numpy.

Sixth member of the codec family: TIFF 6.0 images at the compressions
real archives carry — ``Compression=1`` (none), ``5`` (LZW, TIFF
§13: MSB-first variable-width 9→12-bit codes with the TIFF
"early change" width bump, Clear/EOI), ``8``/``32946`` (zlib
deflate), ``32773`` (PackBits byte RLE, §9), and ``7`` (new-style
JPEG-in-TIFF per TIFF Technical Note #2: each strip is a complete
T.81 interchange or abbreviated stream, shared tables optionally
hoisted into the ``JPEGTables`` tag 347 as an SOI…tables…EOI stream
merged ahead of every strip's own segments; routed through the
sibling ``jpeg_codec``) — the byte-packed compressions optionally
behind ``Predictor=2`` horizontal differencing (§14, undone per row
per sample channel).  Old-style JPEG (``Compression=6``, deprecated
by TTN2) and other exotic compressions raise ``UnsupportedTiff`` and
take the labeled stub, like every other out-of-subset payload.

- ``decode_tiff``: II/MM byte orders, first IFD, grayscale
  (Photometric 0/1 at 1/2/4/8/16 bits, including the 0=WhiteIsZero
  inversion), RGB/RGBA at 8/16 bits (ExtraSamples alpha kept),
  palette (Photometric 3, 1-8 bit indices, 8- or full-range 16-bit
  ColorMap reduced via libtiff's ``>> 8`` convention), in any of the
  three layouts real files carry: chunky strips, planar
  (PlanarConfiguration=2) strips — all of plane 0's strips, then
  plane 1's, … — and tiled (tags 322-325, left-to-right
  top-to-bottom full-size edge-padded tiles, chunky or planar).
  16→8-bit reduction matches ``TIFFReadRGBAImage`` exactly per
  photometric: gray takes the high byte, RGB rounds /257
  (``Bitdepth16To8``).  JPEG strips additionally accept
  Photometric 6 (YCbCr — ``decode_jpeg`` performs the JFIF
  YCbCr→RGB step, the same convention libtiff's JPEGCOLORMODE_RGB
  applies); JPEG-in-TIFF stays strip-chunky-8-bit only.
  Malformed input raises ``ValueError`` and nothing else (the
  multimodal kernels' stub fallback catches ValueError only).
- ``encode_tiff``: ``(h, w)`` gray or ``(h, w, 3)`` RGB array →
  little-endian TIFF at any supported compression, with optional
  predictor — the test twin, so every decoder path roundtrips
  without an external TIFF to import.  ``compression="jpeg"`` also
  drives multi-strip layouts (``rows_per_strip``) and the tag-347
  tables hoist (``jpeg_tables=True``), so both TTN2 stream shapes
  are exercised from our own writer.

Cross-validated against the system libtiff (``tests/
test_libtiff_libgif_parity.py``, test-time oracle only): every
lossless ``encode_tiff`` compression × predictor variant decodes
pixel-exactly in both this decoder and ``TIFFReadRGBAImage``; the
JPEG variants agree within the ±2-level bound two conforming T.81
decoders are allowed (libtiff decodes through libjpeg).  The
layouts ``encode_tiff`` cannot write — tiled, planar, palette,
sub-byte and 16-bit — are libtiff-AUTHORED in the parity suite and
decode pixel-identical to ``TIFFReadRGBAImage`` three ways (source
array = this decoder = libtiff).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .bounded import inflate
from .jpeg_codec import decode_jpeg, encode_jpeg

TIFF_SIGS = (b"II*\x00", b"MM\x00*")


class UnsupportedTiff(ValueError):
    """Valid TIFF outside the baseline-uncompressed subset."""


def _read_ifd(payload: bytes, order: str) -> dict:
    """First IFD → {tag: [ints]} with offset-indirection resolved.
    ASCII (type 2) entries are surfaced as raw ``bytes`` (NUL and
    padding included) so EXIF provenance readers share this walk —
    the decoder below only reads integer tags and never sees them."""
    (ifd_off,) = struct.unpack(order + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated TIFF IFD offset")
    (n_entries,) = struct.unpack(
        order + "H", payload[ifd_off:ifd_off + 2])
    tags: dict = {}
    # BYTE ASCII SHORT LONG UNDEFINED (7 carries JPEGTables payloads)
    type_size = {1: 1, 2: 1, 3: 2, 4: 4, 7: 1}
    type_fmt = {1: "B", 2: None, 3: "H", 4: "I", 7: "B"}
    pos = ifd_off + 2
    for _ in range(n_entries):
        if pos + 12 > len(payload):
            raise ValueError("truncated TIFF IFD entry")
        tag, vtype, count = struct.unpack(
            order + "HHI", payload[pos:pos + 8])
        if vtype in type_fmt and count and count < 1 << 20:
            total = type_size[vtype] * count
            if total <= 4:
                src = payload[pos + 8:pos + 8 + total]
            else:
                (off,) = struct.unpack(
                    order + "I", payload[pos + 8:pos + 12])
                src = payload[off:off + total]
            if len(src) == total:
                fmt = type_fmt[vtype]
                tags[tag] = src if fmt is None else list(
                    struct.unpack(order + fmt * count, src))
        pos += 12
    return tags


_LZW_CLEAR, _LZW_EOI = 256, 257


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, 9→12-bit codes, the
    TIFF *early change* convention (width bumps when the next code to
    assign is 2^w - 1 — one code earlier than GIF's LZW)."""
    out = bytearray()
    nbits = len(data) * 8
    bitpos = 0
    width = 9
    table: list[bytes] | None = None
    prev: bytes | None = None
    while bitpos + width <= nbits:
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0:byte0 + 4].ljust(4, b"\0"),
                               "big")
        code = (chunk >> (32 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == _LZW_EOI:
            return bytes(out)
        if code == _LZW_CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            prev = None
            continue
        if table is None:
            raise ValueError("TIFF LZW stream must start with Clear")
        if prev is None:
            if code > 255:
                raise ValueError("bad first TIFF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):                # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW code out of range")
        out += entry
        if len(out) > max_out:
            raise ValueError("TIFF LZW output exceeds declared size")
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1                          # early change
    return bytes(out)


def _lzw_encode(data: bytes) -> bytes:
    """The §13 encoder twin (early-change width bumps, Clear on a
    full table) so the decoder roundtrips on arbitrary strips."""
    out = bytearray()
    acc = 0
    nacc = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            out.append((acc >> (nacc - 8)) & 0xFF)
            nacc -= 8
        acc &= (1 << nacc) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_LZW_CLEAR, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags this one by a single entry (its
        # first post-Clear code adds nothing), so its slot-(2^w - 1)
        # early-change bump lines up with next_code == 2^w here
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4094:                 # table full: restart
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w], width)
        # the decoder APPENDS an entry for this final code and then
        # applies its slot-(2^w - 1) early change before reading EOI;
        # mirror that bump or EOI desyncs by one bit-width whenever
        # the table boundary lands exactly on the last data code
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
    emit(_LZW_EOI, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    """TIFF §9 PackBits byte RLE."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < max_out:
        c = data[i]
        i += 1
        if c < 128:                             # literal run of c+1
            if i + c + 1 > n:
                raise ValueError("truncated PackBits literal run")
            out += data[i:i + c + 1]
            i += c + 1
        elif c > 128:                           # repeat next byte 257-c
            if i >= n:
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - c)
            i += 1
        # c == 128: noop
    if len(out) > max_out:
        raise ValueError("PackBits output exceeds declared size")
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """§9 encoder twin: repeat runs >= 3 bytes, literals otherwise."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and data[i + nxt] == data[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


def _split_jpeg_segments(
        stream: bytes) -> tuple[list[tuple[int, bytes]], bytes]:
    """T.81 stream → (marker segments before SOS, SOS+entropy tail).

    Each segment tuple is ``(marker, raw_bytes)`` including the FF
    prefix and the length field, so streams reassemble by plain
    concatenation after SOI.
    """
    if stream[:2] != b"\xff\xd8":
        raise ValueError("JPEG stream missing SOI")
    segs: list[tuple[int, bytes]] = []
    i = 2
    n = len(stream)
    while i + 4 <= n:
        if stream[i] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = stream[i + 1]
        if marker == 0xDA:                      # SOS starts the tail
            return segs, stream[i:]
        seg_len = struct.unpack(">H", stream[i + 2:i + 4])[0]
        if seg_len < 2 or i + 2 + seg_len > n:
            raise ValueError("truncated JPEG segment")
        segs.append((marker, stream[i:i + 2 + seg_len]))
        i += 2 + seg_len
    raise ValueError("JPEG stream has no SOS")


def _decode_jpeg_strips(payload: bytes, tags: dict[int, list[int]],
                        offsets: list[int], counts: list[int],
                        rows_per_strip: int, width: int, height: int,
                        mode: str) -> np.ndarray:
    """TTN2 new-style JPEG strips → assembled ``(h, w[, 3])`` pixels.

    Each strip is its own T.81 stream; when the ``JPEGTables`` tag
    (347, an SOI…DQT/DHT…EOI abbreviated stream) is present its table
    segments are spliced in ahead of every strip's own markers, which
    is exactly how libtiff's jpeg codec feeds libjpeg.
    """
    tables_body = b""
    raw_tables = tags.get(347)
    if raw_tables:
        tables = bytes(raw_tables)
        if len(tables) < 4 or tables[:2] != b"\xff\xd8" \
                or tables[-2:] != b"\xff\xd9":
            raise ValueError("bad JPEGTables stream")
        tables_body = tables[2:-2]
    want = "L" if mode == "L" else "RGB"
    strips_px: list[np.ndarray] = []
    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(payload):
            raise ValueError("TIFF strip beyond file")
        strip_rows = min(rows_per_strip, height - s * rows_per_strip)
        if strip_rows <= 0:
            break
        chunk = payload[off:off + cnt]
        if chunk[:2] != b"\xff\xd8":
            raise ValueError("JPEG strip missing SOI")
        stream = b"\xff\xd8" + tables_body + chunk[2:] \
            if tables_body else chunk
        # UnsupportedJpeg subclasses ValueError, so out-of-subset
        # strips (progressive-in-TIFF, CMYK) fall to the labeled stub
        # exactly like UnsupportedTiff does.
        px, jmode = decode_jpeg(stream)
        if jmode != want:
            raise ValueError(
                f"JPEG strip decoded {jmode}, photometric says {want}")
        if px.ndim == 2:
            px = px[:, :, None]
        # strips may be padded up to an MCU multiple; never short
        if px.shape[0] < strip_rows or px.shape[1] < width:
            raise ValueError("JPEG strip smaller than declared")
        strips_px.append(px[:strip_rows, :width])
    if sum(p.shape[0] for p in strips_px) != height:
        raise ValueError("JPEG strip data short for declared size")
    full = strips_px[0] if len(strips_px) == 1 \
        else np.concatenate(strips_px, axis=0)
    return (full[:, :, 0] if mode == "L" else full).copy()


def decode_tiff(payload: bytes) -> tuple[np.ndarray, str]:
    """TIFF bytes → ``((h, w) gray | (h, w, 3|4) RGB(A) uint8, mode)``."""
    if len(payload) < 8 or payload[:4] not in TIFF_SIGS:
        raise ValueError("not a TIFF (bad signature)")
    order = "<" if payload[:2] == b"II" else ">"
    t = _read_ifd(payload, order)

    def one(tag: int, default: int | None = None) -> int:
        v = t.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    width = one(256)
    height = one(257)
    if width <= 0 or height <= 0 or width * height > 1 << 28:
        raise ValueError("bad TIFF dimensions")
    comp = one(259, 1)
    if comp == 6:
        raise UnsupportedTiff(
            "old-style JPEG-in-TIFF (compression 6, deprecated by "
            "TTN2) unsupported")
    if comp not in (1, 5, 7, 8, 32946, 32773):
        raise UnsupportedTiff(f"TIFF compression {comp} unsupported")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise UnsupportedTiff(f"TIFF predictor {predictor} unsupported")
    if comp == 7 and predictor != 1:
        raise UnsupportedTiff("predictor with JPEG-in-TIFF is invalid")
    photometric = one(262, 1)
    spp = one(277, 1)
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError(f"bad TIFF PlanarConfiguration {planar}")
    tiled = 322 in t or 323 in t
    bits_list = t.get(258, [8])
    if len(set(bits_list)) != 1:
        raise UnsupportedTiff(f"mixed TIFF bit depths {bits_list}")
    bit = bits_list[0]
    if bit not in (1, 2, 4, 8, 16):
        raise UnsupportedTiff(f"TIFF bit depth {bit}")
    # SampleFormat (339): only unsigned (1) or undefined (4, which
    # TIFF 6.0 §19 says to read as unsigned) may take the integer
    # paths below — signed/float samples through the >>8 / /257
    # reductions would be garbage mislabeled as real pixels.
    if any(sf not in (1, 4) for sf in t.get(339, [1])):
        raise UnsupportedTiff(
            f"TIFF SampleFormat {t[339]} unsupported (unsigned only)")
    if comp == 7:
        if bit != 8:
            raise UnsupportedTiff("JPEG-in-TIFF requires 8-bit samples")
        if planar == 2:
            raise UnsupportedTiff("planar JPEG-in-TIFF unsupported")
        if tiled:
            raise UnsupportedTiff("tiled JPEG-in-TIFF unsupported")
    if predictor == 2 and bit != 8:
        # §14 allows 16-bit differencing but nothing in the web-crawl
        # corpus writes it; sub-byte predictor is invalid outright.
        raise UnsupportedTiff(f"predictor at depth {bit} unsupported")
    if bit < 8 and spp != 1:
        raise UnsupportedTiff("sub-byte TIFF with multiple samples")

    cmap = None
    if photometric in (0, 1):
        if spp != 1:
            raise UnsupportedTiff("gray TIFF with extra samples")
        mode = "L"
    elif photometric == 2:
        if comp == 7:
            # TTN2 allows it but nothing writes RGB-in-JPEG strips;
            # decode_jpeg always applies YCbCr->RGB on 3 components,
            # so honoring this would silently double-convert.
            raise UnsupportedTiff("RGB-in-JPEG TIFF unsupported")
        if spp not in (3, 4):
            raise UnsupportedTiff(f"RGB TIFF with {spp} samples")
        mode = "RGB" if spp == 3 else "RGBA"
    elif photometric == 3:
        if spp != 1:
            raise UnsupportedTiff("palette TIFF with extra samples")
        if bit == 16:
            raise UnsupportedTiff("16-bit palette TIFF")
        raw_map = t.get(320)
        n_pal = 1 << bit
        if not raw_map or len(raw_map) != 3 * n_pal:
            raise ValueError("palette TIFF missing/short ColorMap")
        cm = np.asarray(raw_map, np.uint32).reshape(3, n_pal).T
        if cm.max() > 255:
            # libtiff's checkcmap()/cvtcmap(): full-range 16-bit
            # entries reduce via CVT(x) = x >> 8 (high byte) —
            # verified empirically against libtiff.so.6 in
            # tests/test_libtiff_libgif_parity.py::test_palette
            cm = cm >> 8
        cmap = cm.astype(np.uint8)
        mode = "RGB"
    elif photometric == 6:
        if comp != 7:
            raise UnsupportedTiff("YCbCr TIFF without JPEG compression")
        if spp != 3:
            raise UnsupportedTiff(f"YCbCr TIFF with {spp} samples")
        mode = "RGB"
    else:
        raise UnsupportedTiff(f"TIFF photometric {photometric}")

    if comp == 7:
        offsets, counts = t.get(273), t.get(279)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("TIFF missing strip offsets/counts")
        rows_per_strip = one(278, height)
        if rows_per_strip <= 0:
            raise ValueError("bad TIFF RowsPerStrip")
        px = _decode_jpeg_strips(payload, t, offsets, counts,
                                 rows_per_strip, width, height, mode)
        if photometric == 0:                    # WhiteIsZero: invert
            px = 255 - px
        return px, mode

    if tiled:
        px = _assemble_tiles(payload, t, order, comp, predictor,
                             width, height, spp, bit, planar,
                             hi16=photometric in (0, 1))
    elif planar == 2:
        px = _assemble_planar_strips(payload, t, order, comp, predictor,
                                     width, height, spp, bit,
                                     hi16=photometric in (0, 1))
    else:
        px = _assemble_strips(payload, t, order, comp, predictor,
                              width, height, spp, bit,
                              hi16=photometric in (0, 1))

    if photometric in (0, 1):
        g = px[:, :, 0]
        if bit < 8:
            # exact integer expansion: 255/(2^bit - 1) is 255/85/17
            g = (g.astype(np.uint16)
                 * (255 // ((1 << bit) - 1))).astype(np.uint8)
        if photometric == 0:                    # WhiteIsZero: invert
            g = 255 - g
        return g.copy(), mode
    if photometric == 3:
        return cmap[px[:, :, 0]].copy(), mode
    return px.copy(), mode


def _unit_bytes(payload: bytes, comp: int, off: int, cnt: int,
                need: int) -> bytes:
    """One compressed strip/tile → exactly ``need`` decoded bytes."""
    if off < 0 or cnt < 0 or off + cnt > len(payload):
        raise ValueError("TIFF strip/tile beyond file")
    chunk = payload[off:off + cnt]
    if comp == 1:
        dec = chunk
    elif comp == 5:
        dec = _lzw_decode(chunk, need)
    elif comp == 32773:
        dec = _packbits_decode(chunk, need)
    else:                                       # 8 / 32946: deflate
        try:
            dec = inflate(chunk, need)[0]
        except zlib.error as exc:
            raise ValueError(
                f"corrupt TIFF deflate strip: {exc}") from None
    if len(dec) < need:
        raise ValueError("TIFF strip data short for declared size")
    return dec[:need]


def _unit_samples(dec: bytes, rows: int, cols: int, bit: int,
                  order: str, hi16: bool = False) -> np.ndarray:
    """Decoded unit bytes → ``(rows, cols)`` uint8 sample grid.

    ``cols`` counts samples per row; each row starts byte-aligned
    (TIFF packs rows independently).  Depth 16 reduces exactly as
    libtiff's RGBA reader does (verified against libtiff.so.6 in
    tests/test_libtiff_libgif_parity.py): RGB samples through
    ``Bitdepth16To8`` — rounded division by 257 — while grayscale
    (``hi16=True``) indexes the BWmap by the HIGH BYTE, i.e. ``>> 8``.
    Sub-byte rows unpack MSB-first and return RAW values (scaling to
    0..255 or palette lookup is the caller's photometric step).
    """
    rb = (cols * bit + 7) // 8
    if bit == 8:
        return np.frombuffer(dec, np.uint8).reshape(rows, rb)[:, :cols]
    if bit == 16:
        dt = np.dtype(np.uint16).newbyteorder(order)
        v = np.frombuffer(dec, dt).reshape(rows, cols).astype(np.uint32)
        if hi16:
            return (v >> 8).astype(np.uint8)
        return ((v + 128) // 257).astype(np.uint8)
    a = np.frombuffer(dec, np.uint8).reshape(rows, rb)
    ub = np.unpackbits(a, axis=1)
    if bit == 1:
        return ub[:, :cols]
    grp = ub[:, :(rb * 8 // bit) * bit].reshape(rows, -1, bit)
    w = (1 << np.arange(bit - 1, -1, -1)).astype(np.uint8)
    return (grp * w).sum(axis=2, dtype=np.uint16) \
        .astype(np.uint8)[:, :cols]


def _undo_predictor(block: np.ndarray) -> np.ndarray:
    """§14 horizontal differencing: cumulative sum per row per sample
    channel, mod 256.  Differencing restarts at every row of every
    compressed unit, so strips concatenate first, tiles undo per
    tile."""
    return np.cumsum(block.astype(np.uint32), axis=1).astype(np.uint8)


def _assemble_strips(payload: bytes, t: dict, order: str, comp: int,
                     predictor: int, width: int, height: int,
                     spp: int, bit: int,
                     hi16: bool = False) -> np.ndarray:
    """Chunky (PlanarConfiguration=1) strips → ``(h, w, spp)``."""
    offsets, counts = t.get(273), t.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/counts")
    rows_per_strip = t.get(278, [height])[0]
    if rows_per_strip <= 0:
        raise ValueError("bad TIFF RowsPerStrip")
    rb = (width * spp * bit + 7) // 8
    parts = []
    got_rows = 0
    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        rows = min(rows_per_strip, height - s * rows_per_strip)
        if rows <= 0:
            break
        dec = _unit_bytes(payload, comp, off, cnt, rb * rows)
        parts.append(
            _unit_samples(dec, rows, width * spp, bit, order, hi16)
            .reshape(rows, width, spp))
        got_rows += rows
    if got_rows < height:
        raise ValueError("TIFF strip data short for declared size")
    px = parts[0] if len(parts) == 1 else np.concatenate(parts, axis=0)
    return _undo_predictor(px) if predictor == 2 else px


def _assemble_planar_strips(payload: bytes, t: dict, order: str,
                            comp: int, predictor: int, width: int,
                            height: int, spp: int, bit: int,
                            hi16: bool = False) -> np.ndarray:
    """PlanarConfiguration=2 strips → ``(h, w, spp)``.

    All of plane 0's strips come first, then plane 1's, … (TIFF 6.0
    §"PlanarConfiguration"); each strip carries one sample only, so
    the predictor undoes with channel width 1.
    """
    offsets, counts = t.get(273), t.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF missing strip offsets/counts")
    rows_per_strip = t.get(278, [height])[0]
    if rows_per_strip <= 0:
        raise ValueError("bad TIFF RowsPerStrip")
    per_plane = -(-height // rows_per_strip)
    if len(offsets) < per_plane * spp:
        raise ValueError("planar TIFF short of strips")
    rb = (width * bit + 7) // 8
    planes = []
    for p in range(spp):
        parts = []
        for s in range(per_plane):
            rows = min(rows_per_strip, height - s * rows_per_strip)
            i = p * per_plane + s
            dec = _unit_bytes(payload, comp, offsets[i], counts[i],
                              rb * rows)
            parts.append(
                _unit_samples(dec, rows, width, bit, order, hi16))
        pl = parts[0] if len(parts) == 1 \
            else np.concatenate(parts, axis=0)
        planes.append(_undo_predictor(pl) if predictor == 2 else pl)
    return np.stack(planes, axis=2)


def _assemble_tiles(payload: bytes, t: dict, order: str, comp: int,
                    predictor: int, width: int, height: int, spp: int,
                    bit: int, planar: int,
                    hi16: bool = False) -> np.ndarray:
    """Tiled layout (tags 322-325) → ``(h, w, spp)``.

    Tiles traverse left-to-right, top-to-bottom; every tile is a full
    ``tw × th`` block (edge tiles padded by the writer, cropped
    here).  Planar tiled adds one full tile grid per plane, planes in
    sample order — same ordering rule as planar strips.
    """
    tw = t.get(322, [0])[0]
    th = t.get(323, [0])[0]
    if tw <= 0 or th <= 0 or tw % 16 or th % 16:
        raise ValueError("bad TIFF tile geometry")
    offsets, counts = t.get(324), t.get(325)
    across = -(-width // tw)
    down = -(-height // th)
    n_planes = spp if planar == 2 else 1
    n_tiles = across * down * n_planes
    if not offsets or not counts or len(offsets) != len(counts) \
            or len(offsets) < n_tiles:
        raise ValueError("TIFF missing tile offsets/counts")
    tile_spp = 1 if planar == 2 else spp
    rb = (tw * tile_spp * bit + 7) // 8
    out = np.zeros((height, width, spp), np.uint8)
    for p in range(n_planes):
        for ty in range(down):
            for tx in range(across):
                i = (p * down + ty) * across + tx
                dec = _unit_bytes(payload, comp, offsets[i], counts[i],
                                  rb * th)
                s = _unit_samples(dec, th, tw * tile_spp, bit,
                                  order, hi16) \
                    .reshape(th, tw, tile_spp)
                if predictor == 2:
                    s = _undo_predictor(s)
                y0, x0 = ty * th, tx * tw
                hh = min(th, height - y0)
                ww = min(tw, width - x0)
                if planar == 2:
                    out[y0:y0 + hh, x0:x0 + ww, p] = s[:hh, :ww, 0]
                else:
                    out[y0:y0 + hh, x0:x0 + ww] = s[:hh, :ww]
    return out


_COMP_CODES = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773,
               "jpeg": 7}


def _hoist_jpeg_tables(strips: list[bytes]) -> tuple[bytes, list[bytes]]:
    """Move every strip's DQT/DHT segments into one TTN2 tables
    stream (SOI…tables…EOI); strips keep their other segments.  All
    strips come from the same ``encode_jpeg`` quality, so strip 0's
    tables serve them all."""
    tables = b""
    bare: list[bytes] = []
    for idx, strip in enumerate(strips):
        segs, tail = _split_jpeg_segments(strip)
        if idx == 0:
            body = b"".join(raw for m, raw in segs if m in (0xDB, 0xC4))
            tables = b"\xff\xd8" + body + b"\xff\xd9"
        kept = b"".join(raw for m, raw in segs if m not in (0xDB, 0xC4))
        bare.append(b"\xff\xd8" + kept + tail)
    return tables, bare


def encode_tiff(pixels: np.ndarray, compression: str = "none",
                predictor: bool = False, quality: int = 90,
                rows_per_strip: int | None = None,
                jpeg_tables: bool = False) -> bytes:
    """``(h, w)`` gray or ``(h, w, 3)`` RGB → little-endian TIFF bytes.

    ``compression``: none | lzw | deflate | packbits | jpeg.
    ``predictor`` applies §14 horizontal differencing before
    compression (valid for lzw/deflate per the spec; refused
    otherwise).  The byte-packed compressions write a single strip;
    ``jpeg`` honors ``rows_per_strip`` (each strip its own T.81
    stream at ``quality``) and ``jpeg_tables`` (hoist shared DQT/DHT
    into tag 347 per TTN2).
    """
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        spp, photometric = 1, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        spp, photometric = 3, 2
    else:
        raise ValueError(f"need (h, w) gray or (h, w, 3) RGB, "
                         f"got {arr.shape}")
    if compression not in _COMP_CODES:
        raise ValueError(f"compression {compression!r} unsupported")
    if predictor and compression not in ("lzw", "deflate"):
        raise ValueError("predictor requires lzw or deflate")
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0:
        raise ValueError("need non-empty pixel array")
    if compression == "jpeg":
        return _encode_jpeg_tiff(arr, spp, quality,
                                 rows_per_strip or h, jpeg_tables)
    samp = arr.reshape(h, w, spp)
    if predictor:
        # forward differencing per row per channel (mod 256)
        d = samp.astype(np.int16)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        samp = (d & 0xFF).astype(np.uint8)
    raw = samp.tobytes()
    if compression == "none":
        data = raw
    elif compression == "lzw":
        data = _lzw_encode(raw)
    elif compression == "packbits":
        data = _packbits_encode(raw)
    else:
        data = zlib.compress(raw)

    entries = [
        (256, 3, 1, w), (257, 3, 1, h),
        # BitsPerSample: inline for gray; offset for RGB (3 shorts)
        (259, 3, 1, _COMP_CODES[compression]), (262, 3, 1, photometric),
        (277, 3, 1, spp), (278, 3, 1, h),
        (279, 4, 1, len(data)),
    ]
    if predictor:
        entries.append((317, 3, 1, 2))
    header = 8
    ifd_off = header
    n = len(entries) + 2                        # + BitsPerSample + 273
    bps_extra = b""
    ifd_size = 2 + 12 * n + 4
    extra_off = ifd_off + ifd_size
    if spp == 3:
        bps_extra = struct.pack("<HHH", 8, 8, 8)
        entries.append((258, 3, 3, extra_off))
    else:
        entries.append((258, 3, 1, 8))
    data_off = extra_off + len(bps_extra)
    entries.append((273, 4, 1, data_off))
    entries.sort()

    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n)
    for tag, vtype, count, val in entries:
        out += struct.pack("<HHI", tag, vtype, count)
        # LONG values and >4-byte payloads (the RGB BitsPerSample
        # offset) write the full 32-bit field; inline SHORTs pad
        out += struct.pack("<I", val) if vtype == 4 or count > 2 \
            else struct.pack("<HH", val, 0)
    out += struct.pack("<I", 0)                 # next-IFD pointer
    out += bps_extra
    out += data
    return bytes(out)


def _encode_jpeg_tiff(arr: np.ndarray, spp: int, quality: int,
                      rows_per_strip: int, jpeg_tables: bool) -> bytes:
    """TTN2 new-style JPEG TIFF writer: one T.81 stream per strip,
    DQT/DHT optionally hoisted into tag 347.  Photometric is 6
    (YCbCr) for RGB — what every real writer emits — with
    YCbCrSubSampling (1, 1) matching ``encode_jpeg``'s 4:4:4."""
    h, w = arr.shape[0], arr.shape[1]
    if rows_per_strip <= 0:
        raise ValueError("bad rows_per_strip")
    strips = [encode_jpeg(arr[y:y + rows_per_strip], quality=quality)
              for y in range(0, h, rows_per_strip)]
    tables = b""
    if jpeg_tables:
        tables, strips = _hoist_jpeg_tables(strips)
    n_strips = len(strips)

    # (tag, vtype, count, inline_value, blob) — blob entries store an
    # offset into the post-IFD data area, assigned below
    entries: list[tuple[int, int, int, object, bytes | None]] = [
        (256, 3, 1, w, None),
        (257, 3, 1, h, None),
        (259, 3, 1, 7, None),
        (262, 3, 1, 1 if spp == 1 else 6, None),
        (277, 3, 1, spp, None),
        (278, 3, 1, min(rows_per_strip, h), None),
    ]
    if spp == 3:
        entries.append((258, 3, 3, None, struct.pack("<HHH", 8, 8, 8)))
        entries.append((530, 3, 2, (1, 1), None))
    else:
        entries.append((258, 3, 1, 8, None))
    if tables:
        entries.append((347, 7, len(tables), None, tables))
    if n_strips == 1:
        entries.append((279, 4, 1, len(strips[0]), None))
    else:
        entries.append((279, 4, n_strips, None, struct.pack(
            "<" + "I" * n_strips, *(len(s) for s in strips))))
    # StripOffsets placeholder so the IFD size is final before layout
    entries.append((273, 4, n_strips, None,
                    b"\0" * 4 * n_strips if n_strips > 1 else None))
    entries.sort(key=lambda e: e[0])

    # layout: header | IFD | blobs (tag order, word-aligned) | strips
    pos = 8 + 2 + 12 * len(entries) + 4
    blob_offs: dict[int, int] = {}
    for tag, _, _, _, blob in entries:
        if blob is not None:
            blob_offs[tag] = pos
            pos += len(blob) + (len(blob) & 1)
    strip_offs = []
    for s in strips:
        strip_offs.append(pos)
        pos += len(s) + (len(s) & 1)
    entries = [
        (273, 4, n_strips,
         strip_offs[0] if n_strips == 1 else None,
         struct.pack("<" + "I" * n_strips, *strip_offs)
         if n_strips > 1 else None)
        if tag == 273 else (tag, vtype, count, val, blob)
        for tag, vtype, count, val, blob in entries]

    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(entries))
    for tag, vtype, count, val, blob in entries:
        out += struct.pack("<HHI", tag, vtype, count)
        if blob is not None:
            out += struct.pack("<I", blob_offs[tag])
        elif vtype == 4:
            out += struct.pack("<I", val)
        elif count == 2:
            out += struct.pack("<HH", *val)
        else:
            out += struct.pack("<HH", val, 0)
    out += struct.pack("<I", 0)                 # next-IFD pointer
    for tag, _, _, _, blob in entries:
        if blob is not None:
            out += blob + b"\0" * (len(blob) & 1)
    for s in strips:
        out += s + b"\0" * (len(s) & 1)
    return bytes(out)


def encode_tiff_layout(pixels: np.ndarray, *, compression: str = "none",
                       predictor: bool = False,
                       rows_per_strip: int | None = None,
                       tile: tuple[int, int] | None = None,
                       planar: int = 1,
                       bit_depth: int | None = None,
                       palette: np.ndarray | None = None,
                       orientation: int = 1) -> bytes:
    """General little-endian TIFF writer for the layouts the compact
    ``encode_tiff`` never emits — the deterministic pure-Python twin
    of every round-5i decoder path, so contract queries and tests can
    author tiled / planar / palette / sub-byte / 16-bit files without
    an external library.

    - ``pixels``: ``(h, w)`` gray (uint8, or uint16 for 16-bit;
      sub-byte values must fit ``bit_depth``), ``(h, w, 3)`` RGB
      (uint8/uint16), or ``(h, w)`` palette INDICES with ``palette``
      a ``(2^bit, 3)`` uint16 full-range ColorMap.
    - ``tile=(tw, th)`` switches to the tiled layout (multiples of
      16); otherwise strips of ``rows_per_strip`` (default: whole
      image).  ``planar=2`` writes PlanarConfiguration=2 (RGB only):
      all of plane 0's units, then plane 1's, …
    - ``compression``: none | lzw | deflate | packbits, applied per
      strip/tile; ``predictor`` (§14, 8-bit lzw/deflate only)
      differences per unit row per channel.
    - ``orientation``: EXIF/TIFF tag 274 (1-8), written verbatim;
      pixels are stored as given (callers author rotated fixtures by
      storing ``exif.invert_orientation(img, o)`` with tag ``o``).
    """
    if compression not in ("none", "lzw", "deflate", "packbits"):
        raise ValueError(f"compression {compression!r} unsupported here")
    arr = np.asarray(pixels)
    if palette is not None:
        if arr.ndim != 2:
            raise ValueError("palette TIFF needs (h, w) indices")
        bit = bit_depth or 8
        if bit not in (1, 2, 4, 8):
            raise ValueError(f"palette bit depth {bit}")
        pal = np.ascontiguousarray(palette, dtype=np.uint16)
        if pal.shape != (1 << bit, 3):
            raise ValueError(f"palette must be ({1 << bit}, 3)")
        if arr.max(initial=0) >= 1 << bit:
            raise ValueError("palette index out of range")
        photometric, spp = 3, 1
        samp = arr.astype(np.uint16)[:, :, None]
    elif arr.ndim == 2:
        bit = 16 if arr.dtype == np.uint16 else (bit_depth or 8)
        if bit not in (1, 2, 4, 8, 16):
            raise ValueError(f"gray bit depth {bit}")
        if bit < 8 and arr.max(initial=0) >= 1 << bit:
            raise ValueError("gray sample exceeds bit depth")
        photometric, spp = 1, 1
        samp = arr.astype(np.uint16)[:, :, None]
    elif arr.ndim == 3 and arr.shape[2] == 3:
        bit = 16 if arr.dtype == np.uint16 else 8
        photometric, spp = 2, 3
        samp = arr.astype(np.uint16)
    else:
        raise ValueError(f"bad pixel shape {arr.shape}")
    h, w = samp.shape[0], samp.shape[1]
    if h == 0 or w == 0:
        raise ValueError("need non-empty pixel array")
    if planar not in (1, 2) or (planar == 2 and spp == 1):
        raise ValueError("planar=2 needs 3 samples")
    if predictor and (bit != 8 or compression not in ("lzw", "deflate")):
        raise ValueError("predictor needs 8-bit lzw/deflate")
    if tile is not None and (tile[0] % 16 or tile[1] % 16
                             or tile[0] <= 0 or tile[1] <= 0):
        raise ValueError("tile dims must be positive multiples of 16")

    def block_bytes(block: np.ndarray) -> bytes:
        """(rows, cols, ch) sample block → packed unit payload."""
        if predictor:
            d = block.astype(np.int32)
            d[:, 1:] = d[:, 1:] - d[:, :-1]
            block = (d & 0xFF).astype(np.uint16)
        rows = block.shape[0]
        flat = block.reshape(rows, -1)          # interleave channels
        if bit == 8:
            raw = flat.astype(np.uint8).tobytes()
        elif bit == 16:
            raw = flat.astype("<u2").tobytes()
        else:
            ub = np.unpackbits(
                flat.astype(np.uint8)[:, :, None], axis=2)[:, :, 8 - bit:]
            ub = ub.reshape(rows, -1)
            pad = (-ub.shape[1]) % 8
            if pad:
                ub = np.concatenate(
                    [ub, np.zeros((rows, pad), np.uint8)], axis=1)
            raw = np.packbits(ub, axis=1).tobytes()
        if compression == "none":
            return raw
        if compression == "lzw":
            return _lzw_encode(raw)
        if compression == "packbits":
            return _packbits_encode(raw)
        return zlib.compress(raw)

    units: list[bytes] = []
    if tile is not None:
        tw, th = tile
        pad = np.zeros((-(-h // th) * th, -(-w // tw) * tw, spp),
                       np.uint16)
        pad[:h, :w] = samp
        planes = ([pad[:, :, p:p + 1] for p in range(spp)]
                  if planar == 2 else [pad])
        for pl in planes:
            for ty in range(0, pad.shape[0], th):
                for tx in range(0, pad.shape[1], tw):
                    units.append(block_bytes(pl[ty:ty + th, tx:tx + tw]))
    else:
        rps = rows_per_strip or h
        if rps <= 0:
            raise ValueError("bad rows_per_strip")
        planes = ([samp[:, :, p:p + 1] for p in range(spp)]
                  if planar == 2 else [samp])
        for pl in planes:
            for y in range(0, h, rps):
                units.append(block_bytes(pl[y:y + rps]))

    entries: dict[int, tuple[int, list[int]]] = {
        256: (3, [w]), 257: (3, [h]),
        258: (3, [bit] * spp),
        259: (3, [_COMP_CODES[compression]]),
        262: (3, [photometric]),
        277: (3, [spp]),
        284: (3, [planar]),
    }
    if predictor:
        entries[317] = (3, [2])
    if orientation != 1:
        if orientation not in range(1, 9):
            raise ValueError(f"bad orientation {orientation}")
        entries[274] = (3, [orientation])
    if palette is not None:
        entries[320] = (3, [int(v) for ch in pal.T for v in ch])
    if tile is not None:
        entries[322] = (3, [tile[0]])
        entries[323] = (3, [tile[1]])
        off_tag, cnt_tag = 324, 325
    else:
        entries[278] = (3, [rows_per_strip or h])
        off_tag, cnt_tag = 273, 279
    entries[cnt_tag] = (4, [len(u) for u in units])
    entries[off_tag] = (4, [0] * len(units))    # placeholder

    tags = sorted(entries)
    pos = 8 + 2 + 12 * len(tags) + 4
    blob_pos: dict[int, int] = {}
    for tag in tags:
        vt, vals = entries[tag]
        total = (2 if vt == 3 else 4) * len(vals)
        if total > 4:
            blob_pos[tag] = pos
            pos += total + (total & 1)
    unit_offs = []
    for u in units:
        unit_offs.append(pos)
        pos += len(u) + (len(u) & 1)
    entries[off_tag] = (4, unit_offs)

    fmt = {3: "H", 4: "I"}
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(tags))
    for tag in tags:
        vt, vals = entries[tag]
        out += struct.pack("<HHI", tag, vt, len(vals))
        if tag in blob_pos:
            out += struct.pack("<I", blob_pos[tag])
        else:
            out += struct.pack(
                "<" + fmt[vt] * len(vals), *vals).ljust(4, b"\0")
    out += struct.pack("<I", 0)                 # next-IFD pointer
    for tag in tags:
        if tag in blob_pos:
            vt, vals = entries[tag]
            blob = struct.pack("<" + fmt[vt] * len(vals), *vals)
            out += blob + b"\0" * (len(blob) & 1)
    for u in units:
        out += u + b"\0" * (len(u) & 1)
    return bytes(out)
