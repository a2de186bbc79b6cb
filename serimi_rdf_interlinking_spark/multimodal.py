"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as `binary` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
mapInPandas stages.

Decode support: UNCOMPRESSED formats decode for real with numpy alone
— PPM (P6, 8- and 16-bit maxval) images and WAV audio (integer PCM at
8/16/24/32 bits + IEEE float32/64, all landing on one int16 sample
space) — and the three dominant web image formats decode for real
since round 4: PNG through
stdlib zlib (the full RFC 2083 static profile since r5 — color types
0/2/3/4/6, bit depths 1/2/4/8/16, all five scanline filters, Adam7
interlace), GIF through a from-scratch LZW codec (single frame,
global/local color tables, interlace, extensions skipped) and JPEG
through a from-scratch T.81 DCT codec (`jpeg.py`: canonical Huffman,
dequant + orthonormal IDCT, YCbCr, 4:4:4/4:2:2/4:2:0 sampling,
restart intervals — baseline SOF0/1 plus progressive SOF2 spectral
selection + successive approximation since r5), including
nearest-neighbor resize and per-channel/signal features, all tested
against numpy references. Formats genuinely needing libraries absent
from this container (MP3/MP4 SAMPLES — container metadata probes via
mediaprobe.py — and arithmetic/lossless/hierarchical JPEG) raise
NotImplementedError with a clear message; animated GIF decodes fully
(decode_gif_frames + frame_sample_decode below). Further real codec
decoders drop into `_decode_real` without touching the Spark plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),      # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes long, sha256 string,"
    " feature array<float>"
)


def synth_ppm(w: int, h: int, seed: int = 0, maxval: int = 255) -> bytes:
    """Deterministic synthetic P6 PPM payload (seeded numpy bytes);
    maxval > 255 emits the 2-byte-per-sample big-endian raster."""
    rng = np.random.RandomState(seed)
    if maxval > 255:
        img = rng.randint(0, maxval + 1, size=(h, w, 3)).astype(">u2")
    else:
        img = rng.randint(0, maxval + 1, size=(h, w, 3)).astype(np.uint8)
    return f"P6\n{w} {h}\n{maxval}\n".encode() + img.tobytes()


def synth_wav(
    n: int,
    rate: int = 8000,
    channels: int = 1,
    seed: int = 0,
    bits: int = 16,
    ieee_float: bool = False,
) -> bytes:
    """Deterministic synthetic RIFF/WAVE payload: integer PCM at
    8/16/24/32 bits or IEEE float32/64 (`ieee_float=True` with
    bits=32/64). The underlying signal is the same seeded int16 ramp
    for every format, widened/narrowed per the container's sample
    type, so cross-format decode tests can compare signals."""
    rng = np.random.RandomState(seed)
    base = rng.randint(-20000, 20000, size=(n, channels)).astype(np.int16)
    if ieee_float:
        fmt_code = 3
        dt = "<f4" if bits == 32 else "<f8"
        # scale by 32767 so decode's round(f * 32767) round-trips the
        # int16 signal exactly
        data = (base.astype(np.float64) / 32767.0).astype(dt).tobytes()
    else:
        fmt_code = 1
        if bits == 16:
            data = base.astype("<i2").tobytes()
        elif bits == 8:
            data = ((base.astype(np.int32) >> 8) + 128).astype(
                np.uint8
            ).tobytes()
        elif bits == 24:
            as32 = (base.astype(np.int32) << 8).astype("<i4").tobytes()
            # drop every 4th byte: little-endian 32 -> packed 24
            arr = np.frombuffer(as32, np.uint8).reshape(-1, 4)[:, :3]
            data = arr.tobytes()
        elif bits == 32:
            data = (base.astype(np.int32) << 16).astype("<i4").tobytes()
        else:
            raise ValueError(f"unsupported synth bits {bits}")
    block = channels * bits // 8
    fmt = (
        fmt_code.to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# filter-unit channel counts: gray, RGB, PALETTE INDEX (1 byte/px),
# gray+A, RGBA (RFC 2083 §4.1.2: type-3 scanlines filter over indices)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


# Adam7 pass grid: (x0, y0, dx, dy) per RFC 2083 §2.6
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_pack_sub8(samples: np.ndarray, depth: int) -> np.ndarray:
    """(n_rows, w) sample values -> (n_rows, ceil(w*depth/8)) packed
    scanline bytes, samples MSB-first within each byte and row tails
    zero-padded to a byte boundary (RFC 2083 §2.3)."""
    n, w = samples.shape
    bits = (
        (samples[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1
    ).astype(np.uint8).reshape(n, w * depth)
    return np.packbits(bits, axis=1)


def _png_unpack_sub8(rows: np.ndarray, w: int, depth: int) -> np.ndarray:
    """(n_rows, stride) packed scanline bytes -> (n_rows, w) sample
    values (inverse of _png_pack_sub8; byte-padding bits dropped)."""
    bits = np.unpackbits(rows, axis=1)
    n = rows.shape[0]
    grp = bits[:, : (bits.shape[1] // depth) * depth].reshape(n, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (grp * weights).sum(axis=2, dtype=np.uint8)[:, :w]


def _png_filter_rows(rows: np.ndarray, filter_type: int, bpp: int) -> bytearray:
    """Apply one scanline filter to a (n_rows, stride) BYTE raster
    (filters operate on bytes with a bpp left-offset per RFC 2083
    §6.2, identically at 8- and 16-bit depth)."""
    raw = bytearray()
    stride = rows.shape[1]
    prev = np.zeros(stride, np.uint16)
    for y in range(rows.shape[0]):
        line = rows[y].astype(np.uint16)
        if filter_type == 0:
            filt = line
        elif filter_type == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.uint16), line[:-bpp]])
            filt = (line - left) % 256
        elif filter_type == 2:  # Up
            filt = (line - prev) % 256
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.uint16), line[:-bpp]])
            filt = (line - (left + prev) // 2) % 256
        elif filter_type == 4:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.uint16), line[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.uint16), prev[:-bpp]])
            p = left.astype(np.int32) + prev.astype(np.int32) - ul.astype(np.int32)
            pa, pb, pc = (
                np.abs(p - left.astype(np.int32)),
                np.abs(p - prev.astype(np.int32)),
                np.abs(p - ul.astype(np.int32)),
            )
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = (line - pred) % 256
        else:
            raise ValueError(f"unknown filter type {filter_type}")
        raw.append(filter_type)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    return raw


def synth_png(
    w: int,
    h: int,
    seed: int = 0,
    color_type: int = 2,
    filter_type: int = 0,
    n_colors: int = 16,
    bit_depth: int = 8,
    interlace: bool = False,
) -> bytes:
    """Deterministic synthetic PNG payload (seeded numpy pixels,
    stdlib-zlib IDAT). `filter_type` applies one scanline filter
    (0=None, 1=Sub, 2=Up, 3=Average, 4=Paeth) to every row — used by
    tests to exercise each unfilter path of decode_png. color_type=3
    emits an indexed-color image with an `n_colors`-entry PLTE;
    bit_depth=16 writes big-endian 16-bit samples, 1/2/4 writes
    MSB-first packed scanlines (gray or palette only, per the spec's
    legal combinations); interlace=True writes the Adam7 seven-pass
    layout."""
    import struct
    import zlib

    ch = _PNG_CHANNELS[color_type]
    rng = np.random.RandomState(seed)
    plte = b""
    if color_type == 3:
        if bit_depth not in (1, 2, 4, 8):
            raise ValueError("palette depth must be 1/2/4/8")
        n_colors = min(n_colors, 1 << bit_depth)
        palette = rng.randint(0, 256, size=(n_colors, 3)).astype(np.uint8)
        img = rng.randint(0, n_colors, size=(h, w, 1)).astype(np.uint8)
        plte = _png_chunk(b"PLTE", palette.tobytes())
    elif bit_depth == 16:
        img = rng.randint(0, 65536, size=(h, w, ch)).astype(np.uint16)
    elif bit_depth < 8:
        if color_type != 0:
            raise ValueError("sub-8-bit depth is gray/palette only")
        img = rng.randint(0, 1 << bit_depth, size=(h, w, 1)).astype(np.uint8)
    else:
        img = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
    bpp = max(1, ch * bit_depth // 8)

    def _rows(sub: np.ndarray) -> np.ndarray:
        """(rows, cols, ch) pixels -> (rows, row_stride) filter-input
        bytes (big-endian at 16-bit, MSB-first packed below 8)."""
        n = sub.shape[0]
        if bit_depth == 16:
            return np.frombuffer(
                sub.astype(">u2").tobytes(), np.uint8
            ).reshape(n, -1)
        if bit_depth < 8:
            return _png_pack_sub8(sub.reshape(n, -1), bit_depth)
        return sub.reshape(n, -1)

    raw = bytearray()
    if interlace:
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.size:
                raw.extend(_png_filter_rows(_rows(sub), filter_type, bpp))
    else:
        raw.extend(_png_filter_rows(_rows(img), filter_type, bpp))
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color_type, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + plte
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """PNG -> uint8 (or uint16 at depth 16) array (h, w, channels),
    pure stdlib zlib + numpy.

    Supports the COMPLETE RFC 2083 static-image profile: every legal
    (depth, color_type) combination — 1/2/4/8/16-bit gray, 8/16-bit
    RGB / gray+alpha / RGBA, 1/2/4/8-bit PALETTE via PLTE lookup
    (§4.1.2) — non-interlaced AND Adam7 seven-pass interlaced, all
    five scanline filters (byte-level with a bpp offset, shared across
    depths — see _png_unfilter; bpp=1 below 8 bits per §6.2). Sub-8
    gray samples are expanded to 8-bit by the exact 255/(2^d-1)
    multiplier (= bit replication). Illegal depth/color combinations
    raise ValueError (malformed, not unsupported — nothing in the
    static profile is left undecodable)."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, header, plte = 8, bytearray(), None, None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack(">I4s", payload[pos : pos + 8])
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            header = struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if header is None:
        raise ValueError("missing IHDR chunk")
    w, h, depth, color, _comp, _filt, interlace = header
    allowed = {
        0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
        4: (8, 16), 6: (8, 16),
    }
    if (
        color not in allowed
        or depth not in allowed[color]
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"malformed PNG: (depth={depth}, color_type={color}, "
            f"interlace={interlace}) is not a legal RFC 2083 profile"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG without a PLTE chunk")
    ch = _PNG_CHANNELS[color]
    bpp = max(1, ch * depth // 8)

    def _stride(width: int) -> int:
        return -(-(width * ch * depth) // 8)

    stride = _stride(w)
    raw = zlib.decompress(bytes(idat))
    if interlace:
        passes = [
            (x0, y0, dx, dy,
             -(-(w - x0) // dx) if w > x0 else 0,
             -(-(h - y0) // dy) if h > y0 else 0)
            for x0, y0, dx, dy in _ADAM7
        ]
        want = sum(
            ph * (_stride(pw) + 1) for *_, pw, ph in passes if pw and ph
        )
    else:
        want = h * (stride + 1)
    if len(raw) != want:
        raise ValueError("PNG raster size mismatch")
    if depth < 8:
        # sub-byte samples: unfilter each raster at bpp=1, unpack the
        # MSB-first packed samples, then scatter PIXELS (not bytes)
        samp = np.zeros((h, w), np.uint8)
        if interlace:
            off = 0
            for x0, y0, dx, dy, pw, ph in passes:
                if not (pw and ph):
                    continue
                sub, off = _png_unfilter(raw, off, ph, _stride(pw), 1)
                samp[y0::dy][:ph][:, x0::dx] = _png_unpack_sub8(
                    sub, pw, depth
                )
        else:
            rows, _ = _png_unfilter(raw, 0, h, stride, 1)
            samp = _png_unpack_sub8(rows, w, depth)
        if color == 3:
            if int(samp.max()) >= len(plte):
                raise ValueError("palette index out of range")
            return plte[samp]
        scale = 255 // ((1 << depth) - 1)  # exact for d in {1,2,4}
        return (samp * scale).astype(np.uint8).reshape(h, w, 1)
    if interlace:
        out = np.empty((h, stride), np.uint8)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            if not (pw and ph):
                continue
            sub, off = _png_unfilter(raw, off, ph, pw * bpp, bpp)
            # scatter the pass sub-image into the byte raster: pixel
            # (x0 + j*dx) spans bytes [(x0+j*dx)*bpp, ...+bpp)
            cols = (
                (np.arange(pw) * dx + x0)[:, None] * bpp + np.arange(bpp)
            ).reshape(-1)
            out[y0::dy][:ph][:, cols] = sub
    else:
        out, _ = _png_unfilter(raw, 0, h, stride, bpp)
    if color == 3:
        if int(out.max()) >= len(plte):
            raise ValueError("palette index out of range")
        return plte[out.reshape(h, w)]
    if depth == 16:
        b = out.reshape(h, w, ch, 2).astype(np.uint16)
        return ((b[..., 0] << 8) | b[..., 1]).astype(np.uint16)
    return out.reshape(h, w, ch)


def _png_unfilter(
    raw: bytes, off: int, n_rows: int, stride: int, bpp: int
) -> tuple[np.ndarray, int]:
    """Reverse the scanline filters over one raster (the whole image,
    or one Adam7 pass — each pass filters independently, prev row
    zero at pass start). Filters operate on BYTES with a bpp left
    offset (RFC 2083 §6.2), so 8- and 16-bit rasters share this path.
    Sub/Up vectorize (prefix sum / row add); Average/Paeth recur on
    the reconstructed left neighbor, so they walk bytes within the row
    (rows still parallelize across the corpus via mapInPandas)."""
    out = np.empty((n_rows, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    for y in range(n_rows):
        ft = raw[off]
        line = np.frombuffer(raw, np.uint8, stride, off + 1).copy()
        off += stride + 1
        if ft == 0:
            pass
        elif ft == 1:  # Sub: per-byte-column prefix sum
            line = (
                np.cumsum(line.reshape(-1, bpp), axis=0, dtype=np.uint32) % 256
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            line = ((line.astype(np.uint16) + prev) % 256).astype(np.uint8)
        elif ft == 3:  # Average
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(line[x]) + (left + int(prev[x])) // 2) % 256
            line = rec
        elif ft == 4:  # Paeth
            rec = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rec[x] = (int(line[x]) + pred) % 256
            line = rec
        else:
            raise ValueError(f"unknown PNG filter {ft}")
        out[y] = line
        prev = line
    return out, off


_GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _lzw_encode_gif(min_code: int, pixels: bytes) -> bytes:
    """GIF-variant LZW encoder (LSB-first bit packing, clear/end codes,
    symmetric width bump when the next free code reaches 2^width)."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, min_code + 1
    codes: list[tuple[int, int]] = [(clear, width)]
    buf = b""
    for p in pixels:
        nb = buf + bytes([p])
        if nb in table:
            buf = nb
            continue
        codes.append((table[buf], width))
        if next_code < 4096:
            table[nb] = next_code
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        buf = bytes([p])
    if buf:
        codes.append((table[buf], width))
    codes.append((end, width))
    out = bytearray()
    acc = nbits = 0
    for code, w in codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode_gif(min_code: int, data: bytes, n_pixels: int) -> bytes:
    """GIF-variant LZW decoder, mirror of _lzw_encode_gif (and of the
    GIF89a spec appendix): codes are LSB-first; a clear code resets the
    table; the KwKwK case (code == next free entry) extends the
    previous string with its own first byte."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and code not in (clear, end):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        # the decoder's table is one entry BEHIND the encoder's (the
        # encoder adds on emission, the decoder on the NEXT reception),
        # so the width bump fires at 2^w - 1 local entries — exactly
        # when the encoder, one entry ahead, reached 2^w
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        prev = entry
    return bytes(out[:n_pixels])


def _gif_interlace_order(h: int) -> list[int]:
    """Row transmission order of an interlaced GIF (GIF89a Appendix E):
    pass 1 = rows 0,8,16…, pass 2 = 4,12…, pass 3 = 2,6,10…,
    pass 4 = 1,3,5…"""
    order: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, h, step))
    return order


def synth_gif(
    w: int, h: int, seed: int = 0, n_colors: int = 8,
    interlace: bool = False,
) -> bytes:
    """Deterministic synthetic GIF87a payload: seeded palette + indices
    through the real LZW encoder, sub-blocked per the spec.
    `interlace=True` transmits rows in the four-pass Appendix-E order
    with the image-descriptor interlace flag set."""
    rng = np.random.RandomState(seed)
    bits = max(1, int(np.ceil(np.log2(max(n_colors, 2)))))
    pal_n = 1 << bits
    palette = rng.randint(0, 256, size=(pal_n, 3)).astype(np.uint8)
    idx = rng.randint(0, n_colors, size=(h, w)).astype(np.uint8)
    if interlace:
        idx = idx[_gif_interlace_order(h)]
    min_code = max(2, bits)
    lzw = _lzw_encode_gif(min_code, idx.tobytes())
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)
    screen = (
        w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x80 | (bits - 1), 0, 0])  # GCT present, size 2^bits
    )
    image_desc = (
        b"\x2c"
        + (0).to_bytes(2, "little") * 2
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0x00])  # no LCT
    )
    return (
        b"GIF87a"
        + screen
        + palette.tobytes()
        + image_desc
        + bytes([min_code])
        + bytes(blocks)
        + b"\x3b"
    )


def decode_gif(payload: bytes) -> np.ndarray:
    """Single-frame GIF -> uint8 RGB array (h, w, 3), pure stdlib +
    numpy: real LZW decompression, global/local color tables,
    extension blocks skipped, interlaced images de-interleaved via the
    Appendix-E four-pass row order; animations decode their FIRST
    image descriptor."""
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            lzw = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                lzw.extend(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            indices = np.frombuffer(
                _lzw_decode_gif(min_code, bytes(lzw), iw * ih), np.uint8
            ).reshape(ih, iw)
            if ipacked & 0x40:  # interlaced: un-permute the rows
                rows = np.empty_like(indices)
                rows[_gif_interlace_order(ih)] = indices
                indices = rows
            return ct[indices.reshape(-1)].reshape(ih, iw, 3)
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def synth_animated_gif(
    w: int,
    h: int,
    n_frames: int = 4,
    seed: int = 0,
    delay_cs: int = 5,
) -> bytes:
    """Deterministic synthetic ANIMATED GIF89a payload: a global color
    table, a NETSCAPE2.0 loop extension, and one Graphic Control
    Extension + image per frame. Frame 0 is a full-rect keyframe;
    later frames are partial sub-rects that rotate through disposal
    methods 1/2/3, transparency, local color tables and interlace —
    every compositing path of decode_gif_frames gets real streams."""
    rng = np.random.RandomState(seed)
    bits = 4
    pal_n = 1 << bits
    gct = rng.randint(0, 256, size=(pal_n, 3)).astype(np.uint8)
    out = bytearray()
    out += b"GIF89a"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), 0, 0])  # GCT, bg index 0
    out += gct.tobytes()
    # NETSCAPE2.0 looping application extension (decoders must skip)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fi in range(n_frames):
        if fi == 0:
            left = top = 0
            fw, fh = w, h
            disposal, transparent = 1, False
        else:
            fw = max(1, int(rng.randint(1, w + 1)))
            fh = max(1, int(rng.randint(1, h + 1)))
            left = int(rng.randint(0, w - fw + 1))
            top = int(rng.randint(0, h - fh + 1))
            disposal = (1, 2, 3)[fi % 3]
            transparent = fi % 2 == 1
        tidx = int(rng.randint(0, pal_n))
        packed = (disposal << 2) | (1 if transparent else 0)
        out += bytes([0x21, 0xF9, 0x04, packed])
        out += int(delay_cs + fi).to_bytes(2, "little")
        out += bytes([tidx if transparent else 0, 0x00])
        use_lct = fi % 3 == 2
        interlace = fi % 4 == 3
        out += b"\x2c"
        out += left.to_bytes(2, "little") + top.to_bytes(2, "little")
        out += fw.to_bytes(2, "little") + fh.to_bytes(2, "little")
        out += bytes([(0x80 | (bits - 1) if use_lct else 0)
                      | (0x40 if interlace else 0)])
        if use_lct:
            out += rng.randint(0, 256, size=(pal_n, 3)).astype(
                np.uint8
            ).tobytes()
        idx = rng.randint(0, pal_n, size=(fh, fw)).astype(np.uint8)
        if interlace:
            idx = idx[_gif_interlace_order(fh)]
        lzw = _lzw_encode_gif(max(2, bits), idx.tobytes())
        out += bytes([max(2, bits)])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def decode_gif_frames(
    payload: bytes,
) -> list[tuple[int, int, np.ndarray]]:
    """Animated GIF -> [(ts_ms, duration_ms, RGB canvas copy)] — the
    full GIF89a animation pipeline, pure stdlib + numpy: per-frame
    Graphic Control Extensions (delay, transparency index, disposal
    methods 0/1 leave, 2 restore-to-background, 3 restore-to-previous
    per spec §23), sub-rect frames composited onto the logical screen,
    global/local color tables, interlace. ts is the cumulative display
    timeline (frame 0 at 0 ms; a frame's GCE delay is how long IT
    stays up). Restore-to-background paints the GCT background color —
    the 89a-spec reading; browsers' clear-to-transparent variant is a
    rendering-model choice this RGB (no alpha) canvas cannot express."""
    if payload[:6] not in _GIF_MAGICS:
        raise ValueError("not a GIF payload")
    w = int.from_bytes(payload[6:8], "little")
    h = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg = (
        gct[bg_index] if gct is not None and bg_index < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.empty((h, w, 3), np.uint8)
    canvas[:] = bg
    frames: list[tuple[int, int, np.ndarray]] = []
    t_ms = 0
    gce: tuple[int, int, int | None] | None = None  # delay, disp, tidx
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension
            label = payload[pos + 1]
            pos += 2
            subs = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                subs.extend(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and len(subs) >= 4:
                gce = (
                    int.from_bytes(subs[1:3], "little"),  # delay cs
                    (subs[0] >> 2) & 0x07,                # disposal
                    subs[3] if subs[0] & 0x01 else None,  # transp idx
                )
        elif block == 0x2C:  # image descriptor
            left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
            top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
            iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
            ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
            ipacked = payload[pos + 9]
            pos += 10
            ct = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                ct = np.frombuffer(
                    payload, np.uint8, n * 3, pos
                ).reshape(n, 3)
                pos += n * 3
            if ct is None:
                raise ValueError("GIF image without a color table")
            min_code = payload[pos]
            pos += 1
            lzw = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                lzw.extend(payload[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            indices = np.frombuffer(
                _lzw_decode_gif(min_code, bytes(lzw), iw * ih), np.uint8
            ).reshape(ih, iw)
            if ipacked & 0x40:
                rows = np.empty_like(indices)
                rows[_gif_interlace_order(ih)] = indices
                indices = rows
            delay_cs, disposal, tidx = gce if gce else (0, 0, None)
            prev = canvas.copy() if disposal == 3 else None
            region = canvas[top : top + ih, left : left + iw]
            if tidx is not None:
                mask = indices != tidx
                region[mask] = ct[indices[mask]]
            else:
                region[:] = ct[indices.reshape(-1)].reshape(ih, iw, 3)
            frames.append((t_ms, delay_cs * 10, canvas.copy()))
            t_ms += delay_cs * 10
            if disposal == 2:
                region[:] = bg
            elif disposal == 3 and prev is not None:
                canvas = prev
            gce = None
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> uint8 (maxval<=255) or uint16 (2-byte
    big-endian samples) array (h, w, 3). Pure numpy; the header
    grammar is whitespace-separated tokens with '#' comments
    (Netpbm spec)."""
    tokens: list[bytes] = []
    i = 0
    while len(tokens) < 4:
        # skip whitespace and comments
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    if tokens[0] != b"P6":
        raise ValueError(f"not a P6 PPM: magic {tokens[0]!r}")
    w, h, maxval = int(tokens[1]), int(tokens[2]), int(tokens[3])
    if not 0 < maxval < 65536:
        raise ValueError(f"PPM maxval {maxval} out of range")
    i += 1  # single whitespace after maxval
    if maxval > 255:  # 2-byte big-endian samples (Netpbm spec)
        raster = np.frombuffer(payload, dtype=">u2", count=w * h * 3, offset=i)
        return raster.reshape(h, w, 3).astype(np.uint16)
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE -> (int16 samples [n, channels], rate). Pure numpy +
    chunk walking. Integer PCM at 8 (unsigned, per spec) / 16 / 24 /
    32 bits and IEEE float32/64 (format code 3) all decode; every
    format lands on the SAME int16 sample space (wider widths keep the
    top 16 bits; floats clip [-1,1] and scale) so the downstream
    feature path is format-independent and the PCM16 path stays
    bit-identical to rounds 3-4. Compressed codecs rejected."""
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format == 1:  # integer PCM
        if bits == 16:
            samples = np.frombuffer(data, dtype="<i2")
        elif bits == 8:  # 8-bit WAV is UNSIGNED (RIFF spec)
            samples = (
                (np.frombuffer(data, np.uint8).astype(np.int16) - 128)
                << 8
            )
        elif bits == 24:  # packed little-endian, sign-extend via i32
            raw = np.frombuffer(data, np.uint8).reshape(-1, 3)
            as32 = np.zeros((raw.shape[0], 4), np.uint8)
            as32[:, 1:] = raw
            samples = (
                as32.view("<i4").reshape(-1) >> 16
            ).astype(np.int16)
        elif bits == 32:
            samples = (
                np.frombuffer(data, dtype="<i4") >> 16
            ).astype(np.int16)
        else:
            raise ValueError(f"unsupported PCM width {bits}")
    elif audio_format == 3:  # IEEE float
        dt = "<f4" if bits == 32 else "<f8"
        f = np.clip(np.frombuffer(data, dtype=dt), -1.0, 1.0)
        samples = np.round(f * 32767.0).astype(np.int16)
    else:
        raise ValueError(
            f"WAV format code {audio_format} needs a codec library "
            "(integer PCM and IEEE float decode natively)"
        )
    return samples.reshape(-1, n_channels), rate


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize via index gathers — the standard
    library-free downsample for thumbnail/feature grids."""
    h, w = img.shape[0], img.shape[1]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


def _image_features(img: np.ndarray, dim: int) -> list[float]:
    """Per-channel mean/std on a 4x4 nearest-resized grid + dims —
    deterministic, resolution- and depth-normalized."""
    denom = 65535.0 if img.dtype == np.uint16 else 255.0
    small = resize_nearest(img, 4, 4).astype(np.float64) / denom
    chans = small.reshape(-1, small.shape[-1])
    feats = list(chans.mean(axis=0)) + list(chans.std(axis=0))
    feats += [img.shape[1] / 4096.0, img.shape[0] / 4096.0]
    return [float(x) for x in feats[:dim]] + [0.0] * max(0, dim - len(feats))


def _audio_features(samples: np.ndarray, rate: int, dim: int) -> list[float]:
    x = samples.astype(np.float64) / 32768.0
    mono = x.mean(axis=1)
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
    feats = [
        float(np.mean(np.abs(mono))),
        float(mono.std()),
        zc,
        len(mono) / max(rate, 1) / 3600.0,  # duration (hours scale)
        float(mono.max(initial=0.0)),
        float(mono.min(initial=0.0)),
    ]
    return [float(v) for v in feats[:dim]] + [0.0] * max(0, dim - len(feats))


def audio_spectral_features(
    samples: np.ndarray, rate: int, dim: int = 8
) -> list[float]:
    """FFT-based spectral descriptors (numpy.fft — library-free):
    [spectral centroid Hz/Nyquist, 85% rolloff Hz/Nyquist, bandwidth
    Hz/Nyquist, spectral flatness, zero-crossing rate, RMS, low-band
    energy share (<1/8 Nyquist), duration-hours] — the standard compact
    audio fingerprint for corpus-level filtering/dedup. Deterministic;
    tested against analytically-known signals (a pure tone centroids at
    its own frequency, white noise is spectrally flat)."""
    x = samples.astype(np.float64) / 32768.0
    mono = x.mean(axis=1) if x.ndim > 1 else x
    n = len(mono)
    if n == 0:
        return [0.0] * dim
    spec = np.abs(np.fft.rfft(mono))
    freqs = np.fft.rfftfreq(n, d=1.0 / max(rate, 1))
    nyq = max(rate, 1) / 2.0
    power = spec**2
    total = power.sum()
    if total <= 0:
        cent = roll = bw = flat = 0.0
    else:
        cent = float((freqs * power).sum() / total) / nyq
        cum = np.cumsum(power)
        roll = float(freqs[int(np.searchsorted(cum, 0.85 * total))]) / nyq
        bw = float(
            np.sqrt(((freqs - cent * nyq) ** 2 * power).sum() / total)
        ) / nyq
        # geometric/arithmetic mean ratio over the magnitude spectrum
        nz = spec[spec > 0]
        flat = float(
            np.exp(np.mean(np.log(nz))) / np.mean(nz)
        ) if len(nz) else 0.0
    zc = float(np.mean(np.abs(np.diff(np.signbit(mono).astype(np.int8)))))
    rms = float(np.sqrt(np.mean(mono**2)))
    low = float(power[freqs < nyq / 8].sum() / total) if total > 0 else 0.0
    feats = [cent, roll, bw, flat, zc, rms, low, n / max(rate, 1) / 3600.0]
    return [float(v) for v in feats[:dim]] + [0.0] * max(0, dim - len(feats))


def _decode_real(
    payload: bytes,
    mime: str | None,
    dim: int,
    audio_spectral: bool = False,
) -> list[float]:
    if mime == "image/x-portable-pixmap":
        return _image_features(decode_ppm(payload), dim)
    if mime == "image/png":
        return _image_features(decode_png(payload), dim)
    if mime == "image/gif":
        return _image_features(decode_gif(payload), dim)
    if mime == "image/jpeg":
        from .jpeg import decode_jpeg

        return _image_features(decode_jpeg(payload), dim)
    if mime in ("audio/wav", "audio/x-wav"):
        samples, rate = decode_wav(payload)
        if audio_spectral:
            return audio_spectral_features(samples, rate, dim)
        return _audio_features(samples, rate, dim)
    raise NotImplementedError(
        f"decoding mime {mime!r} requires codec libraries not present in "
        "this environment (PPM/PNG/GIF/JPEG/WAV decode natively)"
    )


def decode_and_featurize(
    media: DataFrame,
    dim: int = 8,
    audio_spectral: bool = False,
) -> DataFrame:
    """mapInPandas decode/feature stage. Partition-parallel, no shuffle;
    batch shape: one pandas frame per Arrow batch with binary payloads.
    PPM/PNG/GIF/JPEG/WAV decode for real (see module docstring);
    remaining codec formats raise until libraries are present. A null
    payload gives a null feature.
    `audio_spectral=True` swaps the time-domain audio summary for the
    FFT descriptor set (audio_spectral_features)."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if p is None else _decode_real(p, m, dim, audio_spectral)
                for p, m in zip(pdf["payload"], pdf["mime"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    return media.select("media_id", "kind", "mime", "payload").mapInPandas(
        _run, FEATURE_SCHEMA
    )


FRAME_SCHEMA = (
    "media_id string, sample_ms long, frame_idx int, n_frames int,"
    " feature array<float>"
)


def frame_sample_decode(
    media: DataFrame, every_ms: int = 40, dim: int = 8
) -> DataFrame:
    """REAL video frame sampling: decode each `kind == 'video'` payload
    into its frame timeline, take a sample every `every_ms` ms over
    the clip's duration, and featurize the frame on screen at each
    tick (last frame whose display ts <= tick — the hold-previous
    semantics of a video scrubber). Animated GIF (GIF89a, the one
    video-ish container decodable without codec libraries — see
    decode_gif_frames) decodes natively; real video containers
    (MP4/WebM) raise NotImplementedError until codec libraries exist.

    Scale shape: mapInPandas, partition-parallel across clips, no
    shuffle; one clip's frames never leave its task, and each emitted
    row is a fixed-width feature vector, so output size is
    duration/every_ms rows per clip regardless of resolution."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "sample_ms": [], "frame_idx": [],
                "n_frames": [], "feature": [],
            }
            for mid, payload, mime in zip(
                pdf["media_id"], pdf["payload"], pdf["mime"]
            ):
                if payload is None:
                    continue
                if mime != "image/gif":
                    raise NotImplementedError(
                        f"video container {mime!r} needs codec libraries "
                        "not present in this environment (animated GIF "
                        "decodes natively)"
                    )
                frames = decode_gif_frames(bytes(payload))
                ts = np.array([f[0] for f in frames], np.int64)
                total = int(frames[-1][0] + frames[-1][1])
                feats = [None] * len(frames)
                for tick in range(0, max(total, 1), every_ms):
                    fi = int(np.searchsorted(ts, tick, side="right")) - 1
                    fi = max(fi, 0)
                    if feats[fi] is None:
                        feats[fi] = _image_features(frames[fi][2], dim)
                    out["media_id"].append(mid)
                    out["sample_ms"].append(tick)
                    out["frame_idx"].append(fi)
                    out["n_frames"].append(len(frames))
                    out["feature"].append(feats[fi])
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "video").select(
        "media_id", "mime", "payload"
    ).mapInPandas(_run, FRAME_SCHEMA)
