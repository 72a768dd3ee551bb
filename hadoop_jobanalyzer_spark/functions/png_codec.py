"""Dependency-free PNG codec — the chart rasterizer's encoder and the
vendored decode fallback for the multimodal image tier.

``encode_png`` writes the charts that sinks.py paints (numpy canvas in,
filter-0 PNG out, stdlib ``zlib``/``struct``); ``decode_png`` is the
matching reader, so the real-decode multimodal path
(``operators/multimodal.decoded_image_features``) executes even where no
image library is installed. Scope is deliberately the still-image subset
a data pipeline actually meets in practice and the rasterizer emits:

* 8-bit samples, non-interlaced, all five scanline filters (None / Sub /
  Up / Average / Paeth, RFC 2083 §6);
* color types 0 (grayscale), 2 (RGB), 3 (palette), 4 (gray+alpha),
  6 (RGBA);
* 16-bit and interlaced (Adam7) images raise ``ValueError`` — a
  deployment with Pillow/libvips registers that codec via
  ``set_image_codec`` and this module steps aside automatically;
* ancillary chunks are IGNORED (decode proceeds without them) with one
  exception: ``tRNS`` is REJECTED, because transparency changes pixel
  semantics — silently dropping it would decode a transparent
  palette/gray image as fully opaque, diverging from what the Pillow
  tier returns for the same payload.

Performance note: None and Up rows unfilter as whole-row numpy ops and
Sub as a per-channel-lane cumsum mod 256; only Average and Paeth remain
a per-byte loop — their reconstruction recurrence is nonlinear in the
already-reconstructed left neighbor (a ``>> 1`` / predictor select), so
it does not vectorize along the scanline. Correct and adequate for the
fallback tier (thumbnails, fixtures, smoke decodes); decode still
happens *inside* the Arrow-batched executor stage, so a cluster decodes
in parallel across payloads even where each payload is pure Python.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG payload to a uint8 pixel array.

    Returns shape ``(h, w)`` for grayscale, ``(h, w, 3)`` for RGB and
    palette, ``(h, w, 2)`` for gray+alpha, ``(h, w, 4)`` for RGBA.
    Raises ``ValueError`` on anything that is not a supported PNG.
    """
    payload = bytes(payload)
    if payload[:8] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"PLTE":
            plte = data
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"tRNS":
            # transparency changes pixel semantics; ignoring it would
            # decode transparent pixels as opaque — reject instead (the
            # step-aside-for-a-real-codec contract, module docstring)
            raise ValueError("tRNS transparency not supported")
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8:
        raise ValueError(f"unsupported bit depth {depth} (8 only)")
    if interlace != 0:
        raise ValueError("interlaced PNG not supported")
    if comp != 0 or filt != 0:
        raise ValueError("nonstandard compression/filter method")
    channels = _CHANNELS.get(ctype)
    if channels is None:
        raise ValueError(f"unsupported color type {ctype}")
    if w == 0 or h == 0:
        raise ValueError("zero-dimension image")

    stride = w * channels
    expected = h * (stride + 1)
    # Inflate with a hard cap at the declared geometry: this codec is the
    # default decode floor for UNTRUSTED corpus payloads, and a ~KB
    # crafted zlib bomb would otherwise expand ~1000x in executor memory
    # before the length check could reject it.
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), expected + 1)
        overrun = len(raw) > expected or bool(
            d.unconsumed_tail and d.decompress(d.unconsumed_tail, 1)
        )
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from None
    if overrun:
        raise ValueError("IDAT inflates past the declared dimensions")
    if len(raw) != expected:
        raise ValueError("IDAT length does not match dimensions")

    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        cur = rows[y, 1:]
        if f == 0:
            out[y] = cur
        elif f == 1:  # Sub: x[i] = d[i] + x[i-ch] — per-lane cumsum mod 256
            out[y] = (
                (np.cumsum(cur.reshape(-1, channels).astype(np.int64), axis=0) & 0xFF)
                .astype(np.uint8)
                .reshape(stride)
            )
        elif f == 2:  # Up: uint8 addition wraps mod 256
            out[y] = cur + prev
        elif f in (3, 4):  # Average / Paeth: sequential in the
            # reconstructed left neighbor and nonlinear (>>1 / predictor
            # select) — per-byte by necessity (module docstring)
            c2 = bytearray(cur.tobytes())
            pv = prev.tobytes()
            if f == 3:
                for i in range(stride):
                    left = c2[i - channels] if i >= channels else 0
                    c2[i] = (c2[i] + ((left + pv[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    left = c2[i - channels] if i >= channels else 0
                    ul = pv[i - channels] if i >= channels else 0
                    c2[i] = (c2[i] + _paeth(left, pv[i], ul)) & 0xFF
            out[y] = np.frombuffer(bytes(c2), dtype=np.uint8)
        else:
            raise ValueError(f"unknown scanline filter {f}")
        prev = out[y]

    if ctype == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette image without a valid PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("palette index out of range")
        return pal[idx]
    if channels == 1:
        return out.reshape(h, w)
    return out.reshape(h, w, channels)


def encode_png(arr: np.ndarray) -> bytes:
    """Encode a uint8 array — ``(h, w)`` gray, ``(h, w, 2)`` gray+alpha,
    ``(h, w, 3)`` RGB, or ``(h, w, 4)`` RGBA — as a filter-0 PNG at zlib
    level 6 (the chart rasterizer's output format, sinks.py)."""
    a = np.ascontiguousarray(np.asarray(arr, dtype=np.uint8))
    if a.ndim == 2:
        ctype, channels = 0, 1
    elif a.ndim == 3 and a.shape[2] in (2, 3, 4):
        ctype = {2: 4, 3: 2, 4: 6}[a.shape[2]]
        channels = a.shape[2]
    else:
        raise ValueError(f"unsupported array shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    # a filter-0 byte column prepended to the rows: the scanline stream
    rows = a.reshape(h, w * channels)
    raw = np.concatenate([np.zeros((h, 1), np.uint8), rows], axis=1).tobytes()

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize, PNG in → PNG out — the fallback
    implementation of the multimodal resize contract (pixel-center
    sampling; a registered Pillow/libvips codec supplies real
    resampling filters)."""
    if width < 1 or height < 1:
        raise ValueError(f"target dimensions must be >= 1, got {width}x{height}")
    px = decode_png(payload)
    h, w = px.shape[0], px.shape[1]
    rows = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64), h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64), w - 1)
    return encode_png(px[rows][:, cols])
