"""Pure-stdlib/numpy PNG codec — encode AND decode, no codec libs.

Implements the subset of ISO/IEC 15948 (the public PNG spec) that a
web-scrape training-data pipeline actually meets: non-interlaced 8-bit
truecolor (RGB, color type 2) and truecolor+alpha (RGBA, color type 6),
all five filter types (None/Sub/Up/Average/Paeth) on both paths, chunk
CRC-32 verification, and multi-IDAT streams. Palette (3), grayscale
(0/4), 16-bit samples, and Adam7 interlace raise
``NotImplementedError`` — the documented out-of-scope tail, same
posture as the JPEG codec's progressive/arithmetic variants
(`operators/jpeg.py`).

Reference parity: the reference repo moves media blobs opaquely
(Extract-Transform-Load-Template-MultiDB carries no decoder at all);
this codec exists so the engine's Arrow-batched decode stage
(`operators/multimodal.py`) is real for the web's second-most-common
image format. The only compression dependency is zlib, which is in the
Python standard library — decode is bit-exact (DEFLATE is lossless and
filters are integer arithmetic mod 256), so a SQL oracle can predict
every decoded pixel of a synthesized payload in closed form.

Filter math (spec §9, integer mod 256 throughout):

* Sub:     ``Recon(x) = Filt(x) + Recon(a)``
* Up:      ``Recon(x) = Filt(x) + Recon(b)``
* Average: ``Recon(x) = Filt(x) + floor((Recon(a) + Recon(b)) / 2)``
* Paeth:   ``Recon(x) = Filt(x) + PaethPredictor(a, b, c)``

with ``a`` the byte one pixel left, ``b`` the byte above, ``c`` the
byte above-left (zero outside the image). Sub/Average/Paeth carry a
left-recurrence, so reconstruction scans each row sequentially; rows
are short (width × channels bytes) and the scan is per-row local — the
Arrow batch boundary, not this loop, bounds decode memory.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(
    img: "np.ndarray", filters: tuple[int, ...] | None = None
) -> bytes:
    """Encode an (h, w, 3|4) uint8 array as a valid PNG.

    ``filters`` assigns the filter type of each row cyclically
    (default: Sub — cheap and exercises a real filter); pass
    ``(0, 1, 2, 3, 4)`` to cover every filter type across rows. The
    output always decodes bit-exactly (filters are invertible integer
    arithmetic), so filter choice affects only compressed size.
    """
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("image must be (h, w, 3|4) uint8")
    h, w, ch = img.shape
    if h < 1 or w < 1:
        raise ValueError("empty image")
    color_type = 2 if ch == 3 else 6
    if filters is None:
        filters = (1,)
    flat = img.reshape(h, w * ch).astype(np.int64)
    zero = np.zeros(w * ch, dtype=np.int64)
    out = bytearray()
    for y in range(h):
        ft = int(filters[y % len(filters)])
        if ft not in (0, 1, 2, 3, 4):
            raise ValueError(f"invalid filter type {ft}")
        cur = flat[y]
        prior = flat[y - 1] if y else zero
        left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
        upleft = np.concatenate(
            [np.zeros(ch, dtype=np.int64), prior[:-ch]]
        )
        if ft == 0:
            f = cur
        elif ft == 1:
            f = cur - left
        elif ft == 2:
            f = cur - prior
        elif ft == 3:
            f = cur - (left + prior) // 2
        else:
            p = left + prior - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prior)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc),
                left,
                np.where(pb <= pc, prior, upleft),
            )
            f = cur - pred
        out.append(ft)
        out.extend((f % 256).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


def parse_png(payload: bytes) -> tuple[int, int, int, "np.ndarray"]:
    """Decode a non-interlaced 8-bit RGB/RGBA PNG.

    Returns ``(width, height, n_channels, pixels)`` with ``pixels`` a
    uint8 array shaped (height, width, n_channels). Raises
    ``ValueError`` on malformed payloads (bad signature, CRC mismatch,
    truncated stream, wrong decompressed size) and
    ``NotImplementedError`` on valid-but-unsupported variants
    (palette/gray, 16-bit, Adam7) — callers surface both in an ``err``
    column rather than failing the stage.
    """
    if payload[:8] != _SIGNATURE:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr: bytes | None = None
    idat = bytearray()
    seen_end = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk data")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            seen_end = True
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("missing or malformed IHDR")
    if not seen_end:
        raise ValueError("missing IEND")
    w, h, depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if w < 1 or h < 1:
        raise ValueError("invalid PNG dimensions")
    if comp != 0 or filt != 0:
        raise ValueError("invalid compression/filter method")
    if interlace == 1:
        raise NotImplementedError("Adam7 interlaced PNG not supported")
    if depth != 8:
        raise NotImplementedError(f"{depth}-bit PNG not supported")
    if color_type not in (2, 6):
        raise NotImplementedError(
            f"PNG color type {color_type} not supported (need RGB/RGBA)"
        )
    ch = 3 if color_type == 2 else 4
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as ex:
        raise ValueError(f"corrupt IDAT stream: {ex}") from None
    stride = 1 + w * ch
    if len(raw) != h * stride:
        raise ValueError("decompressed size does not match dimensions")
    img = np.empty((h, w * ch), dtype=np.uint8)
    prior = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        row = raw[y * stride : (y + 1) * stride]
        ft = row[0]
        f = np.frombuffer(row[1:], dtype=np.uint8).astype(np.int64)
        if ft == 0:
            recon = f
        elif ft == 2:
            recon = (f + prior) % 256
        elif ft == 1:
            # Sub is a pure per-channel-lane prefix sum: recon[x] =
            # (f[x] + recon[x-ch]) mod 256, so recon over each lane is
            # cumsum(f) mod 256 — exact in int64 (Σ < 256·w ≪ 2⁶³) and
            # fully vectorized (no per-byte Python loop).
            recon = np.cumsum(f.reshape(w, ch), axis=0, dtype=np.int64)
            recon = (recon % 256).reshape(w * ch)
        elif ft in (3, 4):
            # Average/Paeth recurrences mix left-neighbor state with a
            # floor-division (Average) or a 3-way predictor (Paeth) —
            # not expressible as a prefix scan. Vectorize across the
            # channel lanes instead: one Python iteration per PIXEL
            # with (ch,)-wide numpy ops, a ch× reduction over the
            # per-byte loop (w iterations for a w×ch row).
            fl = f.reshape(w, ch)
            pl = prior.reshape(w, ch)
            recon2 = np.empty((w, ch), dtype=np.int64)
            a = np.zeros(ch, dtype=np.int64)
            c = np.zeros(ch, dtype=np.int64)
            if ft == 3:
                for x in range(w):
                    a = (fl[x] + (a + pl[x]) // 2) % 256
                    recon2[x] = a
            else:
                for x in range(w):
                    b = pl[x]
                    p_a = np.abs(b - c)
                    p_b = np.abs(a - c)
                    p_c = np.abs(a + b - 2 * c)
                    pred = np.where(
                        (p_a <= p_b) & (p_a <= p_c),
                        a,
                        np.where(p_b <= p_c, b, c),
                    )
                    a = (fl[x] + pred) % 256
                    recon2[x] = a
                    c = b
            recon = recon2.reshape(w * ch)
        else:
            raise ValueError(f"invalid row filter type {ft}")
        img[y] = recon.astype(np.uint8)
        prior = recon
    return w, h, ch, img.reshape(h, w, ch)
