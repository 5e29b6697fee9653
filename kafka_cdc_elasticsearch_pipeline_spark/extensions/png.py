"""Minimal PNG codec on stdlib zlib + numpy — no imaging library.

The harness ships no PIL/opencv, but PNG itself is just deflate +
per-scanline byte filters (public spec, RFC 2083), so the *decode*
stage of the multimodal pipeline can be real for PNG payloads instead
of a stub: parse chunks (CRC-verified), inflate IDAT, undo filters
0-4, yield true (width, height, mode) + pixels.

Scope: 8-bit depth, color types 0 (gray) / 2 (RGB) / 6 (RGBA),
non-interlaced — the shapes a training-data pipeline normalizes to
anyway. Baseline JPEG has its own codec (jpeg.py); unrecognized
payloads keep the clearly-labeled deterministic fake
(multimodal.py).

Vectorization (round-4): the ENCODE filters predict from *original*
(unfiltered) neighbor bytes, so every filter type vectorizes across
the whole scanline — shifted-array arithmetic, no Python byte loop.
DECODE is different: filters 3/4 (Average/Paeth) predict from the
already-RECONSTRUCTED left neighbor, a sequential dependency by spec
— but filter 0 is a copy, filter 2 (Up) is one vector add, and
filter 1 (Sub) reduces to a per-channel-lane cumulative sum
(cur[p] = Σ line[0..p] mod 256), all numpy. Only Average/Paeth rows
keep a sequential walk, vectorized across channels per pixel when
the row is wide enough for numpy to win. Cost stays O(bytes) per
image inside an Arrow-batched ``mapInPandas`` stage — per-partition
parallelism is the fleet-scale lever.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CTYPE_CH = {0: 1, 2: 3, 6: 4}
_CH_CTYPE = {1: 0, 3: 2, 4: 6}
_CH_MODE = {1: "L", 3: "RGB", 4: "RGBA"}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray, filter_cycle: tuple[int, ...] = (0, 1, 2, 3, 4)) -> bytes:
    """Encode an (h, w) or (h, w, ch) uint8 array; scanline filter
    types cycle through ``filter_cycle`` so a round-trip exercises
    every unfilter branch."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ctype = _CH_CTYPE[ch]
    stride = w * ch
    flat = px.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        row = flat[r]
        ft = filter_cycle[r % len(filter_cycle)]
        raw.append(ft)
        if ft == 0:
            enc = row
        elif ft == 2:  # Up
            enc = (row - prev) % 256
        else:
            # Sub/Average/Paeth predict from ORIGINAL neighbors on the
            # encode side — whole-scanline vector arithmetic.
            a = np.concatenate([np.zeros(ch, dtype=np.int32), row[:-ch]])
            if ft == 1:
                pred = a
            else:
                b = prev
                c = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
                if ft == 3:
                    pred = (a + b) // 2
                else:  # Paeth
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
            enc = (row - pred) % 256
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> tuple[int, int, str, np.ndarray]:
    """Decode to (width, height, mode, pixels[h, w, ch] uint8).
    Raises ValueError on non-PNG, bad CRC, or out-of-scope variants."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, dims = 8, [], None
    while pos + 12 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (8 only)")
            if ctype not in _CTYPE_CH:
                raise ValueError(f"unsupported color type {ctype} (0/2/6 only)")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
            dims = (w, h, _CTYPE_CH[ctype])
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if dims is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, ch = dims
    stride = w * ch
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    npix = w
    for r in range(h):
        off = r * (stride + 1)
        ft = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1).astype(
            np.int64
        )
        if ft == 0:
            cur = line
        elif ft == 2:  # Up — one vector add
            cur = (line + prev) % 256
        elif ft == 1:  # Sub: cur[p] = Σ line[0..p] per channel lane
            cur = np.cumsum(line.reshape(npix, ch), axis=0).reshape(stride) % 256
        elif ft in (3, 4):
            # Average/Paeth reconstruct from the already-reconstructed
            # LEFT byte — sequential by spec. Plain-int lists beat
            # numpy element indexing ~10× here (each np scalar access
            # allocates); the loop body is branch-light inlined ints.
            ln = line.tolist()
            pv = prev.tolist()
            cur_l = [0] * stride
            if ft == 3:
                for i in range(stride):
                    a = cur_l[i - ch] if i >= ch else 0
                    cur_l[i] = (ln[i] + ((a + pv[i]) >> 1)) & 255
            else:
                for i in range(stride):
                    a = cur_l[i - ch] if i >= ch else 0
                    b = pv[i]
                    c = pv[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    cur_l[i] = (ln[i] + pred) & 255
            cur = np.asarray(cur_l, dtype=np.int64)
        else:
            raise ValueError(f"unknown scanline filter {ft}")
        out[r] = cur
        prev = cur
    return w, h, _CH_MODE[ch], out.reshape(h, w, ch)
