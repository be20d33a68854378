"""Image byte codecs: minimal 16-bit PNG and raw little-endian.

The engine's input table stores pixels as an opaque ``binary`` column
(BASELINE.json input_hint). This container has no imaging libraries,
so we implement a self-contained, deterministic codec pair:

- ``png``     — minimal PNG (16-bit, greyscale or RGB, zlib from the
                stdlib, filter type 0). Lossless, so the decode
                invariant is exact equality (PSNR = inf >= 40 dB).
- ``raw_u16`` — headerless little-endian uint16, C-order
                (bands, h, w); band count inferred from length.

Decoding runs inside Arrow pandas UDFs on executors (SURVEY.md §1.1
row "Multi-band image"); no per-row Python at the DataFrame level.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def encode_png16(img: np.ndarray) -> bytes:
    """Encode (nbands, h, w) uint16 as a minimal PNG.

    nbands must be 1 (greyscale) or 3 (truecolour).
    """
    nbands, h, w = img.shape
    if nbands == 1:
        colour_type = 0
    elif nbands == 3:
        colour_type = 2
    else:
        raise ValueError(f"png supports 1 or 3 bands, got {nbands}")
    ihdr = struct.pack(">IIBBBBB", w, h, 16, colour_type, 0, 0, 0)
    # interleave to (h, w, nbands), big-endian, one filter-0 byte per row
    inter = np.ascontiguousarray(
        img.transpose(1, 2, 0).astype(">u2"))
    rows = inter.reshape(h, w * nbands).view(np.uint8)
    raw = np.zeros((h, 1 + w * nbands * 2), dtype=np.uint8)
    raw[:, 1:] = rows
    idat = zlib.compress(raw.tobytes(), 6)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def decode_png16(data: bytes) -> np.ndarray:
    """Decode a minimal PNG produced by :func:`encode_png16`.

    Only bit depth 16, colour types 0/2, no interlace, filter type 0
    (which is all our encoder emits)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    idat = []
    w = h = depth = colour_type = None
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4: pos + 8]
        payload = data[pos + 8: pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, colour_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", payload)
            if depth != 16 or colour_type not in (0, 2) or interlace:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat.append(payload)
        elif tag == b"IEND":
            break
    nbands = 3 if colour_type == 2 else 1
    raw = zlib.decompress(b"".join(idat))
    stride = 1 + w * nbands * 2
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    if (arr[:, 0] != 0).any():
        raise ValueError("unsupported PNG filter type")
    pix = arr[:, 1:].reshape(h, w, nbands, 2)
    out = pix.copy().view(">u2").reshape(h, w, nbands)
    return np.ascontiguousarray(
        out.astype(np.uint16).transpose(2, 0, 1))


def encode_raw_u16(img: np.ndarray) -> bytes:
    """(nbands, h, w) uint16 -> headerless little-endian bytes."""
    return np.ascontiguousarray(img.astype("<u2")).tobytes()


def decode_raw_u16(data: bytes, w: int, h: int) -> np.ndarray:
    n = len(data) // 2
    nbands = n // (w * h)
    if nbands * w * h * 2 != len(data):
        raise ValueError("raw_u16 length does not match w*h")
    return np.frombuffer(data, dtype="<u2").reshape(
        nbands, h, w).astype(np.uint16)


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "png":
        return encode_png16(img)
    if fmt == "raw_u16":
        return encode_raw_u16(img)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes -> (nbands, h, w) uint16. The hot decode kernel."""
    if fmt == "png":
        img = decode_png16(data)
        if img.shape[1] != h or img.shape[2] != w:
            raise ValueError("PNG dims disagree with table w/h")
        return img
    if fmt == "raw_u16":
        return decode_raw_u16(data, w, h)
    raise ValueError(f"unknown fmt {fmt!r}")


def check_decode_policy(on_decode_error: str) -> None:
    """on_decode_error policies: "fail" raises on a corrupt bytes row
    like the reference; "skip" drops the row — at 10^12-image scale
    garbage rows exist and must not kill the stage."""
    if on_decode_error not in ("fail", "skip"):
        raise ValueError(f"on_decode_error must be 'fail' or 'skip', "
                         f"got {on_decode_error!r}")


# the image-table columns a decode kernel selects
IMAGE_COLS = ["image_id", "bytes", "w", "h", "fmt"]


def decode_rows(pdf, on_decode_error: str = "fail"):
    """The one decode loop every image kernel runs: yields
    ``(row, img)`` for each row of a pandas batch carrying
    bytes/fmt/w/h, decoding with :func:`decode_image`. A row that
    fails to decode raises under "fail" and is dropped under
    "skip"."""
    for row in pdf.itertuples(index=False):
        try:
            img = decode_image(row.bytes, row.fmt, row.w, row.h)
        except Exception:
            if on_decode_error == "skip":
                continue
            raise
        yield row, img


def average_phash(band: np.ndarray, null_val: int | None = None) -> int:
    """Deterministic 64-bit average hash of one band (8x8 block mean,
    threshold at the global mean of the downsample). Returns a signed
    int64 (two's complement) for the table's ``phash`` column.

    null_val: nodata value excluded from every block mean (raster
    imagery carries null margins/masks; hashing them verbatim makes
    the nodata FOOTPRINT dominate the 64 bits — with a uniform
    margin every image degenerates to the same border-mask hash,
    observed on the round-4 fixture). All-null blocks hash to 0 and
    are excluded from the threshold."""
    h, w = band.shape
    hh, ww = (h // 8) * 8, (w // 8) * 8
    blk = band[:hh, :ww].astype(np.float64)
    parts = blk.reshape(8, hh // 8, 8, ww // 8)
    if null_val is None:
        small = parts.mean(axis=(1, 3))
        thresh = small.mean()
        bits = (small > thresh).ravel()
    else:
        valid = band[:hh, :ww].reshape(
            8, hh // 8, 8, ww // 8) != null_val
        cnt = valid.sum(axis=(1, 3))
        sums = np.where(valid, parts, 0.0).sum(axis=(1, 3))
        small = sums / np.maximum(cnt, 1)
        nblocks = int((cnt > 0).sum())
        thresh = (small[cnt > 0].sum() / nblocks) if nblocks else 0.0
        bits = ((cnt > 0) & (small > thresh)).ravel()
    val = np.uint64(0)
    for b in bits:
        val = np.uint64(val << np.uint64(1)) | np.uint64(bool(b))
    return int(val.astype(np.int64))
