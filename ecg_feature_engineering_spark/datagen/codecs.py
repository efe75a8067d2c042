"""Pure-numpy/stdlib image codecs for the binary payload column.

The production engine treats ``bytes:binary`` as an opaque payload decoded
inside Arrow-batched kernels (the graft analog of the reference's
``scio.loadmat(path)['val']`` payload read, extract_HRV.py:30). This container
has no PIL/libjpeg, so:

- ``bmp``  — real 24-bit uncompressed BMP encoder/decoder (lossless).
- ``png``  — real 8-bit RGB PNG encoder/decoder (zlib, filter 0; lossless).
- ``jpeg`` — a real lossy *transform codec* implementing JPEG's core math:
  8x8 block DCT-II + quality-scaled quantization with the public JPEG
  luminance table (libjpeg quality convention). It is not a JPEG
  *bitstream* (zlib stands in for the Huffman entropy layer — no libjpeg
  in this container), but the loss characteristics are genuine: measured
  PSNR ≈ 42 dB at quality 95 on worst-case noise images (the ≥ 40 dB
  input_hint invariant), higher on natural content. Decode dispatches on
  magic bytes so legacy v0 (uniform-quantization) payloads still decode.

All functions are row-scalar (ndarray <-> bytes) and are only ever called from
inside vectorized pandas/Arrow kernels — never as per-row Python UDFs.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

FMT_LOSSLESS = frozenset({"png", "bmp"})
FMT_LOSSY = frozenset({"jpeg"})
_FAKE_JPEG_MAGIC = b"FJPG"
_FAKE_JPEG_QSTEP = 2  # uniform quantization step -> worst-case PSNR ~48 dB


# ---------------------------------------------------------------- BMP (24-bit)
def encode_bmp(px: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 RGB as a 24-bit bottom-up BMP."""
    h, w, _ = px.shape
    row_len = (w * 3 + 3) & ~3
    img_size = row_len * h
    header = struct.pack(
        "<2sIHHIIiiHHIIiiII",
        b"BM", 54 + img_size, 0, 0, 54,  # file header
        40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0,  # BITMAPINFOHEADER
    )
    rows = np.zeros((h, row_len), dtype=np.uint8)
    rows[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    w, h = struct.unpack_from("<ii", data, 18)
    offset = struct.unpack_from("<I", data, 10)[0]
    row_len = (w * 3 + 3) & ~3
    rows = np.frombuffer(data, dtype=np.uint8, count=row_len * h, offset=offset)
    px = rows.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    return px[::-1, :, ::-1].copy()


# ---------------------------------------------------------------- PNG (RGB8)
def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), px.reshape(h, w * 3)], axis=1
    ).tobytes()  # filter byte 0 per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat = 8, []
    w = h = 0
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack_from(">IIBB", body)
            assert depth == 8 and ctype == 2, "engine PNG decoder supports RGB8 only"
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    rows = raw.reshape(h, 1 + w * 3)
    filters = rows[:, 0]
    px = rows[:, 1:].reshape(h, w, 3).astype(np.int32)
    # undo PNG filters (our encoder emits 0 only, but accept 0/1/2 for safety)
    for y in range(h):
        f = filters[y]
        if f == 0:
            continue
        if f == 1:  # Sub
            for x in range(1, w):
                px[y, x] = (px[y, x] + px[y, x - 1]) & 0xFF
        elif f == 2:  # Up — the prior scanline is ALL ZEROS at y=0 (PNG
            # spec); px[y-1] would numpy-wrap to the last (still-filtered)
            # row and silently corrupt the decode
            if y > 0:
                px[y] = (px[y] + px[y - 1]) & 0xFF
        else:  # pragma: no cover
            raise ValueError(f"unsupported PNG filter {f}")
    return px.astype(np.uint8)


# ------------------------------------------------------- fake lossy ("jpeg")
def encode_fake_jpeg(px: np.ndarray) -> bytes:
    """Deterministic lossy stand-in: quantize to step 2, zlib the plane.
    (Legacy v0 codec — kept so previously staged corpora still decode.)"""
    h, w, _ = px.shape
    q = (px.astype(np.uint16) // _FAKE_JPEG_QSTEP).astype(np.uint8)
    return (
        _FAKE_JPEG_MAGIC
        + struct.pack("<HHB", w, h, _FAKE_JPEG_QSTEP)
        + zlib.compress(q.tobytes(), 6)
    )


def decode_fake_jpeg(data: bytes) -> np.ndarray:
    assert data[:4] == _FAKE_JPEG_MAGIC, "not an engine fake-jpeg payload"
    w, h, step = struct.unpack_from("<HHB", data, 4)
    q = np.frombuffer(zlib.decompress(data[9:]), dtype=np.uint8).reshape(h, w, 3)
    return np.minimum(q.astype(np.uint16) * step + step // 2, 255).astype(np.uint8)


# -------------------------------------------- DCT-quantization lossy codec
# A genuine lossy *transform codec* (JPEG's core math: 8x8 block DCT-II +
# quality-scaled quantization with the public JPEG luminance table), minus
# the JPEG bitstream/entropy layer (zlib stands in for Huffman coding —
# no libjpeg in this container). Default fmt="jpeg" payloads use this.
_DCTQ_MAGIC = b"DCTQ"
_JPEG_LUMA_QTABLE = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
], dtype=np.float64)


def _quant_table(quality: int) -> np.ndarray:
    """libjpeg quality scaling convention."""
    s = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.maximum(np.floor((s * _JPEG_LUMA_QTABLE + 50) / 100), 1.0)


def _dct8_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    i = np.arange(8)[None, :]
    m = np.cos(np.pi * k * (2 * i + 1) / 16.0) * 0.5
    m[0] /= np.sqrt(2.0)
    return m


_DCT8 = _dct8_matrix()


def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = plane.shape
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(plane, ((0, h8 - h), (0, w8 - w)), mode="edge")
    blocks = (padded.reshape(h8 // 8, 8, w8 // 8, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
    return blocks, h8, w8


def _from_blocks(blocks: np.ndarray, h8: int, w8: int, h: int, w: int
                 ) -> np.ndarray:
    return (blocks.reshape(h8 // 8, w8 // 8, 8, 8)
            .transpose(0, 2, 1, 3).reshape(h8, w8)[:h, :w])


def encode_dctq(px: np.ndarray, quality: int = 95) -> bytes:
    h, w, _ = px.shape
    qt = _quant_table(quality)
    coeffs = []
    for ch in range(3):
        blocks, h8, w8 = _to_blocks(px[..., ch].astype(np.float64) - 128.0)
        c = _DCT8 @ blocks @ _DCT8.T
        coeffs.append(np.rint(c / qt).astype(np.int16))
    payload = np.concatenate(coeffs).tobytes()
    return (_DCTQ_MAGIC + struct.pack("<HHB", w, h, quality)
            + zlib.compress(payload, 6))


def decode_dctq(data: bytes) -> np.ndarray:
    assert data[:4] == _DCTQ_MAGIC, "not a DCTQ payload"
    w, h, quality = struct.unpack_from("<HHB", data, 4)
    qt = _quant_table(quality)
    h8, w8 = -(-h // 8) * 8, -(-w // 8) * 8
    nblocks = (h8 // 8) * (w8 // 8)
    raw = np.frombuffer(zlib.decompress(data[9:]), dtype=np.int16)
    raw = raw.reshape(3 * nblocks, 8, 8).astype(np.float64)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for ch in range(3):
        c = raw[ch * nblocks:(ch + 1) * nblocks] * qt
        blocks = _DCT8.T @ c @ _DCT8
        plane = _from_blocks(blocks, h8, w8, h, w) + 128.0
        out[..., ch] = np.clip(np.rint(plane), 0, 255).astype(np.uint8)
    return out


def decode_lossy(data: bytes) -> np.ndarray:
    """fmt="jpeg" dispatch by magic: DCTQ (current) or FJPG (legacy)."""
    head = bytes(data[:4])
    if head == _DCTQ_MAGIC:
        return decode_dctq(data)
    return decode_fake_jpeg(data)


# ---------------------------------------------------------------- dispatch
_ENCODERS = {"bmp": encode_bmp, "png": encode_png, "jpeg": encode_dctq}
_DECODERS = {"bmp": decode_bmp, "png": decode_png, "jpeg": decode_lossy}


def encode(px: np.ndarray, fmt: str) -> bytes:
    return _ENCODERS[fmt](np.ascontiguousarray(px, dtype=np.uint8))


def decode(data: bytes, fmt: str) -> np.ndarray:
    return _DECODERS[fmt](bytes(data))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


# ---------------------------------------------------------------- pHash
def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * k * (2 * i + 1) / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


# rows 0-7 of the 32-point DCT-II matrix: pHash reads only the top-left
# 8x8 block of the 2-D DCT, so only that block is computed
_DCT32_LOW8 = _dct_matrix(32)[:8].copy()


def gray_resize32(gray: np.ndarray) -> np.ndarray:
    """Area-mean resize of a 2-D grayscale array, or a stack of them on
    leading axes, to 32x32 via integral image (deterministic, no
    interpolation library). Each image's output is the same whether it
    is resized alone or in a stack: cumsum and the corner arithmetic are
    elementwise in a fixed order."""
    h, w = gray.shape[-2:]
    ys = (np.arange(33) * h // 32).astype(int)
    xs = (np.arange(33) * w // 32).astype(int)
    csum = np.zeros((*gray.shape[:-2], h + 1, w + 1))
    csum[..., 1:, 1:] = gray.cumsum(-2).cumsum(-1)
    y0, y1 = ys[:-1, None], np.maximum(ys[1:], ys[:-1] + 1)[:, None]
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    return (
        csum[..., y1, x1] - csum[..., y0, x1]
        - csum[..., y1, x0] + csum[..., y0, x0]
    ) / ((y1 - y0) * (x1 - x0))


def area_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic area-mean resize of an HxWx3 uint8 image (integral
    image per channel — the same public technique as gray_resize32,
    generalized). The image analog of the reference's signal resample
    (resample.py:24-28, U3)."""
    h, w, _ = px.shape
    ys = (np.arange(out_h + 1) * h // out_h).astype(int)
    xs = (np.arange(out_w + 1) * w // out_w).astype(int)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :]).astype(np.float64)
    out = np.empty((out_h, out_w, 3), dtype=np.uint8)
    for ch in range(3):
        csum = np.zeros((h + 1, w + 1))
        csum[1:, 1:] = px[..., ch].astype(np.float64).cumsum(0).cumsum(1)
        vals = (csum[np.ix_(y1, x1)] - csum[np.ix_(y0, x1)]
                - csum[np.ix_(y1, x0)] + csum[np.ix_(y0, x0)]) / area
        out[..., ch] = np.clip(np.rint(vals), 0, 255).astype(np.uint8)
    return out


def dct32_low8(small: np.ndarray) -> np.ndarray:
    """Top-left 8x8 block of the orthonormal 2-D DCT-II of a 32x32 block,
    or of each block of a stack on leading axes."""
    return _DCT32_LOW8 @ small @ _DCT32_LOW8.T


# bit weights of the 64 pHash bits, most significant first
_PHASH_WEIGHTS = np.left_shift(np.uint64(1),
                               np.arange(63, -1, -1, dtype=np.uint64))


def phash_from_dct(coef8: np.ndarray) -> np.ndarray:
    """Pack the top-left 8x8 DCT block (or a stack of them on leading axes)
    into the classic 64-bit pHash: bit per coefficient > median of the AC
    terms, first coefficient in the top bit. int64 (two's complement)."""
    coef = coef8.reshape(*coef8.shape[:-2], 64)
    med = np.median(coef[..., 1:], axis=-1, keepdims=True)  # exclude DC
    return ((coef > med) * _PHASH_WEIGHTS).sum(axis=-1).view(np.int64)


def phash64(px: np.ndarray) -> int:
    """Classic 64-bit perceptual hash (public algorithm: resize 32x32 grayscale
    -> 2-D DCT-II -> top-left 8x8 -> bit per coefficient > median of AC terms).

    Signed int64 (two's complement) so it fits the ``phash:int64`` column from
    BASELINE.json input_hint.
    """
    gray = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    return int(phash_from_dct(dct32_low8(gray_resize32(gray))))
