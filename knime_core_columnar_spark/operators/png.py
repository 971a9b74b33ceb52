"""Real PNG pixel tier — no imaging library required (the engine
ships no PIL/cv2, but PNG itself needs only DEFLATE + the five
scanline filters, both fully specified in the public PNG spec
(RFC 2083 / W3C PNG 1.2) and implementable with stdlib ``zlib`` +
numpy).

This closes the last stubbed gap in the multimodal tier for ONE real
format: ``decode_image_features`` (multimodal.py) stays the
environment-gated general path (JPEG etc. genuinely need a codec
library), while PNG payloads get actual pixel access:

- :func:`png_encode_rgb` — 8-bit truecolor, filter-0 scanlines, one
  IDAT, CRC-correct; output opens in any viewer/PIL.
- :func:`png_decode_rgb` — chunk walk + zlib inflate + full unfilter
  (all five filter types incl. Paeth, per the spec's recon
  definitions), CRC-verified, loud ValueError on anything outside
  8-bit RGB/RGBA non-interlaced (the refuse-rather-than-guess
  discipline; interlaced/paletted/16-bit are parseable headers that
  raise with the reason named).
- :func:`png_pixel_stats` — the distributed operator: Arrow-batched
  ``mapInPandas`` decode of a PNG payload column into EXACT per-channel
  integer pixel sums (n, Σbyte, Σbyte²) — integer outputs so a DuckDB
  oracle can hash-compare them with zero float tolerance.

Scale shape: decode is per-row work inside one zero-exchange
mapInPandas scan — embarrassingly parallel, no shuffle, bandwidth
bound; exactly how a 100 TB image-corpus stat pass should look. The
per-image cost is the inflate (linear in payload bytes).

Reference analogue: none — the reference stores such payloads as
VarBinary with a pluggable ObjectSerializer (VarBinaryData.java:69-123)
and never decodes; decoding is this engine's training-data extension.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["png_encode_rgb", "png_decode_rgb", "png_pixel_stats",
           "PNG_PIXEL_STATS_TYPE"]

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def png_encode_rgb(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as a minimal valid PNG (8-bit
    truecolor, filter 0 on every scanline, single IDAT)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError(
            f"png_encode_rgb expects (H, W, 3) uint8, got "
            f"{pixels.shape} {pixels.dtype}"
        )
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw))
            + _chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode_rgb(data: bytes) -> np.ndarray:
    """Decode an 8-bit truecolor (RGB or RGBA) non-interlaced PNG to an
    (H, W, channels) uint8 array — real chunk walk, CRC verification,
    zlib inflate, and the spec's five reconstruction filters. Anything
    the implementation cannot decode EXACTLY raises with the named
    reason (palette, 16-bit, Adam7 interlace, truncated/corrupt
    stream)."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG: signature mismatch")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated PNG: chunk header past EOF")
        (clen,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        cdata = data[pos + 8:pos + 8 + clen]
        if len(cdata) != clen or pos + 12 + clen > len(data):
            raise ValueError(f"truncated PNG: {ctype!r} data past EOF")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + clen:pos + 12 + clen])
        if zlib.crc32(ctype + cdata) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", cdata)
        elif ctype == b"IDAT":
            idat.extend(cdata)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None:
        raise ValueError("PNG has no IHDR chunk")
    w, h, depth, ctype_id, comp, filt, interlace = ihdr
    if depth != 8:
        raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
    if ctype_id not in (2, 6):
        raise ValueError(
            f"unsupported PNG color type {ctype_id} "
            "(only 2=RGB and 6=RGBA; palette/gray need a wider decoder)"
        )
    if comp != 0 or filt != 0:
        raise ValueError("unsupported PNG compression/filter method")
    if interlace != 0:
        raise ValueError("Adam7-interlaced PNG not supported")
    bpp = 3 if ctype_id == 2 else 4
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        # the documented contract is ValueError-with-reason for every
        # corrupt/truncated stream — don't leak zlib.error
        raise ValueError(f"corrupt PNG IDAT stream: {exc}") from exc
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG scanline data is {len(raw)} bytes, "
            f"expected {h * (stride + 1)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:  # None
            recon = line
        elif ftype == 2:  # Up
            recon = line + prev  # uint8 wraps = mod 256, per spec
        elif ftype == 1:  # Sub: recon[i] = line[i] + recon[i-bpp] —
            # a per-lane prefix sum (lanes = byte position mod bpp);
            # uint8 cumsum wraps mod 256, exactly the spec arithmetic
            recon = np.cumsum(
                line.reshape(w, bpp), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ftype == 3:  # Average — sequential (left depends on recon)
            recon = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(recon[i - bpp]) if i >= bpp else 0
                recon[i] = (int(line[i]) + (left + int(prev[i])) // 2) % 256
        elif ftype == 4:  # Paeth — sequential
            recon = np.empty(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(recon[i - bpp]) if i >= bpp else 0
                ul = int(prev[i - bpp]) if i >= bpp else 0
                recon[i] = (int(line[i])
                            + _paeth(left, int(prev[i]), ul)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype} in row {y}")
        out[y] = recon
        prev = recon
    return out.reshape(h, w, bpp)


PNG_PIXEL_STATS_TYPE = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("channel", T.IntegerType()),
    T.StructField("n_px", T.LongType()),
    T.StructField("sum_byte", T.LongType()),
    T.StructField("sum_sq", T.LongType()),
])


def png_pixel_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-channel EXACT pixel statistics of a PNG payload column: one
    row per (id, channel) with integer (n_px, Σbyte, Σbyte²) — enough
    for mean/variance downstream with no float reduction inside the
    kernel, so results are bit-stable and oracle-hashable. One
    zero-exchange Arrow-batched scan; NULL payloads yield NULL stats
    rows (channel -1), undecodable payloads raise (loud — unlike the
    multimodal stubs, this decoder has no fake fallback)."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, chans, ns, sums, sqs = [], [], [], [], []
            for i, data in zip(pdf[id_col], pdf[payload_col]):
                if data is None:
                    ids.append(i); chans.append(-1)
                    ns.append(None); sums.append(None); sqs.append(None)
                    continue
                px = png_decode_rgb(bytes(data))
                arr = px.astype(np.int64)
                for c in range(px.shape[2]):
                    ch = arr[:, :, c]
                    ids.append(i); chans.append(c)
                    ns.append(int(ch.size))
                    sums.append(int(ch.sum()))
                    sqs.append(int((ch * ch).sum()))
            out = pd.DataFrame({
                "doc_id": ids, "channel": chans, "n_px": ns,
                "sum_byte": sums, "sum_sq": sqs,
            })
            for col in ("n_px", "sum_byte", "sum_sq"):
                out[col] = out[col].astype("Int64")
            yield out

    return df.select(id_col, payload_col).mapInPandas(
        stats, PNG_PIXEL_STATS_TYPE
    )
