"""Multimodal column plumbing (north-star extension).

Images/audio/video are opaque ``binary`` payload columns with a
typed metadata struct. The Spark-side machinery — schema,
partition-friendly layout, Arrow-batched UDF signatures, batch
shapes — is real and tested. Decoders: ``'ppm'`` is a REAL pure-
numpy pipeline for uncompressed P6 images (header parse, pixel
reshape, nearest-neighbor resize, re-encode, band features);
``'png'`` is a REAL stdlib-zlib + numpy PNG codec (chunk walk with
CRC verify, IDAT inflate, all five scanline filters, palette
expansion, Adam7 deinterlacing — 8-bit); ``'jpeg'`` is a REAL baseline
sequential-DCT JPEG codec (ITU-T T.81: marker walk, Huffman entropy
coding, exact orthonormal 8x8 DCT, 4:4:4 / 4:2:0, restart markers);
``'gif'`` is a REAL GIF89a codec (LZW variable-width entropy
coding, sub-block framing, palettes, 4-pass interlace, animated
compositing with disposal + transparency); ``'wav'`` the real
RIFF/PCM16 audio path; video has a REAL YUV4MPEG2 (Y4M) container
codec (header tags, FRAME delimiters, C444/C420*/Cmono planar
layouts) driving :func:`frame_sample` and a REAL MJPEG-AVI path
(:func:`avi_frame_sample`); ``'stub'`` is a deterministic fake for
arbitrary blobs; compressed codec formats whose libraries are
absent here (opus/mp3/webp, H.26x/VPx) raise a clearly-marked
NotImplementedError — plug one into the same map_payloads
walk.

Scale notes: payloads dominate row size — keep them in their own
column (Parquet stores them contiguously), never in the shuffle key,
and resize/feature-extract *before* any wide operation so shuffles
move features (KBs) not media (MBs). `map_payloads` keeps the decode
batch-parallel with Arrow transfer.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta_format", StringType()),
        StructField("meta_width", LongType()),
        StructField("meta_height", LongType()),
    ]
)

FEATURE_SCHEMA = "media_id long, n_bytes long, digest string, features array<double>"


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from the documents fixture: payload =
    utf-8 bytes of the text (a stand-in binary blob with real
    per-row variance), metadata derived deterministically."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("stub/raw").alias("meta_format"),
        (F.col("n_chars") % 640 + 16).alias("meta_width"),
        (F.col("n_chars") % 480 + 16).alias("meta_height"),
    )


# --- the payload boundary: one Arrow kernel each way -------------------------
# Every (media_id, payload) kernel crosses the JVM<->Python boundary
# through these two: encode_media builds payloads from an id spine,
# map_payloads walks payloads back into typed rows. Ids are read and
# written through Arrow, never through a pandas column: one NULL makes
# a pandas int64 column float64, and every id past 2^53 then rounds.


def encode_media(spine: DataFrame, encode) -> DataFrame:
    """(media_id long, payload binary), one row per ``spine`` row:
    ``media_id`` is the spine's first column, ``payload`` is
    ``encode(*row)`` over the row's Python values. Only the spine
    crosses any exchange before this; payloads are born here."""

    def run(batches):
        import pyarrow as pa

        for b in batches:
            rows = zip(*(c.to_pylist() for c in b.columns))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).cast(pa.int64()),
                    pa.array([encode(*r) for r in rows], pa.binary()),
                ],
                names=["media_id", "payload"],
            )

    return spine.mapInArrow(run, "media_id long, payload binary")


def map_payloads(media: DataFrame, walk, bad: list, schema: str) -> DataFrame:
    """One Arrow-batched pass over ``media``'s (media_id, payload):
    ``walk(payload)`` returns that payload's rows, tuples of the
    ``schema`` columns after media_id. A NULL payload walks as b"";
    a ValueError yields ``bad`` instead (the kernel's bad-record rows,
    ``[]`` to drop the record), so one corrupt file never kills a
    100 TB pass; any other exception fails the task. The output batch
    is built against the declared schema, so ids come back exact."""
    from pyspark.sql.pandas.types import to_arrow_schema

    out = to_arrow_schema(StructType.fromDDL(schema))
    fields = list(out)[1:]

    def run(batches):
        import pyarrow as pa

        for b in batches:
            ids, rows = [], []
            for mid, p in zip(b.column(0).to_pylist(), b.column(1).to_pylist()):
                try:
                    got = list(walk(b"" if p is None else p))
                except ValueError:
                    got = bad
                ids += [mid] * len(got)
                rows += got
            cols = list(zip(*rows)) if rows else [[]] * len(fields)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64())]
                + [pa.array(c, f.type) for c, f in zip(cols, fields)],
                schema=out,
            )

    return media.select("media_id", "payload").mapInArrow(run, schema)


# --- real decoder for the uncompressed PPM (P6) image format -----------------
# Pure numpy — no media libraries needed, so this path is REAL, not a
# stub: header parse, pixel-buffer reshape, nearest-neighbor resample,
# re-encode. Codec formats (JPEG/PNG/...) still raise NotImplementedError.


def _ppm_decode(p: bytes):
    """Parse a binary P6 PPM (maxval ≤ 255) into an (h, w, 3) uint8
    array. Header = 'P6', width, height, maxval tokens separated by
    whitespace, with '#' comments allowed between tokens."""
    import numpy as np

    if not p.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    toks, i, n = [], 2, len(p)
    while len(toks) < 3:
        while i < n and p[i : i + 1].isspace():
            i += 1
        if i < n and p[i : i + 1] == b"#":
            while i < n and p[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not p[j : j + 1].isspace():
            j += 1
        toks.append(int(p[i:j]))
        i = j
    i += 1  # the single whitespace byte after maxval
    w, h, maxval = toks
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    pix = np.frombuffer(p, dtype=np.uint8, count=w * h * 3, offset=i)
    return pix.reshape(h, w, 3)


def _ppm_encode(arr) -> bytes:
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _ppm_resize(p: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resample (index-mapped, the same policy as the
    stub byte resample and the audio sample mapper)."""
    import numpy as np

    arr = _ppm_decode(p)
    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return _ppm_encode(np.ascontiguousarray(arr[rows][:, cols]))


def _image_band_features(arr, dim: int) -> list[float]:
    """Shared pixel-feature kernel for all REAL image decoders (PPM,
    PNG): split the image into ``dim`` horizontal bands, each band
    contributes its mean gray level in [0, 1]. Accepts (h, w) gray or
    (h, w, ch) arrays."""
    import numpy as np

    scale = float(np.iinfo(arr.dtype).max) if arr.dtype.kind == "u" else 255.0
    arr = arr.astype(np.float64)
    h = arr.shape[0]
    out = []
    for b in range(dim):
        lo, hi = (b * h) // dim, max(((b + 1) * h) // dim, (b * h) // dim + 1)
        band = arr[min(lo, h - 1) : min(hi, h)]
        out.append(float(band.mean()) / scale if band.size else 0.0)
    return out


def _ppm_features(p: bytes, dim: int) -> list[float]:
    """Real pixel features over P6 payloads (see _image_band_features).
    Malformed payloads take the zeros bad-record path (same policy as
    _wav_features: one bad row must not kill a 100 TB feature pass)."""
    try:
        arr = _ppm_decode(p)
    except ValueError:
        return [0.0] * dim
    return _image_band_features(arr, dim)


# --- real decoder for the PNG image format (stdlib zlib + numpy) -------------
# PNG is DEFLATE (stdlib zlib) over per-scanline filtered bytes — no
# external media library needed, so this path is REAL like PPM/WAV:
# chunk walk with CRC verify, IDAT concat + inflate, per-row defilter
# (all five filter types 0-4 per the PNG spec §9), palette expansion,
# Adam7 deinterlacing (seven scattered sub-images, spec §8.2). 8-bit
# depth, color types 0/2/3/4/6. 16-bit raises ValueError (bad-record
# path downstream). opus/mp3/webp remain honestly NotImplementedError
# (their codecs are not in this container).


def _png_paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): nearest of left/up/up-left
    to the linear estimate a + b - c, ties broken left, up, up-left."""
    pth = a + b - c
    pa, pb, pc = abs(pth - a), abs(pth - b), abs(pth - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> channels per pixel (3 = palette, 1 index byte/pixel)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


#: Adam7 pass grid (x0, y0, dx, dy) — PNG spec §8.2
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_defilter(lines, w: int, ch: int):
    """Undo per-scanline filtering (PNG spec §9, all five types) for
    one filtered (sub-)image of ``lines.shape[0]`` rows x ``w`` pixels:
    returns (rows, w*ch) uint8. Shared by the sequential and every
    Adam7-pass decode — each interlace pass filters against ITS OWN
    previous scanline, exactly like a standalone image."""
    import numpy as np

    h = lines.shape[0]
    recon = np.zeros((h, w * ch), dtype=np.uint8)
    prev = np.zeros(w * ch, dtype=np.uint8)
    bpp = ch  # bytes per pixel at 8-bit depth
    for r in range(h):
        ft, row = int(lines[r, 0]), lines[r, 1:]
        if ft == 0:  # None
            rec = row.copy()
        elif ft == 1:  # Sub: recon[x] = raw[x] + recon[x-bpp]
            rec = row.copy()
            for off in range(bpp):
                # uint8 cumsum wraps mod 256 — exactly the spec arithmetic
                rec[off::bpp] = np.cumsum(row[off::bpp], dtype=np.uint8)
        elif ft == 2:  # Up
            rec = row + prev  # uint8 add wraps mod 256
        elif ft == 3:  # Average: left dependence is inherently sequential
            rec = np.empty_like(row)
            for x in range(row.size):
                left = int(rec[x - bpp]) if x >= bpp else 0
                rec[x] = (int(row[x]) + (left + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth: sequential per byte
            rec = np.empty_like(row)
            for x in range(row.size):
                left = int(rec[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                rec[x] = (int(row[x]) + _png_paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        recon[r] = rec
        prev = rec
    return recon


def _png_decode(p: bytes):
    """Parse an 8-bit PNG (sequential OR Adam7-interlaced) into an
    (h, w, ch) uint8 array (ch = 1 gray, 2 gray+alpha, 3 RGB — palette
    expanded, 4 RGBA). Chunk CRCs are verified; multiple IDAT chunks
    are concatenated before one inflate, as the spec requires."""
    import zlib

    import numpy as np

    if not p.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    i, n = len(_PNG_SIG), len(p)
    w = h = depth = ctype = interlace = None
    idat, plte = [], None
    while i + 8 <= n:
        size = int.from_bytes(p[i : i + 4], "big")
        cid = p[i + 4 : i + 8]
        body = p[i + 8 : i + 8 + size]
        crc = int.from_bytes(p[i + 8 + size : i + 12 + size], "big")
        if zlib.crc32(cid + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC on {cid!r} chunk")
        if cid == b"IHDR":
            if size != 13:
                raise ValueError("malformed IHDR")
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            depth, ctype = body[8], body[9]
            interlace = body[12]
        elif cid == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        i += 12 + size
    if w is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    if depth not in (8, 16):
        raise ValueError(f"{depth}-bit PNG not supported (8/16-bit only)")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if ctype not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {ctype}")
    if ctype == 3 and plte is None:
        raise ValueError("palette image missing PLTE chunk")
    if ctype == 3 and depth != 8:
        # spec: palette indices are at most 8 bits
        raise ValueError("16-bit palette PNG is not valid")
    ch = _PNG_CHANNELS[ctype]
    # filters operate on BYTES with bpp = channels * bytes-per-sample
    # (spec 9.2), so 16-bit decode reuses the byte-level defilter with
    # the channel count doubled, then reassembles big-endian samples
    cb = ch * (depth // 8)
    try:
        inflated = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # normalize to ValueError so the shared bad-record path catches it
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    raw = np.frombuffer(inflated, dtype=np.uint8)
    if interlace == 0:
        stride = w * cb + 1  # 1 filter byte + w*cb sample BYTES per scanline
        if raw.size != h * stride:
            raise ValueError("decompressed size mismatch")
        px = _png_defilter(raw.reshape(h, stride), w, cb).reshape(h, w, cb)
    else:
        # Adam7 (PNG spec §8.2): seven independent sub-images, each
        # filtered like a whole image, scattered onto the (x0 + i*dx,
        # y0 + j*dy) grid; empty passes contribute zero bytes
        px = np.zeros((h, w, cb), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, (w - x0 + dx - 1) // dx)
            ph = max(0, (h - y0 + dy - 1) // dy)
            if pw == 0 or ph == 0:
                continue
            stride = pw * cb + 1
            seg = raw[pos : pos + ph * stride]
            pos += ph * stride
            if seg.size != ph * stride:
                raise ValueError("truncated Adam7 pass")
            rec = _png_defilter(seg.reshape(ph, stride), pw, cb)
            px[y0::dy, x0::dx, :] = rec.reshape(ph, pw, cb)
        if pos != raw.size:
            raise ValueError("trailing bytes after final Adam7 pass")
    if ctype == 3:
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("palette index out of range")
        return plte[idx]
    if depth == 16:
        # reassemble network-order 16-bit samples (spec 7.1)
        wide = px.reshape(h, w, ch, 2).astype(np.uint16)
        return (wide[..., 0] << 8) | wide[..., 1]
    return px


def _png_encode(arr, row_filter: str = "none", interlace: bool = False) -> bytes:
    """Re-encode an (h, w) gray or (h, w, ch) uint8 array as an 8-bit
    PNG (color type 0/4/2/6 by channel count). ``row_filter='mixed'``
    cycles filter types 0-4 across scanlines so a decode of the output
    exercises every defilter path; ``'none'`` writes filter 0 rows.
    ``interlace=True`` writes Adam7 (each pass filtered independently),
    making the encode/decode pair self-verifying for the interlaced
    layout too."""
    import zlib

    import numpy as np

    arr = np.asarray(arr)
    if arr.dtype != np.uint8:
        # ascontiguousarray(dtype=uint8) would WRAP 16-bit samples mod
        # 256 silently; the encoder is 8-bit by contract
        raise ValueError("_png_encode writes 8-bit PNGs; cast explicitly")
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch

    def filter_image(sub) -> list:
        """Filter one (sub-)image independently — whole image in the
        sequential layout, one pass in Adam7 (each pass filters against
        its OWN previous scanline, spec §8.2)."""
        sh, sw = sub.shape[0], sub.shape[1]
        flat = sub.reshape(sh, sw * ch).astype(np.int64)
        rows = []
        for r in range(sh):
            cur = flat[r]
            up = flat[r - 1] if r else np.zeros_like(cur)
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, dtype=np.int64), up[:-bpp]])
            ft = r % 5 if row_filter == "mixed" else 0
            if ft == 0:
                filt = cur
            elif ft == 1:
                filt = cur - left
            elif ft == 2:
                filt = cur - up
            elif ft == 3:
                filt = cur - (left + up) // 2
            else:  # Paeth
                pred = np.array(
                    [_png_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, up, ul)],
                    dtype=np.int64,
                )
                filt = cur - pred
            rows.append(bytes([ft]) + (filt & 0xFF).astype(np.uint8).tobytes())
        return rows

    if interlace:
        out_rows = []
        for x0, y0, dx, dy in _ADAM7:
            sub = arr[y0::dy, x0::dx, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            out_rows += filter_image(np.ascontiguousarray(sub))
    else:
        out_rows = filter_image(arr)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, int(interlace)])
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + cid
            + body
            + (zlib.crc32(cid + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    idat = zlib.compress(b"".join(out_rows))
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _png_resize(p: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resample of a PNG payload (same index-mapping
    policy as _ppm_resize), re-encoded at the same channel count
    (palette images come back as RGB — the decode already expanded)."""
    import numpy as np

    arr = _png_decode(p)
    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return _png_encode(np.ascontiguousarray(arr[rows][:, cols]))


def _png_features(p: bytes, dim: int) -> list[float]:
    """Real pixel features over PNG payloads: the shared per-band gray
    means (_image_band_features) over the COLOR channels only — alpha
    (color types 4/6) is metadata, not luminance, so it is dropped.
    Malformed payloads take the zeros bad-record path."""
    try:
        arr = _png_decode(p)
    except ValueError:
        return [0.0] * dim
    if arr.shape[2] in (2, 4):
        arr = arr[:, :, : arr.shape[2] - 1]
    return _image_band_features(arr, dim)


# --- real codec for baseline JPEG (stdlib + numpy) ---------------------------
# Baseline sequential DCT JPEG (ITU-T T.81): marker walk, Huffman
# entropy decode (DHT code tables), dequantize + dezigzag, exact
# orthonormal 8x8 IDCT as one numpy matrix product, chroma upsample,
# JFIF YCbCr->RGB. The encoder is the exact mirror (FDCT + the public
# Annex K quantization/Huffman tables with IJG quality scaling), so
# the pair is self-verifying: constant 8x8 blocks round-trip
# PIXEL-EXACT at quality 100 (DC-only, all quantizers 1) and smooth
# images round-trip within a pinned tolerance. Supports grayscale and
# YCbCr 4:4:4 / 4:2:0, restart intervals on decode. Progressive
# (SOF2), arithmetic coding, and 12-bit precision raise ValueError
# (bad-record path). All tables below are published constants from
# the JPEG spec (T.81 Annex K) — cited, not reverse-engineered.

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]
# T.81 Annex K.1 example quantization tables
_JPEG_QL = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QC = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
# T.81 Annex K.3 typical Huffman tables: (BITS counts per code length
# 1..16, HUFFVAL symbol list)
_JPEG_HUFF = {
    ("dc", 0): (
        [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("dc", 1): (
        [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("ac", 0): (
        [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
            0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
            0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
            0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
            0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
            0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
            0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
            0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
            0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
            0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
            0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
    ("ac", 1): (
        [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
            0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
            0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
            0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
            0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
            0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
            0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
            0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
            0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
            0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
            0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
            0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
            0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
            0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
        ],
    ),
}


def _jpeg_qtable(base: list, quality: int) -> list:
    """IJG quality scaling (public libjpeg convention, quality 1-100)."""
    quality = min(max(int(quality), 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(max((v * scale + 50) // 100, 1), 255) for v in base]


def _dct8():
    """The orthonormal 8x8 DCT-II matrix: M[u, x] = c(u)/2 *
    cos((2x+1)u*pi/16), c(0)=1/sqrt(2) else 1. FDCT = M @ B @ M.T,
    IDCT = M.T @ C @ M — exact float, no fast-DCT approximations."""
    import numpy as np

    x = np.arange(8)
    m = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    m[0] /= np.sqrt(2.0)
    return m


def _huff_codes(bits: list, vals: list) -> dict:
    """Canonical Huffman code assignment (T.81 C.2): symbol ->
    (length, code)."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, length: int, code: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def byte_align(self) -> None:
        if self.n:
            self.put(8 - self.n, 0xFF)  # pad with 1-bits (T.81 F.1.2.3)

    def raw_marker(self, second_byte: int) -> None:
        """Append a marker (0xFF xx) directly — NOT entropy data, so no
        byte stuffing. Caller must byte_align() first."""
        self.buf += bytes([0xFF, second_byte])

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.buf)


def _jpeg_magnitude(v: int) -> tuple:
    """(category, extra bits) per T.81 F.1.2.1: category = bit length
    of |v|, negative values encoded as v - 1 in category bits."""
    s, a = 0, abs(v)
    while a:
        s += 1
        a >>= 1
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _jpeg_encode_block(w: "_JpegBitWriter", coefs, dc_codes, ac_codes, pred: int) -> int:
    """Huffman-encode one quantized block (zigzag int array); returns
    the new DC predictor."""
    dc = int(coefs[0])
    s, bits = _jpeg_magnitude(dc - pred)
    ln, code = dc_codes[s]
    w.put(ln, code)
    if s:
        w.put(s, bits)
    run = 0
    for k in range(1, 64):
        v = int(coefs[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]  # ZRL
            w.put(ln, code)
            run -= 16
        s, bits = _jpeg_magnitude(v)
        ln, code = ac_codes[(run << 4) | s]
        w.put(ln, code)
        w.put(s, bits)
        run = 0
    if run:
        ln, code = ac_codes[0x00]  # EOB
        w.put(ln, code)
    return dc


def _jpeg_plane_blocks(plane, q, m):
    """FDCT + quantize an (H, W) float plane (H, W multiples of 8) into
    an array of zigzag-ordered int blocks, block-row major."""
    import numpy as np

    hh, ww = plane.shape
    shifted = plane - 128.0
    blocks = shifted.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ux,rcxy,vy->rcuv", m, blocks, m)
    flat = coef.reshape(-1, 64)[:, _ZIGZAG]
    return np.rint(flat / np.asarray(q, dtype=np.float64)[None, :]).astype(np.int64)


def _jpeg_encode(
    arr, quality: int = 90, subsample: bool = False, restart: int = 0
) -> bytes:
    """Encode an (h, w) gray or (h, w, 3) RGB uint8 array as baseline
    JFIF JPEG — 4:4:4, or 4:2:0 when ``subsample`` (chroma = 2x2 box
    mean); ``restart`` > 0 writes a DRI segment and RSTn markers every
    that many MCUs. Deterministic: exact orthonormal FDCT + np.rint."""
    import numpy as np

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    gray = arr.ndim == 2 or arr.shape[2] == 1
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    h, w = arr.shape[0], arr.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ql = _jpeg_qtable(_JPEG_QL, quality)
    qc = _jpeg_qtable(_JPEG_QC, quality)
    m = _dct8()

    def pad_to(p, mult):
        ph = (-p.shape[0]) % mult
        pw = (-p.shape[1]) % mult
        return np.pad(p, ((0, ph), (0, pw)), mode="edge")

    if gray:
        planes = [(pad_to(arr.astype(np.float64), 8), ql, 1, 1)]
    else:
        f = arr.astype(np.float64)
        r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            yp = pad_to(y, 16)
            # 2x2 box mean, computed on the padded plane
            cbp = pad_to(cb, 16)
            crp = pad_to(cr, 16)
            cbd = cbp.reshape(cbp.shape[0] // 2, 2, cbp.shape[1] // 2, 2).mean((1, 3))
            crd = crp.reshape(crp.shape[0] // 2, 2, crp.shape[1] // 2, 2).mean((1, 3))
            planes = [(yp, ql, 2, 2), (cbd, qc, 1, 1), (crd, qc, 1, 1)]
        else:
            planes = [
                (pad_to(y, 8), ql, 1, 1),
                (pad_to(cb, 8), qc, 1, 1),
                (pad_to(cr, 8), qc, 1, 1),
            ]

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes(ql))
    if not gray:
        out += seg(0xDB, bytes([1]) + bytes(qc))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci, (_, _, hs, vs) in enumerate(planes):
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    used = [("dc", 0), ("ac", 0)] + ([("dc", 1), ("ac", 1)] if not gray else [])
    for cls, tid in used:
        bits, vals = _JPEG_HUFF[(cls, tid)]
        out += seg(0xC4, bytes([((0 if cls == "dc" else 1) << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart:
        out += seg(0xDD, restart.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)

    codes = {k: _huff_codes(*v) for k, v in _JPEG_HUFF.items()}
    comp_blocks = [
        _jpeg_plane_blocks(p, q, m).reshape(p.shape[0] // 8, p.shape[1] // 8, 64)
        for p, q, _, _ in planes
    ]
    hmax = max(p[2] for p in planes)
    vmax = max(p[3] for p in planes)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    writer = _JpegBitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                writer.byte_align()
                writer.raw_marker(0xD0 + (mcu_count // restart - 1) % 8)
                preds = [0] * len(planes)
            mcu_count += 1
            for ci, (_, _, hs, vs) in enumerate(planes):
                tid = 0 if ci == 0 else 1
                for by in range(vs):
                    for bx in range(hs):
                        blk = comp_blocks[ci][my * vs + by, mx * hs + bx]
                        preds[ci] = _jpeg_encode_block(
                            writer, blk, codes[("dc", tid)], codes[("ac", tid)], preds[ci]
                        )
    out += writer.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _JpegBitReader:
    """Entropy-segment bit reader with 0xFF00 destuffing; RST markers
    terminate a segment (the decoder resets predictors and continues)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.i = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.i >= len(self.d):
                raise ValueError("truncated JPEG entropy stream")
            b = self.d[self.i]
            if b == 0xFF:
                nxt = self.d[self.i + 1] if self.i + 1 < len(self.d) else 0xD9
                if nxt == 0x00:
                    self.i += 2
                else:
                    raise ValueError("hit marker inside entropy data")
            else:
                self.i += 1
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def align_to_rst(self) -> None:
        """Byte-align and consume one RSTn marker (T.81 F.2.1.3.1)."""
        self.n = 0
        while self.i + 1 < len(self.d) and not (
            self.d[self.i] == 0xFF and 0xD0 <= self.d[self.i + 1] <= 0xD7
        ):
            self.i += 1
        if self.i + 1 >= len(self.d):
            raise ValueError("missing restart marker")
        self.i += 2


def _jpeg_decode_huff(r: "_JpegBitReader", table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | r.bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s received bits back to a signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _jpeg_decode(p: bytes):
    """Decode a baseline sequential JPEG into an (h, w, ch) uint8 array
    (ch = 1 gray, 3 RGB). Supports DQT/DHT/SOF0/DRI/SOS with arbitrary
    sampling factors (4:4:4 and 4:2:0 tested); progressive (SOF2),
    extended (SOF1+), and arithmetic coding raise ValueError.

    ALL malformed-payload failures surface as ValueError — truncated
    tables, zero sampling factors, and corrupt entropy streams
    otherwise escape as IndexError/ZeroDivisionError/KeyError, which
    the bad-record handlers (zeros policy) deliberately do NOT catch
    (the PNG path normalizes zlib.error the same way)."""
    try:
        return _jpeg_decode_impl(p)
    except ValueError:
        raise
    except (ZeroDivisionError, IndexError, KeyError, OverflowError) as e:
        raise ValueError(f"malformed JPEG ({type(e).__name__}: {e})") from e


def _jpeg_decode_impl(p: bytes):
    import numpy as np

    if len(p) < 2 or p[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    i, n = 2, len(p)
    qtabs, htabs = {}, {}
    comps = None
    h = w = None
    restart = 0
    m = _dct8()
    inv_zz = np.argsort(np.asarray(_ZIGZAG))
    out_planes = None
    while i + 4 <= n:
        if p[i] != 0xFF:
            raise ValueError("marker sync lost")
        marker = p[i + 1]
        if marker == 0xD9:  # EOI
            break
        size = int.from_bytes(p[i + 2 : i + 4], "big")
        body = p[i + 4 : i + 2 + size]
        if len(body) != size - 2:
            raise ValueError("truncated JPEG segment")
        if marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline sequential JPEG (SOF0) is supported")
        if marker == 0xDB:
            j = 0
            while j < len(body):
                prec, tid = body[j] >> 4, body[j] & 0x0F
                if prec != 0:
                    raise ValueError("16-bit quantization tables not supported")
                qtabs[tid] = np.asarray(list(body[j + 1 : j + 65]), dtype=np.float64)
                j += 65
        elif marker == 0xC4:
            j = 0
            while j < len(body):
                cls, tid = body[j] >> 4, body[j] & 0x0F
                bits = list(body[j + 1 : j + 17])
                nv = sum(bits)
                vals = list(body[j + 17 : j + 17 + nv])
                table = {}
                code = 0
                k = 0
                for ln in range(1, 17):
                    for _ in range(bits[ln - 1]):
                        table[(ln, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                htabs[("dc" if cls == 0 else "ac", tid)] = table
                j += 17 + nv
        elif marker == 0xC0:
            if body[0] != 8:
                raise ValueError("only 8-bit precision supported")
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, samp, qid = body[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F, "q": qid})
        elif marker == 0xDD:
            restart = int.from_bytes(body[0:2], "big")
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = []
            for c in range(ns):
                cid, tids = body[1 + 2 * c], body[2 + 2 * c]
                comp = next(cc for cc in comps if cc["id"] == cid)
                scan.append((comp, tids >> 4, tids & 0x0F))
            if ns != len(comps):
                raise ValueError("partial scans not supported (baseline interleaved only)")
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            planes = [
                np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
                for c in comps
            ]
            reader = _JpegBitReader(p, i + 2 + size)
            preds = [0] * len(comps)
            mcu_count = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and mcu_count and mcu_count % restart == 0:
                        reader.align_to_rst()
                        preds = [0] * len(comps)
                    for ci, (comp, dct, act) in enumerate(scan):
                        dt = htabs.get(("dc", dct))
                        at = htabs.get(("ac", act))
                        q = qtabs.get(comp["q"])
                        if dt is None or at is None or q is None:
                            raise ValueError("scan references missing table")
                        for by in range(comp["v"]):
                            for bx in range(comp["h"]):
                                zz = np.zeros(64, dtype=np.float64)
                                s = _jpeg_decode_huff(reader, dt)
                                diff = _jpeg_extend(reader.bits(s), s) if s else 0
                                preds[ci] += diff
                                zz[0] = preds[ci]
                                k = 1
                                while k < 64:
                                    rs = _jpeg_decode_huff(reader, at)
                                    run, size_ = rs >> 4, rs & 0x0F
                                    if size_ == 0:
                                        if run == 15:
                                            k += 16  # ZRL
                                            continue
                                        break  # EOB
                                    k += run
                                    if k > 63:
                                        raise ValueError("AC run overflows block")
                                    zz[k] = _jpeg_extend(reader.bits(size_), size_)
                                    k += 1
                                coef = (zz * q)[inv_zz].reshape(8, 8)
                                blk = m.T @ coef @ m + 128.0
                                y0 = (my * comp["v"] + by) * 8
                                x0 = (mx * comp["h"] + bx) * 8
                                planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk
                    mcu_count += 1
            out_planes = []
            for ci, comp in enumerate(comps):
                pl = planes[ci]
                ry, rx = vmax // comp["v"], hmax // comp["h"]
                if ry > 1 or rx > 1:
                    pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
                out_planes.append(pl[:h, :w])
            i = reader.i
            continue
        i += 2 + size
    if out_planes is None:
        raise ValueError("no scan data in JPEG payload")
    if len(out_planes) == 1:
        gray = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _jpeg_resize(p: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resample of a JPEG payload (the _ppm_resize /
    _png_resize index-mapping policy), re-encoded at quality 90."""
    import numpy as np

    arr = _jpeg_decode(p)
    h, w = arr.shape[0], arr.shape[1]
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    out = np.ascontiguousarray(arr[rows][:, cols])
    return _jpeg_encode(out[:, :, 0] if out.shape[2] == 1 else out)


def _jpeg_features(p: bytes, dim: int) -> list[float]:
    """Real pixel features over baseline JPEG payloads (shared
    _image_band_features kernel; malformed payloads take the zeros
    bad-record path like every other real decoder here)."""
    try:
        arr = _jpeg_decode(p)
    except ValueError:
        return [0.0] * dim
    return _image_band_features(arr, dim)


# --- real decoder for the uncompressed WAV (RIFF PCM16) audio format ---------
# Pure numpy, same precedent as PPM: chunk walk, int16 frame reshape,
# nearest-sample rate conversion, re-encode. Compressed codecs
# (opus/mp3/aac) still raise NotImplementedError.


def _wav_decode(p: bytes):
    """Parse a RIFF/WAVE container with 16-bit PCM into
    (sample_rate, channels, frames int16 array of shape (n, ch)).
    Walks chunks (word-aligned) so extra chunks (LIST, fact) are
    skipped like any real parser does."""
    import numpy as np

    if len(p) < 12 or p[0:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(p)
    rate = channels = bits = fmt = None
    data = None
    while i + 8 <= n:
        cid = p[i : i + 4]
        size = int.from_bytes(p[i + 4 : i + 8], "little")
        body = p[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt = int.from_bytes(body[0:2], "little")
            if fmt not in (1, 6, 7):  # PCM, G.711 A-law, G.711 mu-law
                raise ValueError(f"compressed WAV (format {fmt}) not supported")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    if channels < 1:
        raise ValueError("invalid channel count")
    if fmt in (6, 7):
        # G.711 companded telephony audio (RFC 2361 format tags):
        # 8-bit codes expand to 16-bit linear on the data path.
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        frames = len(data) // channels
        codes = np.frombuffer(data, dtype=np.uint8, count=frames * channels)
        expand = _g711_mulaw_decode if fmt == 7 else _g711_alaw_decode
        return rate, channels, expand(codes).reshape(frames, channels)
    if bits != 16:
        raise ValueError(f"{bits}-bit PCM not supported (16-bit only)")
    frames = len(data) // (2 * channels)
    pcm = np.frombuffer(data, dtype="<i2", count=frames * channels)
    return rate, channels, pcm.reshape(frames, channels)


def _wav_encode(rate: int, samples) -> bytes:
    """Re-encode an (n, ch) int16 frame array as a minimal PCM16 WAV."""
    import numpy as np

    frames, channels = samples.shape
    data = np.ascontiguousarray(samples.astype("<i2")).tobytes()
    block = 2 * channels
    fmt = (
        b"fmt \x10\x00\x00\x00\x01\x00"
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * block).to_bytes(4, "little")
        + block.to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _g711_mulaw_decode(codes):
    """ITU-T G.711 μ-law expansion, vectorized (uint8 codes → int16
    linear). Closed-form bit math (the table in G.711 Table 2a/2b,
    the same algebra every public implementation uses, e.g. CPython's
    former audioop.ulaw2lin): complement, then
    t = ((mant<<3)+0x84)<<exp; sample = sign ? 0x84-t : t-0x84."""
    import numpy as np

    u = (~np.asarray(codes, dtype=np.uint8)).astype(np.int32)
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _g711_mulaw_encode(samples):
    """μ-law compression (int16 linear → uint8 codes), vectorized:
    bias the magnitude by 0x84, find the segment (position of the top
    set bit above bit 7), take the 4 mantissa bits below it,
    complement. Exact inverse of the decoder on decoder outputs
    (pinned by the all-256-codes roundtrip test)."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # segment = floor(log2(mag)) - 7, in [0, 7]; mag >= 0x84 so the
    # top bit is at least bit 7
    seg = (np.floor(np.log2(mag)).astype(np.int32) - 7).clip(0, 7)
    mant = (mag >> (seg + 3)) & 0x0F
    return (~(sign | (seg << 4) | mant)).astype(np.uint8)


def _g711_alaw_decode(codes):
    """ITU-T G.711 A-law expansion, vectorized (uint8 → int16): xor
    0x55, then seg 0 → (q<<4)+8, seg 1 → (q<<4)+0x108, seg k>=2 →
    ((q<<4)+0x108)<<(k-1); the sign bit SET means positive."""
    import numpy as np

    a = np.asarray(codes, dtype=np.uint8).astype(np.int32) ^ 0x55
    q = (a & 0x0F) << 4
    seg = (a >> 4) & 0x07
    t = np.where(
        seg == 0, q + 8, np.where(seg == 1, q + 0x108, (q + 0x108) << np.maximum(seg - 1, 0))
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _g711_alaw_encode(samples):
    """A-law compression (int16 → uint8), vectorized: segment from the
    top set bit above bit 8, 4 mantissa bits, xor 0x55 (even-bit
    inversion). Exact inverse of the decoder on decoder outputs."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int32)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    top = np.zeros_like(mag)
    nz = mag > 0
    top[nz] = np.floor(np.log2(mag[nz])).astype(np.int32)
    seg = (top - 7).clip(0, 7)
    mant = np.where(seg == 0, mag >> 4, mag >> (seg + 3)) & 0x0F
    return ((sign | (seg << 4) | mant) ^ 0x55).astype(np.uint8)


def _wav_encode_g711(rate: int, codes, law: str) -> bytes:
    """Write raw G.711 code bytes as a mono WAV (format tag 7 = μ-law,
    6 = A-law, 8 bits/sample — the RIFF registration in RFC 2361)."""
    import numpy as np

    data = np.ascontiguousarray(np.asarray(codes, dtype=np.uint8)).tobytes()
    tag = {"mulaw": 7, "alaw": 6}[law]
    fmt = (
        b"fmt \x10\x00\x00\x00"
        + tag.to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + rate.to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (8).to_bytes(2, "little")
    )
    body = b"WAVE" + fmt + b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _wav_resample_payload(p: bytes, dst_rate: int):
    """Rate-convert a PCM16 WAV by nearest-sample index mapping (the
    same policy as the PPM resize and the stub resampler), vectorized
    per payload. Returns (n_frames_in, n_frames_out, new payload)."""
    import numpy as np

    rate, channels, pcm = _wav_decode(p)
    n_in = pcm.shape[0]
    n_out = (n_in * dst_rate) // rate if rate else 0
    idx = (np.arange(n_out) * n_in) // max(n_out, 1)
    out = pcm[idx] if n_out else pcm[:0]
    return n_in, n_out, _wav_encode(dst_rate, out)


def _audio_window_features(pcm, dim: int) -> list[float]:
    """Shared audio-feature kernel (the _image_band_features analog):
    ``dim`` time windows over an (n, ch) int16 array, each window's
    mean absolute channel-averaged amplitude in [0, 1]. BOTH audio
    decoders (WAV, FLAC) and both closed-form SQL oracles mirror this
    exact boundary math — one implementation, by design."""
    import numpy as np

    x = np.abs(pcm.astype(np.float64)).mean(axis=1) if pcm.size else pcm[:, 0]
    n = x.shape[0]
    out = []
    for b in range(dim):
        lo, hi = (b * n) // dim, max(((b + 1) * n) // dim, (b * n) // dim + 1)
        win = x[min(lo, max(n - 1, 0)) : min(hi, n)]
        out.append(float(win.mean()) / 32768.0 if win.size else 0.0)
    return out


def _wav_features(p: bytes, dim: int) -> list[float]:
    """Real audio features over RIFF/PCM16 payloads (see
    _audio_window_features). Malformed payloads take the zeros
    bad-record path (same policy as audio_resample: one bad row must
    not kill a 100 TB feature pass)."""
    try:
        _, _, pcm = _wav_decode(p)
    except ValueError:
        return [0.0] * dim
    return _audio_window_features(pcm, dim)


def _flac_features(p: bytes, dim: int) -> list[float]:
    """The shared _audio_window_features contract over REAL FLAC
    payloads (operators/flac.py: Rice entropy decode + fixed/LPC
    predictors + CRC/MD5 verify). Zeros bad-record policy."""
    from hadoop_main_spark.operators.flac import decode_flac

    try:
        pcm, _rate = decode_flac(p)
    except ValueError:
        return [0.0] * dim
    return _audio_window_features(pcm, dim)


def _stub_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic fake 'embedding' from the payload bytes: md5-seeded
    values in [0,1). Stands in for a real decode→model pipeline."""
    out = []
    h = payload
    for i in range(dim):
        h = hashlib.md5(h + bytes([i & 0xFF])).digest()
        out.append(int.from_bytes(h[:8], "big") / 2**64)
    return out


def extract_features(
    media: DataFrame, decoder: str = "stub", dim: int = 8
) -> DataFrame:
    """Decode + feature-extract each payload via Arrow-batched
    map_payloads. ``decoder='stub'`` produces deterministic fake
    features; ``decoder='ppm'`` REALLY decodes binary P6 payloads
    (pure numpy, see _ppm_decode) and emits per-band gray means; any
    other name requires decode libraries absent here.
    """
    if decoder == "stub":
        feat = _stub_features
    elif decoder == "ppm":
        feat = _ppm_features
    elif decoder == "png":
        feat = _png_features
    elif decoder == "jpeg":
        feat = _jpeg_features
    elif decoder == "gif":
        feat = _gif_features
    elif decoder == "bmp":
        feat = _bmp_features
    elif decoder == "tiff":
        feat = _tiff_features
    elif decoder == "wav":
        feat = _wav_features
    elif decoder == "flac":
        feat = _flac_features
    else:
        raise NotImplementedError(
            f"decoder '{decoder}' needs media libraries not present in this "
            "environment; 'ppm'/'bmp'/'tiff'/'png'/'jpeg'/'gif'/'wav'/'flac' "
            "are the real no-library paths, 'stub' the fake"
        )

    # every feature fn takes the zeros bad-record path itself, so a
    # malformed (or NULL, walked as b'') payload keeps its row
    return map_payloads(
        media,
        lambda p: [(len(p), hashlib.md5(p).hexdigest(), feat(p, dim))],
        [],
        FEATURE_SCHEMA,
    )


def resize(media: DataFrame, width: int, height: int, decoder: str = "stub") -> DataFrame:
    """Resize as a real Arrow-batched pass: decode -> resample ->
    re-encode per payload inside mapInArrow; every other column of
    ``media`` passes through as Arrow, so ids stay exact.
    ``decoder='ppm'`` is a REAL pipeline for binary P6 payloads (numpy
    header parse + nearest-neighbor resample + re-encode);
    ``decoder='stub'`` keeps the deterministic byte resample for
    arbitrary blobs; codec formats raise."""
    target = width * height

    def _stub_resize(p: bytes) -> bytes:
        # deterministic fake resample: stretch/shrink bytes to the
        # target pixel count by index mapping (stands in for a codec)
        if not p:
            return b"\x00" * target
        n = len(p)
        return bytes(p[(i * n) // target] for i in range(target))

    if decoder == "stub":
        payload_fn = _stub_resize
    elif decoder == "ppm":
        payload_fn = lambda p: _ppm_resize(p, width, height)  # noqa: E731
    elif decoder == "png":
        payload_fn = lambda p: _png_resize(p, width, height)  # noqa: E731
    elif decoder == "jpeg":
        payload_fn = lambda p: _jpeg_resize(p, width, height)  # noqa: E731
    else:
        raise NotImplementedError(
            "real media codecs are not available in this environment; "
            "'ppm'/'png'/'jpeg' are the real no-library paths, 'stub' the fake"
        )

    def _safe(p) -> bytes:
        # NULL payload = bad record -> empty payload out; a malformed
        # payload under a REAL decoder likewise must not kill the task
        # (the extract_features/audio_resample zeros policy)
        if p is None:
            return b""
        try:
            return payload_fn(p)
        except ValueError:
            return b""

    def run(batches):
        import pyarrow as pa

        for b in batches:
            new = {
                "payload": pa.array([_safe(p) for p in b.column("payload").to_pylist()]),
                "meta_width": pa.array([width] * b.num_rows),
                "meta_height": pa.array([height] * b.num_rows),
            }
            yield pa.RecordBatch.from_arrays(
                [new[f.name].cast(f.type) if f.name in new else b.column(f.name) for f in b.schema],
                names=b.schema.names,
            )

    return media.mapInArrow(run, media.schema)


def frame_sample_stub(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video payloads: emits one row per
    sampled frame index (real decoder would attach the frame bytes).
    Demonstrates the 1→N explode shape feature pipelines need.
    The REAL container path is :func:`frame_sample` (Y4M)."""
    frames = F.sequence(F.lit(0), (F.col("meta_width") % 5 + 1))  # fake frame count
    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", F.explode(frames).alias("frame_idx"))
        .filter(F.col("frame_idx") % every_n == 0)
    )


# --- video: REAL YUV4MPEG2 (Y4M) container codec ------------------------------
# Pure header + raw planar frames (the mjpegtools YUV4MPEG2 format —
# public spec, shipped as yuv4mpeg(5) man page; ffmpeg/x264's
# interchange format for uncompressed video). No external libraries:
# the container is an ASCII header line, then per frame a "FRAME"
# line + raw Y'CbCr planes. Supported colorspaces: C444 (full-res
# planes), the C420* family (2x2-subsampled chroma — jpeg/mpeg2/paldv
# differ only in chroma SITING, identical byte layout), and Cmono
# (Y plane only). Compressed codecs inside other containers remain
# NotImplementedError (no codec libs in this environment).

_Y4M_MAGIC = b"YUV4MPEG2"


def _y4m_plane_shapes(w: int, h: int, cs: str) -> list[tuple[int, int]]:
    """Per-frame plane (height, width) list for a colorspace token."""
    if cs == "C444":
        return [(h, w), (h, w), (h, w)]
    if cs.startswith("C420"):
        if w % 2 or h % 2:
            raise ValueError(f"C420 needs even dims, got {w}x{h}")
        return [(h, w), (h // 2, w // 2), (h // 2, w // 2)]
    if cs == "Cmono":
        return [(h, w)]
    raise ValueError(f"unsupported Y4M colorspace {cs!r}")


def _y4m_encode(frames, rate=(25, 1), colorspace: str = "C420jpeg") -> bytes:
    """Serialize frames into one Y4M stream. ``frames`` is a list of
    (y, cb, cr) uint8 ndarray tuples (cb=cr=None for Cmono); every
    frame must match the first frame's plane shapes."""
    import numpy as np

    if not frames:
        raise ValueError("y4m stream needs at least one frame")
    y0 = np.asarray(frames[0][0], dtype=np.uint8)
    h, w = y0.shape
    shapes = _y4m_plane_shapes(w, h, colorspace)
    out = bytearray()
    out += _Y4M_MAGIC + b" W%d H%d F%d:%d Ip A1:1 %s\n" % (
        w, h, rate[0], rate[1], colorspace.encode()
    )
    for fr in frames:
        planes = [p for p in fr if p is not None]
        if len(planes) != len(shapes):
            raise ValueError(
                f"frame has {len(planes)} planes, {colorspace} needs {len(shapes)}"
            )
        out += b"FRAME\n"
        for p, (ph, pw) in zip(planes, shapes):
            a = np.asarray(p, dtype=np.uint8)
            if a.shape != (ph, pw):
                raise ValueError(f"plane shape {a.shape} != expected {(ph, pw)}")
            out += a.tobytes()
    return bytes(out)


def _y4m_decode(p: bytes):
    """Parse a Y4M stream: returns (width, height, (fps_num, fps_den),
    colorspace, frames) with frames a list of (y, cb, cr) uint8
    ndarrays (cb=cr=None for Cmono). Raises ValueError on anything
    malformed or truncated."""
    import numpy as np

    nl = p.find(b"\n")
    if nl < 0 or not p.startswith(_Y4M_MAGIC + b" "):
        raise ValueError("not a YUV4MPEG2 stream (bad magic)")
    w = h = None
    fps = (25, 1)
    cs = "C420jpeg"  # the spec's default when no C tag is present
    for tok in p[len(_Y4M_MAGIC) + 1 : nl].split(b" "):
        if not tok:
            continue
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            num, den = val.split(":")
            fps = (int(num), int(den))
        elif tag == "C":
            cs = "C" + val
        # I (interlace), A (aspect), X (comment) don't affect layout
    if not w or not h:
        raise ValueError("y4m header missing W or H")
    shapes = _y4m_plane_shapes(w, h, cs)
    frame_bytes = sum(ph * pw for ph, pw in shapes)
    frames = []
    pos = nl + 1
    while pos < len(p):
        fnl = p.find(b"\n", pos)
        if fnl < 0 or not p[pos:fnl].startswith(b"FRAME"):
            raise ValueError("y4m frame header missing")
        pos = fnl + 1
        if pos + frame_bytes > len(p):
            raise ValueError("truncated y4m frame payload")
        planes = []
        for ph, pw in shapes:
            planes.append(
                np.frombuffer(p, dtype=np.uint8, count=ph * pw, offset=pos).reshape(
                    ph, pw
                )
            )
            pos += ph * pw
        if len(planes) == 1:
            planes += [None, None]
        frames.append(tuple(planes))
    if not frames:
        raise ValueError("y4m stream has no frames")
    return w, h, fps, cs, frames


#: one row per SAMPLED frame; cb/cr means are NULL for Cmono streams
VIDEO_FRAME_SCHEMA = (
    "media_id long, frame_idx long, width long, height long, "
    "y_mean double, cb_mean double, cr_mean double, frame_digest string"
)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL video frame sampling: parse each payload as a Y4M
    container (pure header + raw planes — no codec libraries needed),
    keep every ``every_n``-th frame, and emit per-frame summaries
    (plane means + pixel digest) — the 1→N decode-and-sample shape
    with the decode Arrow-batched in map_payloads. Replaces
    :func:`frame_sample_stub` as the production path for uncompressed
    containers; compressed codecs still need absent libraries.

    Scale shape: frames never leave the Arrow batch — only
    (media_id, frame_idx, means, digest) rows shuffle, ~60 bytes per
    sampled frame regardless of resolution. Malformed payloads are
    bad records: they emit zero rows instead of killing the task."""
    import hashlib as _hl

    def walk(p: bytes):
        w, h, _fps, _cs, frames = _y4m_decode(p)
        for idx in range(0, len(frames), every_n):
            y, cb, cr = frames[idx]
            dig = _hl.md5(y.tobytes())
            if cb is not None:
                dig.update(cb.tobytes())
                dig.update(cr.tobytes())
            yield (
                idx, w, h,
                float(y.mean()),
                float(cb.mean()) if cb is not None else None,
                float(cr.mean()) if cr is not None else None,
                dig.hexdigest(),
            )

    # a record with no id has no frames to attribute: filter it
    # JVM-side, before the payload ever reaches Python
    return map_payloads(
        media.filter(F.col("media_id").isNotNull()), walk, [], VIDEO_FRAME_SCHEMA
    )


# --- video: REAL MJPEG-AVI container codec ------------------------------------
# RIFF 'AVI ' per the public Microsoft AVI/OpenDML spec: hdrl LIST
# (avih main header + strl with strh/strf), movi LIST of '00dc'
# compressed-frame chunks (each one complete baseline JPEG — the
# Motion-JPEG convention), idx1 index. Reuses the round-5 pure-Python
# JPEG codec for the frames, so this is a REAL compressed-frame
# container path with no external libraries.


def _avi_mjpeg_encode(jpeg_frames: list, w: int, h: int, fps: int = 25) -> bytes:
    """Assemble complete per-frame JPEG payloads into a minimal
    single-stream MJPEG AVI (RIFF little-endian; '00dc' chunks padded
    to even length; idx1 with AVIIF_KEYFRAME on every frame — MJPEG
    frames are all intra)."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    if not jpeg_frames:
        raise ValueError("avi stream needs at least one frame")
    n = len(jpeg_frames)
    max_sz = max(len(f) for f in jpeg_frames)
    # MainAVIHeader: usec/frame, max bytes/sec, pad, flags(HASINDEX),
    # frames, initial, streams, bufsize, w, h, reserved[4]
    avih = struct.pack(
        "<10I4I", 1_000_000 // fps, max_sz * fps, 0, 0x10, n, 0, 1, max_sz,
        w, h, 0, 0, 0, 0,
    )
    # AVIStreamHeader: fccType, fccHandler, flags, prio+lang, initial,
    # scale, rate, start, length, bufsize, quality, samplesize, rcFrame
    strh = struct.pack(
        "<4s4sIIIIIIIIiI4H", b"vids", b"MJPG", 0, 0, 0, 1, fps, 0, n,
        max_sz, -1, 0, 0, 0, w, h,
    )
    # BITMAPINFOHEADER with biCompression='MJPG'
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00dc", f) for f in jpeg_frames)
    movi = lst(b"movi", movi_body)
    # idx1 offsets are relative to the start of the movi LIST data
    # (the 'movi' fourcc position), the convention players expect
    idx = bytearray()
    off = 4  # past the 'movi' type fourcc
    for f in jpeg_frames:
        idx += struct.pack("<4sII", b"00dc", 0x10, off) + struct.pack("<I", len(f))
        off += 8 + len(f) + (len(f) % 2)
    riff_body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return chunk(b"RIFF", riff_body)


def _avi_mjpeg_chunks(p: bytes):
    """Walk an MJPEG AVI container WITHOUT decoding frames: returns
    (width, height, fps, jpeg_payloads) with one compressed payload
    per stream-0 video chunk — '00dc'/'00db' either bare in the movi
    LIST or nested in the spec's 'rec ' interleave-grouping LISTs
    (classic VfW muxers emit those). All malformed-container failures
    surface as ValueError — short header chunks otherwise escape as
    struct.error, which the bad-record handlers deliberately do NOT
    catch (the _jpeg_decode normalization discipline)."""
    import struct

    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI stream (bad magic)")

    def walk(lo: int, hi: int):
        """Yield (fourcc, body_lo, body_hi) over a chunk run."""
        pos = lo
        while pos + 8 <= hi:
            cid = p[pos : pos + 4]
            (sz,) = struct.unpack("<I", p[pos + 4 : pos + 8])
            body = pos + 8
            if body + sz > hi:
                raise ValueError("truncated avi chunk")
            yield cid, body, body + sz
            pos = body + sz + (sz % 2)

    def collect_video(lo: int, hi: int, out: list) -> None:
        for c2, lo2, hi2 in walk(lo, hi):
            if c2 in (b"00dc", b"00db"):
                out.append(p[lo2:hi2])
            elif c2 == b"LIST" and p[lo2 : lo2 + 4] == b"rec ":
                collect_video(lo2 + 4, hi2, out)

    w = h = None
    fps = 25
    payloads: list[bytes] = []
    try:
        for cid, lo, hi in walk(12, len(p)):
            if cid != b"LIST":
                continue
            ltype = p[lo : lo + 4]
            if ltype == b"hdrl":
                for c2, lo2, hi2 in walk(lo + 4, hi):
                    if c2 == b"avih":
                        w, h = struct.unpack("<II", p[lo2 + 32 : lo2 + 40])
                    elif c2 == b"LIST" and p[lo2 : lo2 + 4] == b"strl":
                        for c3, lo3, hi3 in walk(lo2 + 4, hi2):
                            if c3 == b"strh" and p[lo3 : lo3 + 4] == b"vids":
                                scale, rate = struct.unpack(
                                    "<II", p[lo3 + 20 : lo3 + 28]
                                )
                                if scale:
                                    fps = rate // scale
            elif ltype == b"movi":
                collect_video(lo + 4, hi, payloads)
    except struct.error as e:  # short avih/strh slice at buffer end
        raise ValueError(f"malformed AVI header ({e})") from e
    if w is None or h is None:
        raise ValueError("avi missing avih header")
    if not payloads:
        raise ValueError("avi stream has no frames")
    return int(w), int(h), int(fps), payloads


def _avi_mjpeg_decode(p: bytes):
    """Parse an MJPEG AVI and decode EVERY frame: returns (width,
    height, fps, frames) with frames a list of (h, w, ch) uint8
    arrays. Raises ValueError on malformed containers or frames.
    Sampling paths use :func:`_avi_mjpeg_chunks` + selective decode
    instead — entropy-decoding discarded frames wastes ~every_n x
    the CPU."""
    w, h, fps, payloads = _avi_mjpeg_chunks(p)
    return w, h, fps, [_jpeg_decode(f) for f in payloads]


#: one row per SAMPLED AVI frame; px_mean averages ALL channels
AVI_FRAME_SCHEMA = (
    "media_id long, frame_idx long, width long, height long, ch long, "
    "px_mean double, frame_digest string"
)


def avi_frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """REAL compressed-frame video sampling: parse each payload as an
    MJPEG AVI, JPEG-decode every ``every_n``-th frame, emit per-frame
    pixel means + digests — the 1→N Arrow-batched shape of
    :func:`frame_sample` for the RIFF container family.

    Bad-record contract (narrower than Y4M's, by design): a malformed
    CONTAINER or a corrupt SAMPLED frame skips the whole file; a
    corrupt frame at a NON-sampled index is never entropy-decoded and
    therefore never detected — that is the price of decoding only
    1/every_n of the frames (the lazy-decode win). Pipelines that
    must quarantine any partially-corrupt file should run every_n=1
    (full validation) on the quarantine pass."""
    import hashlib as _hl

    def walk(p: bytes):
        # chunk walk only — then entropy-decode JUST the sampled frames
        # (decoding all N wastes ~every_n x the T.81 CPU); a bad
        # container or corrupt SAMPLED frame skips the whole file
        w, h, _fps, payloads = _avi_mjpeg_chunks(p)
        for idx in range(0, len(payloads), every_n):
            a = _jpeg_decode(payloads[idx])
            yield (
                idx, w, h, int(a.shape[2]), float(a.mean()),
                _hl.md5(a.tobytes()).hexdigest(),
            )

    # JVM-side null-id filter: a record with no id has no frames
    return map_payloads(
        media.filter(F.col("media_id").isNotNull()), walk, [], AVI_FRAME_SCHEMA
    )


# --- image: REAL BMP codec (Windows BITMAPINFOHEADER, pure numpy) -------------
# Per the public Windows bitmap format: BITMAPFILEHEADER ('BM', pixel
# offset) + 40-byte BITMAPINFOHEADER, bottom-up rows padded to 4-byte
# stride; 24-bit BGR and 8-bit palette variants (BI_RGB only — RLE
# compression raises). The remaining common uncompressed image format
# after PPM/PNG/JPEG/GIF.


def _bmp_encode(arr, palette=None) -> bytes:
    """Encode (h, w, 3) RGB uint8 as 24-bit BMP, or (h, w) indices +
    an (n, 3) RGB palette as 8-bit BMP."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if palette is None:
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("24-bit bmp needs an (h, w, 3) array")
        h, w = a.shape[:2]
        bpp, pal_bytes = 24, b""
        rows = a[:, :, ::-1]  # RGB -> BGR
        row_len = w * 3
    else:
        if a.ndim != 2:
            raise ValueError("8-bit bmp needs an (h, w) index array")
        pal = np.asarray(palette, dtype=np.uint8)
        if int(a.max(initial=0)) >= pal.shape[0]:
            raise ValueError("bmp: palette index out of range")
        h, w = a.shape
        bpp = 8
        # palette entries are BGRX quads, padded to 256 (common writers)
        quads = np.zeros((256, 4), dtype=np.uint8)
        quads[: pal.shape[0], :3] = pal[:, ::-1]
        pal_bytes = quads.tobytes()
        rows = a
        row_len = w
    stride = (row_len + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        line = rows[r].tobytes()
        body += line + b"\x00" * (stride - len(line))
    off = 14 + 40 + len(pal_bytes)
    header = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(body), 2835, 2835,
        256 if bpp == 8 else 0, 0,
    )
    return bytes(header) + info + pal_bytes + bytes(body)


def _bmp_decode(p: bytes):
    """Decode a BI_RGB BMP (24-bit BGR or 8-bit palette, bottom-up or
    top-down via negative height) into an (h, w, 3) RGB uint8 array.
    Raises ValueError on anything malformed or compressed."""
    import struct

    import numpy as np

    try:
        if len(p) < 54 or p[:2] != b"BM":
            raise ValueError("not a BMP stream (bad magic)")
        _size, _r1, _r2, off = struct.unpack("<IHHI", p[2:14])
        hdr_size, w, h, _planes, bpp, comp = struct.unpack("<IiiHHI", p[14:34])
        if hdr_size < 40:
            raise ValueError(f"bmp: unsupported header size {hdr_size}")
        if comp != 0:
            raise ValueError(f"bmp: only BI_RGB supported, got compression {comp}")
        top_down = h < 0
        h = abs(h)
        if w <= 0 or h == 0 or w * h > (1 << 26):
            raise ValueError(f"bmp: dims {w}x{h} outside sane bounds")
        if bpp == 24:
            stride = (w * 3 + 3) & ~3
            need = off + stride * h
            if need > len(p):
                raise ValueError("bmp: truncated pixel data")
            rows = np.frombuffer(p, np.uint8, stride * h, off).reshape(h, stride)
            img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        elif bpp == 8:
            n_colors = struct.unpack("<I", p[46:50])[0] or 256
            pal_off = 14 + hdr_size
            quads = np.frombuffer(p, np.uint8, n_colors * 4, pal_off).reshape(
                n_colors, 4
            )
            pal = quads[:, :3][:, ::-1]  # BGRX -> RGB
            stride = (w + 3) & ~3
            if off + stride * h > len(p):
                raise ValueError("bmp: truncated pixel data")
            rows = np.frombuffer(p, np.uint8, stride * h, off).reshape(h, stride)
            idx = rows[:, :w]
            if int(idx.max(initial=0)) >= n_colors:
                raise ValueError("bmp: palette index out of range")
            img = pal[idx]
        else:
            raise ValueError(f"bmp: unsupported bit depth {bpp}")
        return np.ascontiguousarray(img if top_down else img[::-1])
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed BMP ({type(e).__name__}: {e})") from e


def _bmp_features(p: bytes, dim: int) -> list[float]:
    """Band means over the decoded BMP (the shared image-feature
    contract; zeros bad-record policy)."""
    try:
        arr = _bmp_decode(p)
    except ValueError:
        return [0.0] * dim
    return _image_band_features(arr, dim)


# --- image: REAL TIFF codec (baseline uncompressed, pure numpy) ---------------
# Per the public TIFF 6.0 specification (Adobe 1992): II/MM byte-order
# header + magic 42, IFD walk of 12-byte tag entries with inline-vs-
# offset values, strip-based pixel layout (StripOffsets/RowsPerStrip/
# StripByteCounts). Baseline uncompressed (Compression=1) 8-bit
# grayscale (photometric 1) and RGB (photometric 2), BOTH endians.
# LZW/PackBits/JPEG-in-TIFF raise (declared unsupported).


def _tiff_encode(arr, big_endian: bool = False, rows_per_strip: int = 8) -> bytes:
    """Encode (h, w) gray or (h, w, 3) RGB uint8 as an uncompressed
    baseline TIFF with multiple strips."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    gray = a.ndim == 2
    if not gray and (a.ndim != 3 or a.shape[2] != 3):
        raise ValueError("tiff encode needs (h, w) gray or (h, w, 3) RGB")
    h, w = a.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("tiff encode needs a non-empty image")
    spp = 1 if gray else 3
    e = ">" if big_endian else "<"
    strips = [
        a[r : r + rows_per_strip].tobytes() for r in range(0, h, rows_per_strip)
    ]
    n = len(strips)

    def entry(tag, typ, count, value):
        head = struct.pack(f"{e}HHI", tag, typ, count)
        if typ == 3 and count == 1:
            # SHORT inline values sit in the FIRST two bytes of the
            # 4-byte field in BOTH endians (TIFF 6.0 §2) — packing as
            # a 4-byte int would put a big-endian SHORT in the wrong half
            return head + struct.pack(f"{e}H", value) + b"\x00\x00"
        return head + struct.pack(f"{e}I", value)

    # layout: header(8) + IFD + [bps array if RGB] + strip tables + pixel strips
    n_entries = 9
    ifd_size = 2 + n_entries * 12 + 4
    pos = 8 + ifd_size
    bps_off = pos
    if spp == 3:
        pos += 6  # three SHORTs
    off_table, cnt_table = pos, pos + 4 * n
    pos += 8 * n
    strip_offs = []
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    ifd = struct.pack(f"{e}H", n_entries)
    ifd += entry(256, 4, 1, w)  # ImageWidth LONG
    ifd += entry(257, 4, 1, h)  # ImageLength
    if spp == 3:
        ifd += entry(258, 3, 3, bps_off)  # BitsPerSample offset table
    else:
        ifd += entry(258, 3, 1, 8)  # inline SHORT 8
    ifd += entry(259, 3, 1, 1)  # Compression: none
    ifd += entry(262, 3, 1, 1 if gray else 2)  # Photometric
    ifd += entry(273, 4, n, off_table if n > 1 else strip_offs[0])
    ifd += entry(277, 3, 1, spp)  # SamplesPerPixel
    ifd += entry(278, 4, 1, rows_per_strip)
    ifd += entry(279, 4, n, cnt_table if n > 1 else len(strips[0]))
    ifd += struct.pack(f"{e}I", 0)  # next IFD
    out = bytearray()
    out += (b"MM" if big_endian else b"II") + struct.pack(f"{e}H", 42)
    out += struct.pack(f"{e}I", 8)
    out += ifd
    out += struct.pack(f"{e}HHH", 8, 8, 8) if spp == 3 else b""
    # strip tables are written even for n == 1 (harmless dead bytes;
    # the IFD then points at the inline value instead)
    out += b"".join(struct.pack(f"{e}I", o) for o in strip_offs)
    out += b"".join(struct.pack(f"{e}I", len(s)) for s in strips)
    out += b"".join(strips)
    return bytes(out)


def _tiff_decode(p: bytes, max_pixels: int = 1 << 26):
    """Decode a baseline uncompressed TIFF (either endian, 8-bit gray
    or RGB, any strip layout) into an (h, w, ch) uint8 array. Raises
    ValueError on malformed/compressed/exotic inputs."""
    import struct

    import numpy as np

    try:
        if len(p) < 8 or p[:2] not in (b"II", b"MM"):
            raise ValueError("not a TIFF stream (bad byte-order mark)")
        e = "<" if p[:2] == b"II" else ">"
        magic, ifd_off = struct.unpack(f"{e}HI", p[2:8])
        if magic != 42:
            raise ValueError(f"tiff: bad magic {magic}")
        (n_entries,) = struct.unpack(f"{e}H", p[ifd_off : ifd_off + 2])
        tags: dict[int, tuple[int, int, bytes]] = {}
        for i in range(n_entries):
            base = ifd_off + 2 + i * 12
            tag, typ, count = struct.unpack(f"{e}HHI", p[base : base + 8])
            tags[tag] = (typ, count, p[base + 8 : base + 12])

        _SZ = {1: 1, 3: 2, 4: 4}

        def values(tag, default=None):
            if tag not in tags:
                if default is None:
                    raise ValueError(f"tiff: missing required tag {tag}")
                return default
            typ, count, raw = tags[tag]
            if typ not in _SZ:
                raise ValueError(f"tiff: unsupported type {typ} for tag {tag}")
            total = _SZ[typ] * count
            if total <= 4:
                buf = raw[:total]
            else:
                (off,) = struct.unpack(f"{e}I", raw)
                buf = p[off : off + total]
                if len(buf) != total:
                    raise ValueError("tiff: tag value table truncated")
            fmt = {1: "B", 3: "H", 4: "I"}[typ]
            return list(struct.unpack(f"{e}{count}{fmt}", buf))

        w, h = values(256)[0], values(257)[0]
        if w == 0 or h == 0 or w * h > max_pixels:
            raise ValueError(f"tiff: dims {w}x{h} outside sane bounds")
        if values(259, [1])[0] != 1:
            raise ValueError("tiff: only uncompressed (Compression=1) supported")
        photometric = values(262)[0]
        if photometric not in (0, 1, 2):
            # palette (3), CMYK (5), YCbCr (6), ... — raise, never
            # silently misread (the codecs' shared discipline)
            raise ValueError(f"tiff: unsupported photometric {photometric}")
        spp = values(277, [1])[0]
        bps = values(258, [8])
        if spp not in (1, 3) or any(b != 8 for b in bps):
            raise ValueError(f"tiff: only 8-bit gray/RGB supported (spp={spp})")
        offs = values(273)
        cnts = values(279)
        if len(offs) != len(cnts):
            raise ValueError("tiff: strip offset/count tables disagree")
        body = bytearray()
        for o, c in zip(offs, cnts):
            chunk = p[o : o + c]
            if len(chunk) != c:
                raise ValueError("tiff: truncated strip")
            body += chunk
        if len(body) < h * w * spp:
            raise ValueError("tiff: strips shorter than image")
        a = np.frombuffer(bytes(body), np.uint8, h * w * spp).reshape(h, w, spp)
        if photometric == 0:  # WhiteIsZero (scanned documents): invert
            a = 255 - a
        if photometric == 2 and spp != 3:
            raise ValueError("tiff: RGB photometric with spp != 3")
        return np.ascontiguousarray(a)
    except (struct.error, IndexError) as e2:
        raise ValueError(f"malformed TIFF ({type(e2).__name__}: {e2})") from e2


def _tiff_features(p: bytes, dim: int) -> list[float]:
    """Band means over the decoded TIFF (shared image-feature
    contract; zeros bad-record policy)."""
    try:
        arr = _tiff_decode(p)
    except ValueError:
        return [0.0] * dim
    return _image_band_features(arr, dim)


def decode_to_rgb(fmt: str, payload: bytes):
    """Decode any supported STILL-image payload to the canonical
    (h, w, 3) RGB uint8 form (gray planes replicate). This is the
    normalization that makes CROSS-FORMAT pixel comparison possible —
    the same image stored as PNG and as a JPEG re-encode must digest
    identically after decode, whatever each codec's native channel
    layout. Raises ValueError on malformed payloads (every codec's
    shared contract)."""
    import numpy as np

    if fmt == "png":
        a = _png_decode(payload)
    elif fmt == "jpeg":
        a = _jpeg_decode(payload)
    elif fmt == "gif":
        a = _gif_decode(payload, max_frames=1)[0][0]
    elif fmt == "bmp":
        a = _bmp_decode(payload)
    elif fmt == "tiff":
        a = _tiff_decode(payload)
    elif fmt == "ppm":
        a = _ppm_decode(payload)
    else:
        raise ValueError(f"decode_to_rgb: unsupported format {fmt!r}")
    a = np.asarray(a)
    if a.dtype == np.uint16:
        # canonical form is 8-bit: keep the HIGH byte (the standard
        # 16->8 downscale) — truncating to the low byte would collapse
        # distinct images into false duplicates (review-r6d)
        a = (a >> 8).astype(np.uint8)
    a = a.astype(np.uint8, copy=False)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.shape[2] == 2:
        a = a[:, :, :1]  # gray+alpha: keep the gray plane
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    if a.shape[2] != 3:
        # RGBA etc.: drop alpha for the canonical RGB form
        a = a[:, :, :3]
    return np.ascontiguousarray(a)


# --- image/animation: REAL GIF codec (GIF89a, pure Python + numpy) ------------
# Per the public GIF89a specification (CompuServe 1990, also W3C's
# GIF89a reference): header + logical screen descriptor + global
# color table, image descriptors with optional local color tables and
# row interlacing, graphic control extensions (transparency, frame
# disposal), and LZW-compressed pixel data (variable code width
# 3..12 bits, LSB-first packing, clear/EOI codes, 4096-entry
# dictionary with clear-on-full). Animated GIFs composite per the
# disposal methods, so frame sampling works on real animations.


def _gif_lzw_decode(data: bytes, mcs: int, npix: int):
    """LZW-decompress a GIF pixel stream (already de-sub-blocked).
    Returns exactly ``npix`` palette indices."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    # bit reader: LSB-first across the byte stream
    acc = nbits = pos = 0
    width = mcs + 1
    prefix: list[bytes] = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    prev = None

    def read_code():
        nonlocal acc, nbits, pos
        while nbits < width:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    while True:
        code = read_code()
        if code is None:
            raise ValueError("gif: LZW stream ended without EOI")
        if code == clear:
            prefix = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(prefix):
                raise ValueError("gif: first LZW code out of range")
            entry = prefix[code]
        elif code < len(prefix):
            entry = prefix[code]
            prefix.append(prev + entry[:1])
        elif code == len(prefix):  # the cScSc case
            entry = prev + prev[:1]
            prefix.append(entry)
        else:
            raise ValueError("gif: LZW code out of range")
        out += entry
        prev = entry
        if len(prefix) == (1 << width) and width < 12:
            width += 1
        if len(out) >= npix:
            break
    if len(out) < npix:
        raise ValueError(f"gif: LZW produced {len(out)} of {npix} pixels")
    return bytes(out[:npix])


def _gif_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """LZW-compress palette indices with GIF's variable-width coding
    (clear emitted first and on dictionary overflow)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(1 << mcs)}
    next_code = eoi + 1
    width = mcs + 1
    put(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        put(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                # the decoder widens when ITS table reaches 1<<width;
                # its table is one entry behind the encoder's
                width += 1
        else:
            put(clear, width)
            table = {bytes([i]): i for i in range(1 << mcs)}
            next_code = eoi + 1
            width = mcs + 1
        run = bytes([b])
    if run:
        put(table[run], width)
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_deinterlace_rows(h: int):
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, h, step))
    return rows


def _gif_encode(
    frames, palette, delays_cs=None, interlace: bool = False,
    transparent: int | None = None, disposal: int = 1,
) -> bytes:
    """Encode (h, w) palette-index uint8 frames + an (n, 3) palette as
    a GIF89a (animated when len(frames) > 1: NETSCAPE2.0 loop block +
    per-frame graphic control extensions)."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("gif needs at least one frame")
    pal = np.asarray(palette, dtype=np.uint8)
    bits = max(2, int(pal.shape[0] - 1).bit_length())  # GIF min code size >= 2
    pal_size = 1 << bits
    h, w = np.asarray(frames[0]).shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes() + b"\x00\x00\x00" * (pal_size - pal.shape[0])
    if len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    if delays_cs is not None and len(delays_cs) != len(frames):
        raise ValueError(
            f"gif: {len(delays_cs)} delays for {len(frames)} frames"
        )
    delays = delays_cs or [4] * len(frames)
    for fi, fr in enumerate(frames):
        a = np.asarray(fr, dtype=np.uint8)
        if a.shape != (h, w):
            raise ValueError("gif frames must share the canvas size")
        if len(frames) > 1 or transparent is not None:
            flags = (disposal & 7) << 2 | (1 if transparent is not None else 0)
            out += struct.pack(
                "<BBBBHBB", 0x21, 0xF9, 4, flags, delays[fi],
                transparent if transparent is not None else 0, 0,
            )
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
        rows = a[_gif_deinterlace_rows(h), :] if interlace else a
        lzw = _gif_lzw_encode(rows.tobytes(), bits)
        out.append(bits)
        for lo in range(0, len(lzw), 255):
            blk = lzw[lo : lo + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
    out.append(0x3B)  # trailer
    return bytes(out)


def _gif_encode_rgb(frames, delays_cs=None, disposal: int = 1) -> bytes:
    """True-color GIF89a via PER-FRAME LOCAL color tables (closes the
    round-6 encoder gap: the global-palette form caps the whole
    animation at 256 colors). Each (h, w, 3) uint8 frame gets its own
    palette built from its distinct colors — a single frame is still
    bound to 256 entries (the GIF local-table limit; exceeding it
    raises ValueError rather than silently quantizing), but the
    ANIMATION as a whole is unbounded, the classic GIF true-color
    technique. No global color table is written; the decoder's
    local-table path (``iflags & 0x80``) handles every frame."""
    import struct

    import numpy as np

    if not frames:
        raise ValueError("gif needs at least one frame")
    first = np.asarray(frames[0], dtype=np.uint8)
    if first.ndim != 3 or first.shape[2] != 3:
        raise ValueError("gif rgb frames must be (h, w, 3) uint8")
    h, w = first.shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0, 0, 0)  # no global color table
    if len(frames) > 1:
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"  # loop forever
    if delays_cs is not None and len(delays_cs) != len(frames):
        raise ValueError(f"gif: {len(delays_cs)} delays for {len(frames)} frames")
    delays = delays_cs or [4] * len(frames)
    for fi, fr in enumerate(frames):
        a = np.asarray(fr, dtype=np.uint8)
        if a.shape != (h, w, 3):
            raise ValueError("gif frames must share the canvas size")
        pal, inv = np.unique(a.reshape(-1, 3), axis=0, return_inverse=True)
        if len(pal) > 256:
            raise ValueError(
                f"gif frame {fi}: {len(pal)} distinct colors exceed the "
                "256-entry local color table"
            )
        idx = inv.astype(np.uint8).reshape(h, w)
        bits = max(2, int(len(pal) - 1).bit_length())
        # Graphic Control Extension whenever animating OR the caller
        # supplied explicit delays — a single-frame GIF with a delay
        # previously dropped it silently (advice r7).
        if len(frames) > 1 or delays_cs is not None:
            out += struct.pack(
                "<BBBBHBB", 0x21, 0xF9, 4, (disposal & 7) << 2, delays[fi], 0, 0
            )
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x80 | (bits - 1))
        out += pal.tobytes() + b"\x00\x00\x00" * ((1 << bits) - len(pal))
        lzw = _gif_lzw_encode(idx.tobytes(), bits)
        out.append(bits)
        for lo in range(0, len(lzw), 255):
            blk = lzw[lo : lo + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
    out.append(0x3B)  # trailer
    return bytes(out)


def _gif_decode(
    p: bytes, max_pixels: int = 1 << 26, max_frames: int = 4096,
    frame_stride: int = 1,
):
    """Decode a GIF87a/89a into (palette-composited RGB frames,
    delays): frames is a list of (h, w, 3) uint8 canvases AFTER
    applying each frame's disposal method and transparency — what a
    viewer shows. Raises ValueError on malformed data (struct/index
    errors from truncation are normalized — the AVI discipline).

    ``max_pixels`` caps the canvas BEFORE allocation: a crafted
    header claiming 65535x65535 would otherwise allocate a 12 GB
    canvas from a few hundred payload bytes — a MemoryError the
    bad-record handlers (ValueError-only, by design) must never see.
    ``max_frames`` bounds per-frame OBJECT overhead too (a 1x1-canvas
    stream of millions of 15-byte frames passes any pixel-volume cap);
    callers needing only the leading frames pass a small value and
    skip the rest of the animation's LZW cost entirely.
    ``frame_stride`` RETAINS only every Nth composited canvas (always
    including frame 0) while still compositing every frame for
    correctness — samplers use it so the per-record memory footprint
    is bounded by retained frames, not animation length (advice r6).
    The total RETAINED volume is capped at 2*max_pixels pixels; a
    legitimate long animation over a big canvas must be read with a
    stride (or per-prefix via max_frames), never fully materialized."""
    import struct

    try:
        return _gif_decode_impl(p, max_pixels, max_frames, frame_stride)
    except (struct.error, IndexError) as e:
        raise ValueError(f"malformed GIF ({type(e).__name__}: {e})") from e


def _gif_decode_impl(p: bytes, max_pixels: int, max_frames: int, frame_stride: int):
    import struct

    import numpy as np

    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream (bad magic)")
    w, h, flags, bg, _ar = struct.unpack("<HHBBB", p[6:13])
    if w * h > max_pixels or w == 0 or h == 0:
        raise ValueError(f"gif: canvas {w}x{h} outside sane bounds")
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(p, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:, :] = gct[bg]
    frames, delays = [], []
    n_composited = 0
    transparent, disposal, delay = None, 0, 0

    def sub_blocks(pos: int):
        chunks = []
        while True:
            if pos >= len(p):
                raise ValueError("gif: truncated sub-blocks")
            n = p[pos]
            pos += 1
            if n == 0:
                return b"".join(chunks), pos
            chunks.append(p[pos : pos + n])
            if len(chunks[-1]) != n:
                raise ValueError("gif: truncated sub-block")
            pos += n
    while True:
        if pos >= len(p):
            raise ValueError("gif: missing trailer")
        b0 = p[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = p[pos]
            pos += 1
            if label == 0xF9:  # graphic control
                if p[pos] != 4:
                    raise ValueError("gif: bad GCE length")
                gflags, delay, tidx = struct.unpack("<BHB", p[pos + 1 : pos + 5])
                pos += 5
                if p[pos] != 0:
                    raise ValueError("gif: GCE missing terminator")
                pos += 1
                disposal = (gflags >> 2) & 7
                transparent = tidx if gflags & 1 else None
            else:  # comment / application / plain text: skip sub-blocks
                _, pos = sub_blocks(pos)
        elif b0 == 0x2C:  # image descriptor
            ix, iy, iw, ih, iflags = struct.unpack("<HHHHB", p[pos : pos + 9])
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = np.frombuffer(p, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("gif: image without any color table")
            if ix + iw > w or iy + ih > h:
                raise ValueError("gif: image rect exceeds canvas")
            mcs = p[pos]
            pos += 1
            if not 2 <= mcs <= 11:
                raise ValueError(f"gif: bad LZW min code size {mcs}")
            data, pos = sub_blocks(pos)
            idx = np.frombuffer(
                _gif_lzw_decode(data, mcs, iw * ih), np.uint8
            ).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: scatter rows back
                un = np.empty_like(idx)
                un[_gif_deinterlace_rows(ih), :] = idx
                idx = un
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("gif: palette index out of range")
            if disposal == 3:  # only restore-to-previous needs the copy
                prev_canvas = canvas.copy()
            region = canvas[iy : iy + ih, ix : ix + iw]
            rgb = pal[idx]
            if transparent is not None:
                mask = idx != transparent
                region[mask] = rgb[mask]
            else:
                region[:, :] = rgb
            if n_composited % frame_stride == 0:
                if (len(frames) + 1) * w * h > 2 * max_pixels:
                    # retained frames are full canvases: cap the TOTAL
                    # retained volume, not just the canvas (a stream of
                    # thousands of full-canvas frames is the same
                    # blowup). Strided samplers stay under this by
                    # construction; multiplier lowered 4 -> 2 and
                    # applied to RETAINED frames only (advice r6).
                    raise ValueError(
                        "gif: retained animation volume exceeds sane bounds"
                    )
                frames.append(canvas.copy())
                delays.append(int(delay))
            n_composited += 1
            if n_composited >= max_frames:
                break  # caller-bounded: skip the rest of the animation
            if disposal == 2:  # restore to background
                canvas[iy : iy + ih, ix : ix + iw] = (
                    gct[bg] if gct is not None and bg < len(gct) else 0
                )
            elif disposal == 3:  # restore to previous
                canvas = prev_canvas
            # disposal 0/1: leave the canvas as drawn; GCE scope is one
            # renderable block, so ALL its fields reset (incl. delay)
            transparent, disposal, delay = None, 0, 0
        else:
            raise ValueError(f"gif: unknown block 0x{b0:02x}")
    if not frames:
        raise ValueError("gif stream has no image")
    return frames, delays


def _gif_features(p: bytes, dim: int) -> list[float]:
    """First-frame gray means over ``dim`` horizontal bands (the
    PNG/JPEG band-feature contract, for extract_features('gif')).
    Malformed payloads take the zeros bad-record path (the
    _ppm_features/_wav_features policy)."""
    import numpy as np

    try:
        # max_frames=1: stop after the first image descriptor — an
        # animated corpus must not pay the whole animation's LZW +
        # compositing cost to read first-frame band means (review-r6c)
        frames, _ = _gif_decode(p, max_frames=1)
    except ValueError:
        return [0.0] * dim
    a = frames[0].astype(np.float64).mean(axis=2)  # gray = channel mean
    return _image_band_features(a, dim)


def gif_frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling over ANIMATED GIFs: decode + composite the
    animation (disposal methods, transparency), keep every
    ``every_n``-th composited frame, emit per-frame channel means +
    digest. Same Arrow-batched 1→N shape and bad-record skip as the
    Y4M/AVI samplers; GIF frames must composite sequentially, so the
    whole animation's LZW+compositing cost is paid per payload, but
    only the SAMPLED canvases are ever materialized (frame_stride in
    the decoder) — per-record memory is bounded by retained frames,
    not animation length."""
    import hashlib as _hl

    def walk(p: bytes):
        frames, _delays = _gif_decode(p, frame_stride=every_n)
        for i, a in enumerate(frames):
            yield (
                i * every_n, a.shape[1], a.shape[0],
                float(a[:, :, 0].mean()),
                float(a[:, :, 1].mean()),
                float(a[:, :, 2].mean()),
                _hl.md5(a.tobytes()).hexdigest(),
            )

    return map_payloads(
        media.filter(F.col("media_id").isNotNull()),
        walk,
        [],
        "media_id long, frame_idx long, width long, height long, "
        "r_mean double, g_mean double, b_mean double, frame_digest string",
    )


AUDIO_SCHEMA = "media_id long, n_samples_in long, n_samples_out long, out_digest string"


def audio_resample(
    media: DataFrame, src_rate: int = 44100, dst_rate: int = 16000, decoder: str = "stub"
) -> DataFrame:
    """Audio resampling plumbing: decode payload to PCM samples,
    rate-convert, report sample counts + output digest — the whole
    pass Arrow-batched through :func:`map_payloads` (one Python worker
    round trip per batch, never per row). ``decoder='wav'`` is a REAL
    pipeline for RIFF/PCM16 payloads (numpy chunk walk + nearest-sample rate
    conversion + re-encode; the source rate comes from the header,
    ``src_rate`` is ignored); ``decoder='stub'`` reads raw bytes as
    headerless int16 PCM at ``src_rate``; compressed codecs raise."""
    if decoder not in ("stub", "wav"):
        raise NotImplementedError(
            "compressed audio codecs are not available in this environment; "
            "'wav' is the real no-library path, 'stub' the headerless fake"
        )
    import hashlib

    def _resample(p: bytes) -> list[tuple[int, int, str]]:
        if decoder == "wav":
            n_in, n_out, enc = _wav_resample_payload(p, dst_rate)
            return [(n_in, n_out, hashlib.md5(enc).hexdigest())]
        n_in = len(p) // 2
        n_out = (n_in * dst_rate) // src_rate
        # index-mapped nearest-sample pick (stands in for a filter bank)
        out = bytearray()
        for i in range(n_out):
            j = (i * n_in) // max(n_out, 1)
            out += p[2 * j : 2 * j + 2]
        return [(n_in, n_out, hashlib.md5(bytes(out)).hexdigest())]

    # a NULL (walked as b"") or malformed payload = bad record: zeros
    # instead of killing the task (one bad row must not fail a 100 TB pass)
    return map_payloads(media, _resample, [(0, 0, hashlib.md5(b"").hexdigest())], AUDIO_SCHEMA)


# --- perceptual image hashing (dHash) -----------------------------------------


def _image_dhash_arr(arr, grid_w: int = 9, grid_h: int = 7) -> int:
    """Difference hash of a decoded pixel array: nearest-resample to a
    (grid_h, grid_w) gray grid (the shared resize index policy:
    src = (i * n_in) // n_out), one bit per horizontal neighbor pair
    (right > left), row-major bit order. grid 9x7 -> 56 bits, so the
    hash always fits a non-negative BIGINT. dHash is invariant to
    uniform brightness shifts and to any monotone per-pixel rescale —
    the standard cheap perceptual near-dup key (Krawetz, 'Kind of
    Like That', hackerfactor 2013; public algorithm)."""
    import numpy as np

    a = arr.astype(np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    hh, ww = a.shape
    ri = (np.arange(grid_h) * hh) // grid_h
    ci = (np.arange(grid_w) * ww) // grid_w
    g = a[np.ix_(ri, ci)]
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64).reshape(-1)
    return int((bits << np.arange(bits.size, dtype=np.int64)).sum())


def image_dhash(
    media: DataFrame, decoder: str = "png", grid_w: int = 9, grid_h: int = 7
) -> DataFrame:
    """Per-image perceptual dHash over REAL decoded pixels, Arrow-
    batched: (media_id, dhash BIGINT). Alpha channels are dropped
    before graying (the _png_features policy — alpha is metadata, not
    luminance); malformed payloads hash to -1 (the bad-record
    sentinel: one bad row must not kill a 100 TB pass, and -1 is
    outside the 56-bit hash range so bad records never collide with
    real groups). Downstream, equal dhash = near-duplicate candidate
    group — the image analog of SimHash bands; at 100 TB only
    (media_id, dhash) shuffles, pixels stay at the scan."""
    if decoder == "png":
        dec = _png_decode
    elif decoder == "ppm":
        dec = _ppm_decode
    elif decoder == "jpeg":
        dec = _jpeg_decode
    else:
        raise NotImplementedError(
            f"decoder '{decoder}' needs media libraries not present in this "
            "environment; 'ppm'/'png'/'jpeg' are the real no-library paths"
        )

    return map_payloads(
        media,
        lambda p: [(_image_dhash_arr(dec(p), grid_w, grid_h),)],
        [(-1,)],
        "media_id long, dhash long",
    )


def video_luma_fingerprint(media: DataFrame, bits: int = 56) -> DataFrame:
    """Per-clip TEMPORAL video fingerprint over REAL decoded Y4M
    frames, Arrow-batched: (media_id, vfp BIGINT) — the video member
    of the near-dup modality matrix (text spans / image dHash / audio
    energy deltas / this). The scheme is the temporal-difference core
    of published video-copy-detection signatures (TIRI / ordinal
    temporal measures): frame b's bit = [luma_sum(frame b+1) >
    luma_sum(frame b)] over the first ``bits + 1`` frames, with the
    per-frame luma sum an EXACT int64 over the full Y plane — so
    re-encodes that preserve brightness ordering (the temporal
    shape) collapse to the same fingerprint. 56 bits keeps the
    packed BIGINT positive on every engine (the bq_rerank lesson);
    undecodable or too-short clips fingerprint to -1 (the
    image_dhash bad-record sentinel). Downstream, equal vfp =
    duplicate-candidate group and dedup.hamming_band_pairs finds
    near groups; only (media_id, vfp) ever shuffles — frames stay at
    the scan."""
    if bits > 62:
        raise ValueError(f"bits {bits} > 62: packed BIGINT must stay positive")

    def walk(p: bytes):
        import numpy as np

        _, _, _, _, frames = _y4m_decode(p)
        if len(frames) < bits + 1:
            return [(-1,)]
        sums = np.array(
            [f[0].astype(np.int64).sum() for f in frames[: bits + 1]],
            dtype=np.int64,
        )
        up = sums[1:] > sums[:-1]
        return [(int(np.sum(np.left_shift(up.astype(np.int64), np.arange(bits)))),)]

    return map_payloads(media, walk, [(-1,)], "media_id long, vfp long")


def audio_energy_fingerprint(
    media: DataFrame, chunk_samples: int = 8, bits: int = 56
) -> DataFrame:
    """Per-clip acoustic fingerprint over REAL decoded PCM, Arrow-
    batched: (media_id, afp BIGINT) — the audio analog of
    :func:`image_dhash`. The scheme is the sign-of-difference core of
    the published audio-fingerprint family (Haitsma & Kalker, CBMI
    2002) collapsed to the time axis: the first
    ``(bits+1) * chunk_samples`` frames split into ``bits + 1``
    windows, each window's energy is the EXACT int64 sum of squared
    samples across all channels, and bit b = [E_{b+1} > E_b] — a
    spectral sub-band version needs an FFT library this environment
    does not have, so the time-domain energy profile is the honest
    no-library analog (documented boundary, same as the codec stubs).
    ``bits`` defaults to 56 so the packed value stays positive in a
    signed BIGINT on every engine (bit-63 shiftleft sign is NOT
    portable — the bq_rerank packing lesson). Undecodable or
    too-short clips fingerprint to -1, outside the 56-bit range (the
    image_dhash bad-record sentinel: one bad row must not kill a
    100 TB pass). Downstream, equal afp = duplicate-candidate group
    and dedup.hamming_band_pairs finds near groups; at scale only
    (media_id, afp) shuffles — PCM stays at the scan."""
    if bits > 62:
        raise ValueError(f"bits {bits} > 62: packed BIGINT must stay positive")
    need = (bits + 1) * chunk_samples

    def walk(p: bytes):
        import numpy as np

        _, _, pcm = _wav_decode(p)
        if pcm.shape[0] < need:
            return [(-1,)]
        x = pcm[:need].astype(np.int64)
        e = (x * x).sum(axis=1).reshape(bits + 1, chunk_samples).sum(axis=1)
        up = e[1:] > e[:-1]
        return [(int(np.sum(np.left_shift(up.astype(np.int64), np.arange(bits)))),)]

    return map_payloads(media, walk, [(-1,)], "media_id long, afp long")


# --- compressed-audio CONTAINER walks (metadata only, no PCM decode) ----------
# mp3/opus/vorbis PCM decode is honestly environment-blocked (no codec
# libraries — the extract_features NotImplementedError stubs stay), but
# the CONTAINERS are simple public framings (ISO/IEC 11172-3 frame
# headers, RFC 3533 Ogg pages): walking them yields typed metadata
# columns (codec, channels, sample rate, duration) without touching a
# single audio sample — the ffprobe role in a 100 TB media-curation
# pass, where duration/bitrate/codec filters run BEFORE any expensive
# decode tier. Everything ValueError-normalized like the real codecs.

#: bitrate (kbps) tables, index 1..14 (0 = free format, 15 = invalid):
#: ISO 11172-3 Table B.2 / 13818-3. Key: (version_group, layer).
_MP3_BITRATES = {
    ("1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_MP3_RATES = {"1": [44100, 48000, 32000], "2": [22050, 24000, 16000],
              "2.5": [11025, 12000, 8000]}


def _mp3_meta(p: bytes) -> dict:
    """Walk every MPEG audio frame header in ``p`` (metadata only —
    frame payloads are skipped, never decoded): ID3v2 prefix and
    ID3v1 trailer are recognized and skipped, each frame's 4-byte
    header is validated (sync, version/layer/bitrate/sample-rate
    indices), and the frame length follows the spec formula
    (Layer I: (12*br/rate + pad)*4 bytes; Layer II/III:
    spf/8*br/rate + pad). Returns integer-exact metadata:
    n_frames, total_samples, sample_rate, channels, frame_bytes,
    duration_us (= 10^6 * total_samples // rate), vbr flag. STRICT:
    trailing garbage, a truncated frame, or any reserved field raises
    ValueError — a 100 TB walk must distinguish 'not mp3' from 'mp3'
    deterministically, not by sniffing luck."""
    i, n = 0, len(p)
    if p[:3] == b"ID3":
        if n < 10:
            raise ValueError("mp3: truncated ID3v2 header")
        size = 0
        for b in p[6:10]:
            if b & 0x80:
                raise ValueError("mp3: ID3v2 size byte not syncsafe")
            size = (size << 7) | b
        i = 10 + size
        if i > n:
            raise ValueError("mp3: ID3v2 tag exceeds payload")
    end = n
    if end - i >= 128 and p[end - 128 : end - 125] == b"TAG":
        end -= 128  # ID3v1 trailer
    n_frames = total_samples = frame_bytes = 0
    rate0 = ch0 = None
    bitrates = set()
    while i < end:
        if end - i < 4:
            raise ValueError("mp3: truncated frame header")
        h = int.from_bytes(p[i : i + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"mp3: lost sync at byte {i}")
        vbits = (h >> 19) & 3
        version = {0: "2.5", 2: "2", 3: "1"}.get(vbits)
        if version is None:
            raise ValueError("mp3: reserved version bits")
        lbits = (h >> 17) & 3
        layer = {1: 3, 2: 2, 3: 1}.get(lbits)
        if layer is None:
            raise ValueError("mp3: reserved layer bits")
        bidx = (h >> 12) & 0xF
        if bidx in (0, 15):
            raise ValueError("mp3: free-format/invalid bitrate index")
        ridx = (h >> 10) & 3
        if ridx == 3:
            raise ValueError("mp3: reserved sample-rate index")
        pad = (h >> 9) & 1
        mode = (h >> 6) & 3
        vgroup = "1" if version == "1" else "2"
        br = _MP3_BITRATES[(vgroup, layer)][bidx - 1] * 1000
        rate = _MP3_RATES[version][ridx]
        if layer == 1:
            spf = 384
            flen = (12 * br // rate + pad) * 4
        else:
            spf = 1152 if (layer == 2 or version == "1") else 576
            flen = spf // 8 * br // rate + pad
        if i + flen > end:
            raise ValueError(f"mp3: frame at byte {i} truncated")
        ch = 1 if mode == 3 else 2
        if rate0 is None:
            rate0, ch0 = rate, ch
        elif rate != rate0 or ch != ch0:
            raise ValueError("mp3: sample-rate/channel change mid-stream")
        bitrates.add(br)
        n_frames += 1
        total_samples += spf
        frame_bytes += flen
        i += flen
    if i != end or n_frames == 0:
        raise ValueError("mp3: no frames / trailing garbage")
    return {
        "codec": "mp3",
        "n_units": n_frames,
        "total_samples": total_samples,
        "sample_rate": rate0,
        "channels": ch0,
        "payload_bytes": frame_bytes,
        "duration_us": 1_000_000 * total_samples // rate0,
        "vbr": len(bitrates) > 1,
    }


def _make_ogg_crc_table() -> list[int]:
    tbl = []
    for byte in range(256):
        c = byte << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & 0x80000000 else (c << 1) & 0xFFFFFFFF
        tbl.append(c)
    return tbl


_OGG_CRC_TABLE = _make_ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC32 (RFC 3533): poly 0x04C11DB7, no reflection,
    init/xorout 0 — NOT zlib's crc32. Table-driven (one lookup per
    byte, not 8 shift/xor iterations) so CRC verification doesn't
    dominate the Arrow-batched page walk on large payloads."""
    c = 0
    tbl = _OGG_CRC_TABLE
    for b in data:
        c = ((c << 8) & 0xFFFFFFFF) ^ tbl[((c >> 24) ^ b) & 0xFF]
    return c


def _ogg_page(
    granule: int, serial: int, seq: int, payload: bytes, header_type: int = 0
) -> bytes:
    """Encode ONE Ogg page (RFC 3533 §6) with a correct CRC — the
    fixture-side encoder for the metadata walk (payload is treated as
    one packet; 255-byte lacing continuation per spec)."""
    import struct

    lac = []
    rem = len(payload)
    while rem >= 255:
        lac.append(255)
        rem -= 255
    lac.append(rem)
    if len(lac) > 255:
        raise ValueError("ogg: packet too large for one page here")
    head = struct.pack(
        "<4sBBqIIIB",
        b"OggS", 0, header_type, granule, serial, seq, 0, len(lac),
    ) + bytes(lac)
    crc = _ogg_crc(head + payload)
    head = head[:22] + struct.pack("<I", crc) + head[26:]
    return head + payload


def _ogg_meta(p: bytes) -> dict:
    """Walk every Ogg page (RFC 3533): capture pattern, version 0,
    lacing-table page sizes, serial continuity, sequence numbers, and
    the REAL page CRC (poly 0x04C11DB7 over the page with a zeroed
    CRC field) are all verified — then the first (BOS) packet's magic
    identifies the codec: 'OpusHead' (RFC 7845: channels, pre-skip,
    output rate fixed 48 kHz, granule = 48 kHz samples) or
    '\\x01vorbis' (channels, rate from the ID header; granule = PCM
    samples). duration_us derives from the LAST page's granule
    position — integer-exact, zero audio bytes decoded. STRICT like
    _mp3_meta: truncation, bad CRC, missing BOS/EOS raise."""
    import struct

    i, n = 0, len(p)
    n_pages = 0
    serial0 = None
    last_granule = 0
    first_payload = b""
    saw_bos = saw_eos = False
    expected_seq = 0
    while i < n:
        if n - i < 27 or p[i : i + 4] != b"OggS":
            raise ValueError(f"ogg: lost page sync at byte {i}")
        ver, htype, granule, serial, seq, crc, nseg = struct.unpack(
            "<BBqIIIB", p[i + 4 : i + 27]
        )
        if ver != 0:
            raise ValueError("ogg: unknown page version")
        if n - i < 27 + nseg:
            raise ValueError("ogg: truncated lacing table")
        lac = p[i + 27 : i + 27 + nseg]
        body = sum(lac)
        page_len = 27 + nseg + body
        if i + page_len > n:
            raise ValueError("ogg: truncated page body")
        page = bytearray(p[i : i + page_len])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError(f"ogg: CRC mismatch on page {n_pages}")
        if n_pages == 0:
            if not htype & 0x02:
                raise ValueError("ogg: first page lacks BOS flag")
            saw_bos = True
            serial0 = serial
            first_payload = p[i + 27 + nseg : i + page_len]
        elif serial != serial0:
            raise ValueError("ogg: multiplexed streams not supported here")
        if seq != expected_seq:
            raise ValueError("ogg: page sequence gap")
        expected_seq += 1
        if htype & 0x04:
            saw_eos = True
        if granule >= 0:
            last_granule = granule
        n_pages += 1
        i += page_len
    if not (saw_bos and saw_eos):
        raise ValueError("ogg: missing BOS/EOS page")
    if first_payload[:8] == b"OpusHead":
        if len(first_payload) < 19:
            raise ValueError("ogg: truncated OpusHead")
        channels = first_payload[9]
        pre_skip = struct.unpack("<H", first_payload[10:12])[0]
        rate = 48000  # Opus output rate is fixed; granule is 48 kHz
        total = max(0, last_granule - pre_skip)
        codec = "opus"
    elif first_payload[:7] == b"\x01vorbis":
        if len(first_payload) < 30:
            raise ValueError("ogg: truncated vorbis ID header")
        channels = first_payload[11]
        rate = struct.unpack("<I", first_payload[12:16])[0]
        if rate == 0 or channels == 0:
            raise ValueError("ogg: zero rate/channels in vorbis ID")
        total = last_granule
        codec = "vorbis"
    else:
        raise ValueError("ogg: unrecognized BOS codec magic")
    return {
        "codec": codec,
        "n_units": n_pages,
        "total_samples": total,
        "sample_rate": rate,
        "channels": channels,
        "payload_bytes": n,
        "duration_us": 1_000_000 * total // rate,
        "vbr": True,  # both codecs are inherently VBR containers
    }


def audio_container_meta(media: DataFrame) -> DataFrame:
    """Typed metadata columns from compressed-audio CONTAINERS, no
    PCM decode anywhere (the ffprobe tier of a media-curation
    pipeline): payload magic dispatches to :func:`_mp3_meta`
    (0xFFE sync / ID3 prefix) or :func:`_ogg_meta` ('OggS'), malformed
    payloads take the bad-record path (codec='bad', zeros) so one
    corrupt file can never kill a 100 TB walk. ~60-byte rows shuffle;
    payload bytes stay inside the Arrow batch."""
    schema = (
        "media_id long, codec string, n_units long, total_samples long, "
        "sample_rate long, channels long, payload_bytes long, "
        "duration_us long, vbr boolean"
    )

    def walk(p: bytes):
        if p[:4] == b"OggS":
            m = _ogg_meta(p)
        elif p[:3] == b"ID3" or (len(p) >= 2 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0):
            m = _mp3_meta(p)
        else:
            raise ValueError("unrecognized audio container")
        return [tuple(m.values())]  # the meta dicts are in schema order

    return map_payloads(media, walk, [("bad", 0, 0, 0, 0, 0, 0, False)], schema)


# --- compressed-video CONTAINER walk (ISO BMFF / MP4, metadata only) ----------


def _mp4_boxes(p: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each ISO-BMFF box in
    p[start:end] (ISO/IEC 14496-12 §4.2): 32-bit size, size==1 ->
    64-bit largesize follows the type, size==0 -> box extends to the
    container's end. ValueError on truncation or a size that escapes
    the container."""
    i = start
    while i < end:
        if end - i < 8:
            raise ValueError("mp4: truncated box header")
        size = int.from_bytes(p[i : i + 4], "big")
        btype = p[i + 4 : i + 8]
        body = i + 8
        if size == 1:
            if end - i < 16:
                raise ValueError("mp4: truncated largesize")
            size = int.from_bytes(p[i + 8 : i + 16], "big")
            body = i + 16
        elif size == 0:
            size = end - i
        if size < body - i or i + size > end:
            raise ValueError(f"mp4: box {btype!r} size escapes container")
        yield btype, body, i + size
        i += size


def _mp4_fullbox(p: bytes, body: int) -> tuple[int, int]:
    """(version, body-after-version/flags) of a FullBox."""
    return p[body], body + 4


def _mp4_meta(p: bytes) -> dict:
    """Walk an ISO-BMFF (MP4/MOV family) file's box tree — metadata
    only, no sample data touched (mdat is skipped whole): ftyp major
    brand, mvhd timescale/duration (version 0 and 1), per-trak
    mdhd/hdlr/stsd — the handler type classifies video vs audio and
    the first stsd entry's fourcc names the codec; tkhd (the 16.16
    fixed-point width/height) sizes the video track. Returns
    integer-exact duration_us = 10^6 * duration // timescale plus the
    first video track's (codec, width, height) and the first audio
    track's codec. STRICT: truncated boxes, sizes escaping their
    container, or a missing ftyp/moov/mvhd raise ValueError — the
    _mp3_meta 'not mp4 vs mp4' determinism contract. Codec PAYLOAD
    decode (avc1/hev1/mp4a...) stays honestly NotImplementedError in
    extract_features — this is the ffprobe tier only."""
    brand = None
    timescale = duration = None
    n_tracks = 0
    video_codec = audio_codec = None
    width = height = 0

    def walk_trak(b0: int, b1: int):
        nonlocal video_codec, audio_codec, width, height
        handler = None
        codec = None
        w = h = 0
        for t, s, e in _mp4_boxes(p, b0, b1):
            if t == b"tkhd":
                ver, s2 = _mp4_fullbox(p, s)
                # width/height: last 8 bytes, 16.16 fixed
                w = int.from_bytes(p[e - 8 : e - 4], "big") >> 16
                h = int.from_bytes(p[e - 4 : e], "big") >> 16
            elif t == b"mdia":
                for t2, s2, e2 in _mp4_boxes(p, s, e):
                    if t2 == b"hdlr":
                        _, s3 = _mp4_fullbox(p, s2)
                        handler = p[s3 + 4 : s3 + 8]
                    elif t2 == b"minf":
                        for t3, s3, e3 in _mp4_boxes(p, s2, e2):
                            if t3 == b"stbl":
                                for t4, s4, e4 in _mp4_boxes(p, s3, e3):
                                    if t4 == b"stsd":
                                        _, s5 = _mp4_fullbox(p, s4)
                                        n = int.from_bytes(p[s5 : s5 + 4], "big")
                                        if n >= 1:
                                            for t5, _s6, _e6 in _mp4_boxes(
                                                p, s5 + 4, e4
                                            ):
                                                codec = t5.decode(
                                                    "ascii", "replace"
                                                )
                                                break
        if handler == b"vide":
            if video_codec is None:
                video_codec, width, height = codec or "", w, h
        elif handler == b"soun":
            if audio_codec is None:
                audio_codec = codec or ""

    for t, s, e in _mp4_boxes(p, 0, len(p)):
        if t == b"ftyp":
            if e - s < 8:
                raise ValueError("mp4: truncated ftyp")
            brand = p[s : s + 4].decode("ascii", "replace")
        elif t == b"moov":
            for t2, s2, e2 in _mp4_boxes(p, s, e):
                if t2 == b"mvhd":
                    ver, s3 = _mp4_fullbox(p, s2)
                    if ver == 1:
                        timescale = int.from_bytes(p[s3 + 16 : s3 + 20], "big")
                        duration = int.from_bytes(p[s3 + 20 : s3 + 28], "big")
                    else:
                        timescale = int.from_bytes(p[s3 + 8 : s3 + 12], "big")
                        duration = int.from_bytes(p[s3 + 12 : s3 + 16], "big")
                elif t2 == b"trak":
                    n_tracks += 1
                    walk_trak(s2, e2)
    if brand is None:
        raise ValueError("mp4: no ftyp box")
    if timescale is None or timescale == 0:
        raise ValueError("mp4: no moov/mvhd (or zero timescale)")
    return {
        "brand": brand,
        "timescale": timescale,
        "duration_us": 1_000_000 * duration // timescale,
        "n_tracks": n_tracks,
        "video_codec": video_codec or "",
        "width": width,
        "height": height,
        "audio_codec": audio_codec or "",
    }


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    """Encode one box (fixture-side; 32-bit size form)."""
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _mp4_build(
    brand: str,
    timescale: int,
    duration: int,
    tracks,
    mvhd_v1: bool = False,
    trailing_mdat: int = 0,
) -> bytes:
    """Build a minimal valid ISO-BMFF file for the metadata walk:
    ftyp + moov(mvhd + trak(tkhd + mdia(mdhd + hdlr + minf/stbl/stsd))
    per track) + optional mdat filler. ``tracks`` is a list of
    (handler4cc, codec4cc, width, height)."""
    if mvhd_v1:
        mvhd = b"\x01" + b"\x00" * 3 + b"\x00" * 16 + timescale.to_bytes(4, "big")
        mvhd += duration.to_bytes(8, "big") + b"\x00" * 80
    else:
        mvhd = b"\x00" * 4 + b"\x00" * 8 + timescale.to_bytes(4, "big")
        mvhd += duration.to_bytes(4, "big") + b"\x00" * 80
    traks = b""
    for handler, codec, w, h in tracks:
        tkhd = b"\x00" * 4 + b"\x00" * 72 + (w << 16).to_bytes(4, "big") + (
            (h << 16).to_bytes(4, "big")
        )
        mdhd = b"\x00" * 4 + b"\x00" * 8 + timescale.to_bytes(4, "big")
        mdhd += duration.to_bytes(4, "big") + b"\x55\xc4\x00\x00"
        hdlr = b"\x00" * 4 + b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00"
        entry = _mp4_box(codec, b"\x00" * 78)  # opaque sample entry
        stsd = _mp4_box(b"stsd", b"\x00" * 4 + (1).to_bytes(4, "big") + entry)
        stbl = _mp4_box(b"stbl", stsd)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(
            b"mdia", _mp4_box(b"mdhd", mdhd) + _mp4_box(b"hdlr", hdlr) + minf
        )
        traks += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd) + mdia)
    out = _mp4_box(b"ftyp", brand.encode() + (0).to_bytes(4, "big") + brand.encode())
    out += _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + traks)
    if trailing_mdat:
        out += _mp4_box(b"mdat", b"\xee" * trailing_mdat)
    return out


def video_container_meta(media: DataFrame) -> DataFrame:
    """Typed metadata from ISO-BMFF containers via :func:`_mp4_meta`
    (the video side of audio_container_meta): bad records land on
    brand='bad' zeros, ~70-byte rows shuffle."""
    schema = (
        "media_id long, brand string, timescale long, duration_us long, "
        "n_tracks long, video_codec string, width long, height long, "
        "audio_codec string"
    )

    return map_payloads(
        media,
        lambda p: [tuple(_mp4_meta(p).values())],
        [("bad", 0, 0, 0, "", 0, 0, "")],
        schema,
    )


# --- compressed-video CONTAINER walk #2 (Matroska / WebM EBML, metadata only) -


def _ebml_vint(p: bytes, i: int, keep_marker: bool):
    """Decode one EBML variable-length integer at p[i:] (RFC 8794
    §4): the leading byte's highest set bit gives the width; element
    IDs keep the marker bit (class identity), sizes strip it. Returns
    (value, next_index, all_data_bits_set) — the last flags the
    reserved 'unknown size' encoding."""
    if i >= len(p):
        raise ValueError("ebml: truncated vint")
    first = p[i]
    if first == 0:
        raise ValueError("ebml: invalid vint leading byte 0x00")
    width = 9 - first.bit_length()
    if i + width > len(p):
        raise ValueError("ebml: truncated vint body")
    raw = int.from_bytes(p[i : i + width], "big")
    # the VINT_MARKER is the single bit at position 8*width - width;
    # stripping it leaves the 7*width data bits
    data = raw ^ (1 << (8 * width - width))
    all_ones = data == (1 << (8 * width - width)) - 1
    return (raw if keep_marker else data), i + width, all_ones


def _ebml_children(p: bytes, start: int, end: int):
    """Yield (id, body_start, body_end) for each EBML element in
    p[start:end]; an unknown-size element extends to the container's
    end (the streamed-Segment form)."""
    i = start
    while i < end:
        eid, i, _ = _ebml_vint(p, i, keep_marker=True)
        size, i, unknown = _ebml_vint(p, i, keep_marker=False)
        if unknown:
            yield eid, i, end
            return
        if i + size > end:
            raise ValueError(f"ebml: element 0x{eid:X} size escapes container")
        yield eid, i, i + size
        i += size


def _ebml_uint(p: bytes, s: int, e: int) -> int:
    return int.from_bytes(p[s:e], "big") if e > s else 0


def _ebml_float(p: bytes, s: int, e: int) -> float:
    import struct

    if e - s == 4:
        return struct.unpack(">f", p[s:e])[0]
    if e - s == 8:
        return struct.unpack(">d", p[s:e])[0]
    if e == s:
        return 0.0
    raise ValueError("ebml: float element must be 0/4/8 bytes")


def _mkv_meta(p: bytes) -> dict:
    """Walk a Matroska/WebM EBML tree (RFC 8794 + the public Matroska
    element registry) — metadata only, Clusters skipped whole: EBML
    header DocType, Segment > Info (TimestampScale ns/tick, Duration
    float ticks), Segment > Tracks > TrackEntry (TrackType 1=video /
    2=audio, CodecID, Video PixelWidth/Height, Audio Channels).
    duration_us floors TimestampScale * Duration / 1000 — exact when
    Duration is integral and the scale divides 1000, which muxers'
    defaults (1 ms/tick) satisfy. STRICT ValueError discipline like
    the other walkers; unknown-size Segments (the streamed form) are
    supported per spec."""
    import math

    doc_type = None
    scale_ns = 1_000_000  # spec default: 1 ms/tick
    duration_ticks = 0.0
    n_tracks = 0
    video_codec = audio_codec = None
    width = height = 0
    audio_channels = 0
    saw_segment = False
    for eid, s, e in _ebml_children(p, 0, len(p)):
        if eid == 0x1A45DFA3:  # EBML header
            for cid, cs, ce in _ebml_children(p, s, e):
                if cid == 0x4282:  # DocType
                    doc_type = p[cs:ce].decode("ascii", "replace")
        elif eid == 0x18538067:  # Segment
            saw_segment = True
            for cid, cs, ce in _ebml_children(p, s, e):
                if cid == 0x1549A966:  # Info
                    for iid, is_, ie in _ebml_children(p, cs, ce):
                        if iid == 0x2AD7B1:
                            scale_ns = _ebml_uint(p, is_, ie)
                        elif iid == 0x4489:
                            duration_ticks = _ebml_float(p, is_, ie)
                elif cid == 0x1654AE6B:  # Tracks
                    for tid, ts, te in _ebml_children(p, cs, ce):
                        if tid != 0xAE:  # TrackEntry
                            continue
                        n_tracks += 1
                        ttype = 0
                        codec = None
                        tw = th = tch = 0
                        for fid, fs, fe in _ebml_children(p, ts, te):
                            if fid == 0x83:
                                ttype = _ebml_uint(p, fs, fe)
                            elif fid == 0x86:
                                codec = p[fs:fe].decode("ascii", "replace")
                            elif fid == 0xE0:  # Video
                                for vid, vs, ve in _ebml_children(p, fs, fe):
                                    if vid == 0xB0:
                                        tw = _ebml_uint(p, vs, ve)
                                    elif vid == 0xBA:
                                        th = _ebml_uint(p, vs, ve)
                            elif fid == 0xE1:  # Audio
                                for aid, as_, ae in _ebml_children(p, fs, fe):
                                    if aid == 0x9F:
                                        tch = _ebml_uint(p, as_, ae)
                        if ttype == 1 and video_codec is None:
                            video_codec, width, height = codec or "", tw, th
                        elif ttype == 2 and audio_codec is None:
                            audio_codec, audio_channels = codec or "", tch
    if doc_type is None:
        raise ValueError("ebml: no EBML header / DocType")
    if not saw_segment:
        raise ValueError("ebml: no Segment")
    if scale_ns == 0:
        raise ValueError("ebml: zero TimestampScale")
    return {
        "doc_type": doc_type,
        "timestamp_scale_ns": scale_ns,
        "duration_us": int(math.floor(scale_ns * duration_ticks / 1000.0)),
        "n_tracks": n_tracks,
        "video_codec": video_codec or "",
        "width": width,
        "height": height,
        "audio_codec": audio_codec or "",
        "audio_channels": audio_channels,
    }


def _ebml_enc_vint_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _ebml_enc_size(n: int) -> bytes:
    for width in range(1, 9):
        if n < (1 << (7 * width)) - 1:
            return ((1 << (7 * width)) | n).to_bytes(width, "big")
    raise ValueError("ebml: size too large")


def _ebml_el(eid: int, body: bytes) -> bytes:
    return _ebml_enc_vint_id(eid) + _ebml_enc_size(len(body)) + body


def _mkv_build(
    doc_type: str, scale_ns: int, duration_ticks: float, tracks,
    unknown_segment_size: bool = False, cluster_bytes: int = 0,
) -> bytes:
    """Fixture-side Matroska writer for the metadata walk. ``tracks``
    is a list of (track_type, codec_id, width, height, channels)."""
    import struct

    head = _ebml_el(0x1A45DFA3, _ebml_el(0x4282, doc_type.encode()))
    info = _ebml_el(
        0x1549A966,
        _ebml_el(0x2AD7B1, scale_ns.to_bytes(8, "big").lstrip(b"\x00") or b"\x00")
        + _ebml_el(0x4489, struct.pack(">d", duration_ticks)),
    )
    entries = b""
    for ttype, codec, w, h, ch in tracks:
        fields = _ebml_el(0x83, bytes([ttype])) + _ebml_el(0x86, codec.encode())
        if ttype == 1:
            fields += _ebml_el(
                0xE0,
                _ebml_el(0xB0, w.to_bytes(2, "big"))
                + _ebml_el(0xBA, h.to_bytes(2, "big")),
            )
        elif ttype == 2:
            fields += _ebml_el(0xE1, _ebml_el(0x9F, bytes([ch])))
        entries += _ebml_el(0xAE, fields)
    body = info + _ebml_el(0x1654AE6B, entries)
    if cluster_bytes:
        body += _ebml_el(0x1F43B675, b"\xcc" * cluster_bytes)
    if unknown_segment_size:
        seg = _ebml_enc_vint_id(0x18538067) + b"\xff" + body
    else:
        seg = _ebml_el(0x18538067, body)
    return head + seg


def mkv_container_meta(media: DataFrame) -> DataFrame:
    """Typed metadata from Matroska/WebM containers via
    :func:`_mkv_meta`; bad records land on doc_type='bad' zeros."""
    schema = (
        "media_id long, doc_type string, timestamp_scale_ns long, "
        "duration_us long, n_tracks long, video_codec string, "
        "width long, height long, audio_codec string, audio_channels long"
    )

    return map_payloads(
        media,
        lambda p: [tuple(_mkv_meta(p).values())],
        [("bad", 0, 0, 0, "", 0, 0, "", 0)],
        schema,
    )


# --- ID3v2 text frames (mp3 tag metadata, no audio decode) --------------------


def _id3v2_raw_frames(p: bytes):
    """Walk an MP3's leading ID3v2.3/2.4 tag (id3.org public spec):
    10-byte header with syncsafe tag size, frames of [id(4), size(4 —
    syncsafe in v2.4, plain in v2.3), flags(2), payload]. Yields
    (frame_id bytes, body bytes); yields nothing when no ID3v2 tag
    leads the payload; raises ValueError on a malformed tag
    (truncation, non-syncsafe size bytes). Shared by the TEXT-frame
    and APIC readers."""
    if p[:3] != b"ID3":
        return
    if len(p) < 10:
        raise ValueError("id3: truncated header")
    ver = p[3]
    size = 0
    for b in p[6:10]:
        if b & 0x80:
            raise ValueError("id3: size byte not syncsafe")
        size = (size << 7) | b
    end = 10 + size
    if end > len(p):
        raise ValueError("id3: tag exceeds payload")
    i = 10
    if p[5] & 0x40:  # extended header present
        ext = int.from_bytes(p[10:14], "big")
        if ver == 4:  # syncsafe in v2.4
            ext = ((ext >> 24) << 21) | (((ext >> 16) & 0x7F) << 14) | (
                ((ext >> 8) & 0x7F) << 7) | (ext & 0x7F)
            i = 10 + ext  # v2.4 ext size INCLUDES itself
        else:
            i = 14 + ext  # v2.3 ext size excludes the 4 size bytes
    while i + 10 <= end:
        fid = p[i : i + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw = int.from_bytes(p[i + 4 : i + 8], "big")
        if ver == 4:
            if any(b & 0x80 for b in p[i + 4 : i + 8]):
                raise ValueError("id3v2.4: frame size not syncsafe")
            fsize = ((raw >> 24) << 21) | (((raw >> 16) & 0x7F) << 14) | (
                ((raw >> 8) & 0x7F) << 7) | (raw & 0x7F)
        else:
            fsize = raw
        body_start = i + 10
        if body_start + fsize > end:
            raise ValueError(f"id3: frame {fid!r} exceeds tag")
        yield fid, p[body_start : body_start + fsize]
        i = body_start + fsize


def _id3v2_frames(p: bytes) -> dict:
    """Read ID3v2.3/2.4 TEXT frames (payload = encoding byte + text;
    encodings 0 latin-1 / 1 utf-16-BOM / 2 utf-16be / 3 utf-8 all
    decode; trailing NULs strip). Returns {frame_id: text}; {} when no
    tag; ValueError on malformed tags (see _id3v2_raw_frames)."""
    out: dict[str, str] = {}
    for fid, body in _id3v2_raw_frames(p):
        if fid.startswith(b"T") and len(body) >= 1:
            enc = body[0]
            data = body[1:]
            if enc == 0:
                text = data.decode("latin-1")
            elif enc == 1:
                text = data.decode("utf-16")  # BOM-led
            elif enc == 2:
                text = data.decode("utf-16-be")
            elif enc == 3:
                text = data.decode("utf-8")
            else:
                raise ValueError(f"id3: unknown text encoding {enc}")
            out[fid.decode("ascii")] = text.rstrip("\x00")
    return out


def _id3v2_apic(p: bytes):
    """First APIC (attached picture, id3.org §4.14) frame's embedded
    image bytes, or None when the payload has no tag / no APIC. APIC
    body = encoding(1) + mime(NUL-terminated latin-1) + picture
    type(1) + description (NUL-terminated per encoding — double NUL
    for the utf-16 forms) + image data. Malformed APIC bodies raise
    ValueError like any other tag corruption."""
    for fid, body in _id3v2_raw_frames(p):
        if fid != b"APIC":
            continue
        try:
            enc = body[0]
            j = body.index(b"\x00", 1) + 1  # mime terminator
            j += 1  # picture type byte
            if enc in (1, 2):  # utf-16 description ends at double NUL
                while body[j : j + 2] != b"\x00\x00":
                    if j + 2 > len(body):
                        raise ValueError
                    j += 2
                j += 2
            else:
                j = body.index(b"\x00", j) + 1
        except (IndexError, ValueError):
            raise ValueError("id3: malformed APIC frame") from None
        return bytes(body[j:])
    return None


def _id3v2_build(
    frames: dict, ver: int = 4, pad: int = 0, apic: bytes | None = None
) -> bytes:
    """Fixture-side ID3v2.3/2.4 writer (utf-8 text frames for v2.4,
    utf-16-BOM for v2.3 — exercising both size forms and encodings;
    ``apic`` embeds an attached-picture frame: latin-1 'image/png'
    mime, picture type 3 = front cover, 'cover' description)."""
    body = b""
    for fid, text in frames.items():
        if ver == 4:
            payload = b"\x03" + text.encode("utf-8")
            n = len(payload)
            size = bytes(
                [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
            )
        else:
            payload = b"\x01\xff\xfe" + text.encode("utf-16-le")
            size = len(payload).to_bytes(4, "big")
        body += fid.encode("ascii") + size + b"\x00\x00" + payload
    if apic is not None:
        payload = b"\x00image/png\x00\x03cover\x00" + apic
        n = len(payload)
        if ver == 4:
            size = bytes(
                [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
            )
        else:
            size = n.to_bytes(4, "big")
        body += b"APIC" + size + b"\x00\x00" + payload
    body += b"\x00" * pad
    n = len(body)
    ssize = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3" + bytes([ver, 0, 0]) + ssize + body


def mp3_id3_tags(media: DataFrame) -> DataFrame:
    """Typed tag columns (title TIT2 / artist TPE1 / album TALB) from
    MP3 payloads' leading ID3v2 tags — the library-metadata tier next
    to audio_container_meta's codec tier. Missing tags/frames yield
    empty strings; malformed tags take the bad-record row."""
    schema = "media_id long, title string, artist string, album string, ok boolean"

    def walk(p: bytes):
        fr = _id3v2_frames(p)
        return [(fr.get("TIT2", ""), fr.get("TPE1", ""), fr.get("TALB", ""), True)]

    return map_payloads(media, walk, [("", "", "", False)], schema)


def id3_album_art(media: DataFrame) -> DataFrame:
    """Extract embedded album art from MP3 payloads' ID3v2 APIC
    frames (id3.org §4.14) as a binary column — the bridge from the
    audio-library tier into the IMAGE pipeline: extracted art feeds
    decode_to_rgb / image_dhash / pixel dedup unchanged, so cover-art
    near-dup detection is a composition, not a new code path. Output
    (media_id, art, ok): art NULL when the payload has no tag or no
    APIC frame; ok=false on malformed tags (bad-record policy — one
    corrupt file must not kill a corpus pass)."""
    schema = "media_id long, art binary, ok boolean"

    return map_payloads(
        media, lambda p: [(_id3v2_apic(p), True)], [(None, False)], schema
    )


# --- image: JPEG EXIF (APP1 / TIFF-IFD) metadata walk --------------------------
# Public framings only: JFIF/JPEG marker segments (ITU T.81 §B), the
# EXIF APP1 payload = "Exif\0\0" + a TIFF 6.0 byte stream (Adobe 1992
# §2 both-endian IFDs — the same structure _tiff_decode walks), tag
# ids per the EXIF 2.32 specification (CIPA DC-008). This is the
# camera/orientation/timestamp tier a media-curation pipeline mines
# WITHOUT decoding one pixel.

_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _exif_ifd(entries, e: str, ifd_off: int, next_ifd: int = 0) -> bytes:
    """Serialize one IFD at absolute TIFF offset ``ifd_off``:
    ``entries`` = [(tag, typ, count, payload_bytes)], sorted by tag
    per TIFF 6.0; values wider than 4 bytes land in a heap directly
    after the next-IFD pointer."""
    import struct

    entries = sorted(entries)
    heap_off = ifd_off + 2 + 12 * len(entries) + 4
    head = struct.pack(f"{e}H", len(entries))
    heap = b""
    for tag, typ, count, payload in entries:
        if len(payload) <= 4:
            raw = payload.ljust(4, b"\x00")
        else:
            raw = struct.pack(f"{e}I", heap_off + len(heap))
            heap += payload
        head += struct.pack(f"{e}HHI", tag, typ, count) + raw
    return head + struct.pack(f"{e}I", next_ifd) + heap


def _exif_app1(
    make: str,
    model: str,
    orientation: int,
    datetime_str: str,
    exposure: tuple[int, int],
    fnumber: tuple[int, int],
    iso: int,
    pix_x: int,
    pix_y: int,
    big_endian: bool = False,
) -> bytes:
    """Encode a complete EXIF APP1 segment (marker + length +
    "Exif\\0\\0" + TIFF stream with IFD0 and the Exif sub-IFD) — the
    fixture-side encoder for the metadata walk."""
    import struct

    e = ">" if big_endian else "<"
    bo = b"MM" if big_endian else b"II"

    def ascii_entry(tag, s):
        b = s.encode("ascii") + b"\x00"
        return (tag, 2, len(b), b)

    def short_entry(tag, v):
        return (tag, 3, 1, struct.pack(f"{e}H", v))

    def long_entry(tag, v):
        return (tag, 4, 1, struct.pack(f"{e}I", v))

    def rational_entry(tag, num, den):
        return (tag, 5, 1, struct.pack(f"{e}II", num, den))

    ifd0_entries = [
        ascii_entry(0x010F, make),
        ascii_entry(0x0110, model),
        short_entry(0x0112, orientation),
        ascii_entry(0x0132, datetime_str),
        long_entry(0x8769, 0),  # placeholder, patched below
    ]
    # IFD0's serialized size is independent of the pointer VALUE, so
    # the sub-IFD offset is computable before the final pass
    ifd0_probe = _exif_ifd(ifd0_entries, e, 8)
    sub_off = 8 + len(ifd0_probe)
    ifd0_entries[-1] = long_entry(0x8769, sub_off)
    ifd0 = _exif_ifd(ifd0_entries, e, 8)
    sub = _exif_ifd(
        [
            rational_entry(0x829A, *exposure),
            rational_entry(0x829D, *fnumber),
            short_entry(0x8827, iso),
            long_entry(0xA002, pix_x),
            long_entry(0xA003, pix_y),
        ],
        e,
        sub_off,
    )
    tiff = bo + struct.pack(f"{e}HI", 42, 8) + ifd0 + sub
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def _exif_meta(p: bytes) -> dict:
    """Walk a JPEG's marker segments to the EXIF APP1 and parse the
    TIFF stream inside (both endians): IFD0 carries Make/Model/
    Orientation/DateTime and the 0x8769 pointer to the Exif sub-IFD
    (ExposureTime, FNumber, ISO, PixelX/YDimension). Strict: a
    non-JPEG stream, missing APP1, bad byte-order mark, or truncated
    IFD raises ValueError — not-EXIF vs EXIF must be deterministic."""
    import struct

    if len(p) < 4 or p[:2] != b"\xff\xd8":
        raise ValueError("exif: not a JPEG stream (no SOI)")
    i, seg = 2, None
    while i + 4 <= len(p):
        if p[i] != 0xFF:
            raise ValueError(f"exif: bad marker byte at {i}")
        m = p[i + 1]
        if m in (0xD9, 0xDA):  # EOI / SOS — entropy data follows, stop
            break
        (ln,) = struct.unpack(">H", p[i + 2 : i + 4])
        if ln < 2 or i + 2 + ln > len(p):
            raise ValueError("exif: truncated marker segment")
        if m == 0xE1 and p[i + 4 : i + 10] == b"Exif\x00\x00":
            seg = p[i + 10 : i + 2 + ln]
            break
        i += 2 + ln
    if seg is None:
        raise ValueError("exif: no EXIF APP1 segment")
    t = seg
    if len(t) < 8 or t[:2] not in (b"II", b"MM"):
        raise ValueError("exif: bad TIFF byte-order mark")
    e = "<" if t[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack(f"{e}HI", t[2:8])
    if magic != 42:
        raise ValueError(f"exif: bad TIFF magic {magic}")

    def read_ifd(off: int) -> dict:
        if off + 2 > len(t):
            raise ValueError("exif: IFD offset out of range")
        (n,) = struct.unpack(f"{e}H", t[off : off + 2])
        if off + 2 + 12 * n + 4 > len(t):
            raise ValueError("exif: truncated IFD")
        tags = {}
        for k in range(n):
            base = off + 2 + 12 * k
            tag, typ, count = struct.unpack(f"{e}HHI", t[base : base + 8])
            if typ not in _EXIF_TYPE_SIZE:
                raise ValueError(f"exif: unsupported type {typ}")
            total = _EXIF_TYPE_SIZE[typ] * count
            raw = t[base + 8 : base + 12]
            if total > 4:
                (voff,) = struct.unpack(f"{e}I", raw)
                raw = t[voff : voff + total]
                if len(raw) != total:
                    raise ValueError("exif: tag value out of range")
            else:
                raw = raw[:total]
            tags[tag] = (typ, count, raw)
        return tags

    def ascii_val(tags, tag):
        typ, _count, raw = tags[tag]
        if typ != 2:
            raise ValueError(f"exif: tag {tag:#x} not ASCII")
        return raw.rstrip(b"\x00").decode("ascii", errors="replace")

    def int_val(tags, tag):
        typ, _count, raw = tags[tag]
        if typ == 3:
            return struct.unpack(f"{e}H", raw[:2])[0]
        if typ == 4:
            return struct.unpack(f"{e}I", raw[:4])[0]
        raise ValueError(f"exif: tag {tag:#x} not integer")

    def rational_val(tags, tag):
        typ, _count, raw = tags[tag]
        if typ != 5:
            raise ValueError(f"exif: tag {tag:#x} not RATIONAL")
        return struct.unpack(f"{e}II", raw)

    ifd0 = read_ifd(ifd_off)
    for req in (0x010F, 0x0110, 0x0112, 0x0132, 0x8769):
        if req not in ifd0:
            raise ValueError(f"exif: missing IFD0 tag {req:#x}")
    sub = read_ifd(int_val(ifd0, 0x8769))
    for req in (0x829A, 0x829D, 0x8827, 0xA002, 0xA003):
        if req not in sub:
            raise ValueError(f"exif: missing Exif-IFD tag {req:#x}")
    exp = rational_val(sub, 0x829A)
    fnum = rational_val(sub, 0x829D)
    return {
        "endian": "MM" if e == ">" else "II",
        "make": ascii_val(ifd0, 0x010F),
        "model": ascii_val(ifd0, 0x0110),
        "orientation": int_val(ifd0, 0x0112),
        "datetime": ascii_val(ifd0, 0x0132),
        "exposure_num": exp[0],
        "exposure_den": exp[1],
        "fnumber_num": fnum[0],
        "fnumber_den": fnum[1],
        "iso": int_val(sub, 0x8827),
        "pix_x": int_val(sub, 0xA002),
        "pix_y": int_val(sub, 0xA003),
    }


def image_exif_meta(media: DataFrame) -> DataFrame:
    """Typed camera metadata columns from JPEG EXIF APP1 segments, no
    pixel decode anywhere (the exiftool tier beside the container
    walks): Arrow-batched marker walk + both-endian TIFF-IFD parse;
    malformed payloads take the bad-record path (endian='bad', zeros/
    empties) so one corrupt file never kills a 100 TB walk. ~100-byte
    rows shuffle; JPEG bytes stay inside the batch."""
    schema = (
        "media_id long, endian string, make string, model string, "
        "orientation long, datetime string, exposure_num long, "
        "exposure_den long, fnumber_num long, fnumber_den long, "
        "iso long, pix_x long, pix_y long"
    )
    return map_payloads(
        media,
        lambda p: [tuple(_exif_meta(p).values())],
        [("bad", "", "", 0, "", 0, 0, 0, 0, 0, 0, 0)],
        schema,
    )
