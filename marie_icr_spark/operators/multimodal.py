"""Multimodal asset plumbing: opaque binary columns + typed metadata.

The reference loads page images as ndarray frames
(``marie/utils/docs.py:372-380``) and pushes them through GPU operators. At
100 TB the Spark-side contract is: media stays an opaque ``binary`` column
with typed metadata; pixel stats / per-page stats / resize run as
Arrow-batched ``mapInPandas`` stages (``media_pixel_stats``,
``tiff_page_stats``, ``resize_media``).

Pixel decode dispatches on container magic (``_rgb_image``). REAL
pure-stdlib decoders cover:

* PPM (P6)  — full header + raw pixel access
* PNG       — full pixel decode for 8-bit non-interlaced gray/RGB/RGBA
              (stdlib zlib inflate + spec unfiltering,
              ``decode_png_pixels``)
* JPEG      — full baseline pixel decode (``decode_jpeg_pixels``: Huffman
              → dequant → orthonormal IDCT → chroma upsample → YCbCr→RGB;
              SOF0/SOF1, any standard sampling, restart intervals)
* TIFF      — full pixel decode for baseline strips: uncompressed,
              PackBits, and CCITT Group-4 bilevel (``operators.tiffio``,
              the reference's archival scan format —
              marie/utils/docs.py:372-380, extract_pipeline.py:594-604)

Every other container (video codecs would need ffmpeg), PNG variants
outside the supported set (16-bit, palette, Adam7) and JPEG variants
outside baseline (progressive, arithmetic, 16-bit quant) fail open as
ok=False rows.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("media_type", T.StringType()),  # image/audio/video
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def parse_ppm_header(content: bytes) -> tuple[int, int, int, int] | None:
    """P6 header → (width, height, maxval, pixel_data_offset); None if not
    a valid binary PPM. Handles comments and arbitrary whitespace."""
    if content[:2] != b"P6":
        return None
    fields: list[int] = []
    i = 2
    n = len(content)
    while len(fields) < 3 and i < n:
        c = content[i : i + 1]
        if c == b"#":
            nl = content.find(b"\n", i)
            i = n if nl == -1 else nl + 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < n and content[j : j + 1].isdigit():
                j += 1
            fields.append(int(content[i:j]))
            i = j
        else:
            return None
    if len(fields) < 3 or i >= n or not content[i : i + 1].isspace():
        return None
    return fields[0], fields[1], fields[2], i + 1


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("min_lum", T.IntegerType()),
        T.StructField("max_lum", T.IntegerType()),
    ]
)


def media_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL pixel-level feature extraction for decodable bitmap assets —
    raw PPM (P6), 8-bit non-interlaced PNG (full stdlib-zlib inflate +
    spec unfiltering, :func:`decode_png_pixels`), and baseline
    Huffman-coded JPEG (:func:`decode_jpeg_pixels` via :func:`_rgb_pixels`),
    and baseline TIFF (first page; ``operators.tiffio``): per-channel means
    and integer luminance range, numpy over the decoded buffer inside
    Arrow-batched mapInPandas. Other containers emit ok=False."""

    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                px = _rgb_pixels(bytes(content)) if content is not None else None
                if px is None:
                    rows.append((aid, False, 0.0, 0.0, 0.0, 0, 0))
                    continue
                # integer luminance (ITU-R 601 in fixed point, exact)
                lum = (
                    299 * px[:, 0].astype(np.int64)
                    + 587 * px[:, 1].astype(np.int64)
                    + 114 * px[:, 2].astype(np.int64)
                ) // 1000
                rows.append(
                    (
                        aid, True,
                        float(px[:, 0].mean()), float(px[:, 1].mean()),
                        float(px[:, 2].mean()),
                        int(lum.min()), int(lum.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "ok", "mean_r", "mean_g", "mean_b",
                    "min_lum", "max_lum",
                ],
            )

    return df.select("asset_id", "content").mapInPandas(
        run, schema=PIXEL_STATS_SCHEMA
    )


TIFF_PAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("min_lum", T.IntegerType()),
        T.StructField("max_lum", T.IntegerType()),
    ]
)


def tiff_page_stats(df: DataFrame) -> DataFrame:
    """Per-page pixel stats for multi-page TIFF assets — the frame-per-page
    shape of the reference's ``cv2.imreadmulti`` loader
    (marie/utils/docs.py:224) as a data-dependent fan-out: one input asset
    row → one row per decoded page, with exact integer channel sums and
    luminance range (all integer math, cross-engine exact).

    Undecodable assets fail open as a single (page=-1, ok=False) row."""

    import numpy as np

    from . import tiffio

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf["asset_id"], pdf["content"]):
                try:
                    frames = tiffio.decode_tiff_frames(bytes(content))
                except (ValueError, TypeError):
                    rows.append((aid, -1, False, 0, 0, 0, 0, 0, 0, 0))
                    continue
                for k, (w, h, rgb) in enumerate(frames):
                    px = np.frombuffer(rgb, np.uint8).reshape(-1, 3)
                    ch = px.astype(np.int64)
                    lum = (
                        299 * ch[:, 0] + 587 * ch[:, 1] + 114 * ch[:, 2]
                    ) // 1000
                    rows.append(
                        (
                            aid, k, True, w, h,
                            int(ch[:, 0].sum()), int(ch[:, 1].sum()),
                            int(ch[:, 2].sum()),
                            int(lum.min()), int(lum.max()),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              TIFF_PAGE_STATS_SCHEMA.fields])

    return df.select("asset_id", "content").mapInPandas(
        run, schema=TIFF_PAGE_STATS_SCHEMA
    )


def label_components_4(img) -> int:
    """Count 4-connected components of a 0/1 bilevel array.

    From-scratch transposition of the CC pass in the reference's
    character-width estimator (marie/boxes/box_processor.py:97-100,
    ``cv2.connectedComponentsWithStats(..., connectivity=4)``): per-row
    runs of foreground pixels are provisional labels; union-find merges
    runs that overlap column-wise with runs of the previous row. Cost is
    O(runs α(runs)) — runs, not pixels, so sparse text rasters are cheap.
    """
    import numpy as np

    img = np.asarray(img)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    h, w = img.shape
    if h == 0 or w == 0:
        return 0
    fg = (img != 0).astype(np.int8)
    # run boundaries for ALL rows in one pass (zero-padded column diff)
    pad = np.zeros((h, w + 2), np.int8)
    pad[:, 1:-1] = fg
    d = pad[:, 1:] - pad[:, :-1]
    ys, xs_s = np.nonzero(d == 1)
    ys_e, xs_e = np.nonzero(d == -1)  # same ys, aligned run-for-run
    row_split = np.searchsorted(ys, np.arange(1, h))
    starts_per_row = np.split(xs_s, row_split)
    ends_per_row = np.split(xs_e, np.searchsorted(ys_e, np.arange(1, h)))
    # a row identical to its predecessor repeats its runs and merges each
    # run with the aligned previous run only (runs within a row are
    # separated by >= 1 background pixel, so no cross-run overlap): the
    # would-be fresh labels all join existing roots and can never become
    # roots themselves, so reusing `prev` unchanged preserves the count
    eq_prev = np.zeros(h, dtype=bool)
    if h > 1:
        eq_prev[1:] = (fg[1:] == fg[:-1]).all(axis=1)

    prev: list[tuple[int, int, int]] = []  # (start, end, label) sorted
    for y in range(h):
        if eq_prev[y]:
            continue
        cur: list[tuple[int, int, int]] = []
        j = 0
        for s, e in zip(starts_per_row[y].tolist(), ends_per_row[y].tolist()):
            lbl = len(parent)
            parent.append(lbl)
            # merge with all prev-row runs overlapping [s, e)
            while j < len(prev) and prev[j][1] <= s:
                j += 1
            k = j
            while k < len(prev) and prev[k][0] < e:
                union(lbl, prev[k][2])
                k += 1
            cur.append((s, e, lbl))
        prev = cur
    return sum(1 for i, p in enumerate(parent) if find(i) == i)


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Test-fixture encoder: binary PPM (P6, maxval 255)."""
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


# -- PNG pixel decode (pure stdlib: zlib inflate + spec unfiltering) --------
#
# Covers the most common container for real (reference loader parity:
# marie/utils/docs.py:372-380): 8-bit depth, color types 0 (gray),
# 2 (RGB), 4 (gray+alpha), 6 (RGBA), interlace 0. Everything else
# (16-bit, palette, Adam7) stays fail-open — decode_png_pixels returns
# None and the caller emits ok=False.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_scanlines(raw: bytes, h: int, stride: int, bpp: int) -> bytearray | None:
    """Reverse the per-scanline filters of the PNG spec (types 0-4).

    Sub/Average/Paeth are inherently sequential per byte — a plain loop over
    the (small) scanline; Up/None stay whole-row ops. Returns the
    concatenated unfiltered rows, or None on a malformed stream.
    """
    if len(raw) < h * (1 + stride):
        return None
    out = bytearray(h * stride)
    pos = 0
    for y in range(h):
        ft = raw[pos]
        pos += 1
        row = raw[pos : pos + stride]
        pos += stride
        obase = y * stride
        pbase = obase - stride
        if ft == 0:  # None
            out[obase : obase + stride] = row
        elif ft == 1:  # Sub
            for i in range(stride):
                left = out[obase + i - bpp] if i >= bpp else 0
                out[obase + i] = (row[i] + left) & 0xFF
        elif ft == 2:  # Up
            if y == 0:
                out[obase : obase + stride] = row
            else:
                for i in range(stride):
                    out[obase + i] = (row[i] + out[pbase + i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                left = out[obase + i - bpp] if i >= bpp else 0
                up = out[pbase + i] if y > 0 else 0
                out[obase + i] = (row[i] + ((left + up) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                left = out[obase + i - bpp] if i >= bpp else 0
                up = out[pbase + i] if y > 0 else 0
                ul = out[pbase + i - bpp] if (y > 0 and i >= bpp) else 0
                out[obase + i] = (row[i] + _paeth(left, up, ul)) & 0xFF
        else:
            return None
    return out


def decode_png_pixels(content: bytes):
    """PNG → (height, width, channels) uint8 ndarray, or None if the stream
    is malformed or uses an unsupported variant (16-bit, palette, Adam7)."""
    import zlib

    import numpy as np

    if content[: len(_PNG_SIG)] != _PNG_SIG or len(content) < 33:
        return None
    pos = len(_PNG_SIG)
    w = h = None
    channels = 0
    idat = bytearray()
    n = len(content)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data_at = pos + 8
        if data_at + length + 4 > n:
            return None  # truncated chunk
        if ctype == b"IHDR":
            if length < 13:
                return None
            w, h = struct.unpack_from(">II", content, data_at)
            depth = content[data_at + 8]
            color = content[data_at + 9]
            interlace = content[data_at + 12]
            if depth != 8 or color not in _PNG_CHANNELS or interlace != 0:
                return None
            channels = _PNG_CHANNELS[color]
        elif ctype == b"IDAT":
            idat += content[data_at : data_at + length]
        elif ctype == b"IEND":
            break
        pos = data_at + length + 4  # skip data + CRC
    if not idat or not w or not h or w <= 0 or h <= 0:
        return None
    stride = w * channels
    expected = h * (1 + stride)
    # bound BEFORE inflating: a small crafted zlib-bomb IDAT could
    # otherwise expand to gigabytes on an executor before being rejected.
    # 256 MB of raw scanlines (~8k x 8k RGBA) is far beyond any sane
    # asset thumbnail; declared dims above it are hostile or corrupt.
    if expected > 256 * 1024 * 1024:
        return None
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected)
        # stream must end exactly at the declared size: trailing
        # compressed input means the declared dims understate the payload
        if dec.unconsumed_tail or dec.decompress(b"", 1):
            return None
    except zlib.error:
        return None
    flat = _unfilter_scanlines(raw, h, stride, channels)
    if flat is None:
        return None
    return np.frombuffer(bytes(flat), dtype=np.uint8).reshape(h, w, channels)


def encode_png(width: int, height: int, pixels: bytes,
               filter_type: int = 0, color_type: int = 2) -> bytes:
    """Test-fixture encoder: 8-bit non-interlaced PNG with every scanline
    filtered as ``filter_type`` (0-4) — lets tests exercise each unfilter
    branch against known pixels."""
    import zlib

    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    assert len(pixels) == height * stride

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    prev = bytes(stride)
    scan = bytearray()
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        scan.append(filter_type)
        if filter_type == 0:
            scan += row
        elif filter_type == 1:  # Sub
            cur = bytearray()
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                cur.append((row[i] - left) & 0xFF)
            scan += cur
        elif filter_type == 2:  # Up
            scan += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:  # Average
            cur = bytearray()
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                cur.append((row[i] - ((left + prev[i]) >> 1)) & 0xFF)
            scan += cur
        elif filter_type == 4:  # Paeth
            cur = bytearray()
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                ul = prev[i - channels] if i >= channels else 0
                cur.append((row[i] - _paeth(left, prev[i], ul)) & 0xFF)
            scan += cur
        else:
            raise ValueError(f"bad filter type {filter_type}")
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(scan)))
        + chunk(b"IEND", b"")
    )


def _rgb_pixels(content: bytes):
    """(n, 3) uint8 RGB matrix from a PPM or decodable PNG; None otherwise
    (flattened view of :func:`_rgb_image` — one decode/normalize policy)."""
    img = _rgb_image(content)
    return None if img is None else img.reshape(-1, 3)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _rgb_image(content: bytes):
    """(height, width, 3) uint8 RGB array from a PPM, decodable PNG, or
    baseline JPEG; None otherwise (same coverage as :func:`_rgb_pixels`,
    dims kept)."""
    import numpy as np

    hdr = parse_ppm_header(content)
    if hdr is not None:
        w, h, mx, off = hdr
        if mx > 255:  # 2-byte samples — fail open, not garbage pixels
            return None
        need = w * h * 3
        buf = content[off : off + need]
        if len(buf) < need or need == 0:
            return None
        return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)
    px = None
    if content[: len(_PNG_SIG)] == _PNG_SIG:
        px = decode_png_pixels(content)
    elif content[:2] == b"\xff\xd8":
        px = decode_jpeg_pixels(content)
    elif content[:4] in (b"II*\x00", b"MM\x00*"):
        from . import tiffio

        try:
            frames = tiffio.decode_tiff_frames(content, max_pages=1)
        except ValueError:
            return None
        if not frames:
            return None
        w, h, rgb = frames[0]
        px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
    if px is None or px.size == 0:
        return None
    if px.shape[2] >= 3:
        return px[:, :, :3]
    return np.repeat(px[:, :, :1], 3, axis=2)


def resize_media(
    df: DataFrame, target_w: int, target_h: int, fail_open: bool = True
) -> DataFrame:
    """Nearest-neighbor resize for decodable bitmap assets (PPM / 8-bit
    PNG), re-encoded as canonical PPM (P6).

    Pinned integer sampling — target pixel (x, y) reads source
    ``(x·src_w // target_w, y·src_h // target_h)`` — so the resize is
    bit-deterministic and SQL-replayable (the ``resize_pixel_stats``
    oracle recomputes the mapped coordinates in DuckDB). The resample is
    two numpy index gathers inside Arrow-batched mapInPandas; assets whose
    pixels can't be decoded (compressed codecs without a stdlib path) pass
    through unchanged with ok=False — the same fail-open contract as
    :func:`media_pixel_stats`.

    Output: (asset_id, media_type, ok, width, height, content).
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, mt, content in zip(
                pdf["asset_id"], pdf["media_type"], pdf["content"]
            ):
                img = (
                    _rgb_image(bytes(content)) if content is not None else None
                )
                if img is None:
                    if not fail_open:
                        raise ValueError(f"undecodable asset {aid!r}")
                    rows.append((aid, mt, False, 0, 0, content))
                    continue
                sh, sw = img.shape[:2]
                xs = (np.arange(target_w, dtype=np.int64) * sw) // target_w
                ys = (np.arange(target_h, dtype=np.int64) * sh) // target_h
                resized = img[ys][:, xs]
                rows.append(
                    (
                        aid, mt, True, target_w, target_h,
                        encode_ppm(target_w, target_h, resized.tobytes()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "media_type", "ok", "width", "height",
                    "content",
                ],
            )

    return df.select("asset_id", "media_type", "content").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


# ---------------------------------------------------------------------------
# Baseline JPEG pixel decode (pure stdlib+numpy). Scope:
# baseline/extended-sequential Huffman (SOF0/SOF1), 8-bit samples,
# interleaved single scan, grayscale or YCbCr with any standard sampling
# (4:4:4 / 4:2:2 / 4:2:0), restart intervals. Progressive (SOF2),
# arithmetic coding, 16-bit quant tables and hierarchical streams return
# None — the documented fail-open path (the reference delegates this to
# PIL, marie/utils/docs.py:372-380; at cluster scale a native codec slots
# into the same function).
# ---------------------------------------------------------------------------

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_basis():
    import math

    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        c = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for k in range(8):
            a[u, k] = (c / 2.0) * math.cos((2 * k + 1) * u * math.pi / 16.0)
    return a


class _HuffTable:
    """Canonical JPEG Huffman table: (length, code) → symbol."""

    __slots__ = ("lut",)

    def __init__(self, bits: bytes, vals: bytes):
        self.lut = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                self.lut[(ln, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """Entropy-coded segment reader: un-stuffs 0xFF00, stops at markers."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn inside _fill = decoder bug
                raise ValueError("unexpected RST")
            else:
                raise ValueError("marker in entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: _HuffTable) -> int:
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lut.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")

    def align_restart(self):
        """Byte-align and consume one RSTn marker."""
        self.nbits = 0
        d = self.data
        # tolerate fill bytes before the marker
        while d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("missing RST marker")
        self.pos += 2


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg_pixels(content: bytes):
    """Baseline JPEG → (height, width, channels) uint8 ndarray (channels 1
    for grayscale, 3 for YCbCr→RGB), or None for malformed/unsupported
    streams (progressive, arithmetic, 16-bit quant)."""
    import numpy as np

    try:
        if content[:2] != b"\xff\xd8":
            return None
        data = bytes(content)
        n = len(data)
        qt: dict[int, list[int]] = {}
        huff_dc: dict[int, _HuffTable] = {}
        huff_ac: dict[int, _HuffTable] = {}
        frame = None  # (w, h, comps) comps: (cid, hs, vs, tq)
        restart = 0
        i = 2
        while i + 4 <= n:
            if data[i] != 0xFF:
                return None
            # The spec allows any number of 0xFF fill bytes before a
            # marker byte — skip them or the next byte parses as a
            # garbage segment length.
            while i + 1 < n and data[i + 1] == 0xFF:
                i += 1
            if i + 4 > n:
                return None
            marker = data[i + 1]
            if marker == 0xD9:  # EOI
                return None  # no scan seen
            seg = struct.unpack_from(">H", data, i + 2)[0]
            body = data[i + 4 : i + 2 + seg]
            if marker == 0xDB:  # DQT
                p = 0
                while p < len(body):
                    pq, tq = body[p] >> 4, body[p] & 0xF
                    if pq != 0:
                        return None  # 16-bit table
                    qt[tq] = list(body[p + 1 : p + 65])
                    p += 65
            elif marker == 0xC4:  # DHT
                p = 0
                while p + 17 <= len(body):
                    tc, th = body[p] >> 4, body[p] & 0xF
                    bits = body[p + 1 : p + 17]
                    cnt = sum(bits)
                    vals = body[p + 17 : p + 17 + cnt]
                    (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(
                        bits, vals
                    )
                    p += 17 + cnt
            elif marker in (0xC0, 0xC1):  # SOF0/1: baseline/ext sequential
                if body[0] != 8:
                    return None
                h, w = struct.unpack_from(">HH", body, 1)
                nc = body[5]
                comps = []
                for c in range(nc):
                    cid = body[6 + 3 * c]
                    hv = body[7 + 3 * c]
                    comps.append((cid, hv >> 4, hv & 0xF, body[8 + 3 * c]))
                frame = (w, h, comps)
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                return None  # progressive / arithmetic / hierarchical
            elif marker == 0xDD:  # DRI
                restart = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xDA:  # SOS
                if frame is None:
                    return None
                w, h, comps = frame
                ns = body[0]
                sel = {}
                for s in range(ns):
                    cs = body[1 + 2 * s]
                    td, ta = body[2 + 2 * s] >> 4, body[2 + 2 * s] & 0xF
                    sel[cs] = (td, ta)
                if {c[0] for c in comps} != set(sel):
                    return None  # multi-scan not supported
                return _decode_scan(
                    data, i + 2 + seg, w, h, comps, sel, qt,
                    huff_dc, huff_ac, restart, np,
                )
            i += 2 + seg
        return None
    except (ValueError, IndexError, KeyError, struct.error):
        return None


def _decode_scan(data, pos, w, h, comps, sel, qt, huff_dc, huff_ac,
                 restart, np):
    basis = _idct_basis()
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for cid, hs, vs, _tq in comps:
        planes[cid] = np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.int32)
    rd = _BitReader(data, pos)
    pred = {c[0]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_count and mcu_count % restart == 0:
                rd.align_restart()
                pred = {c[0]: 0 for c in comps}
            for cid, hs, vs, tq in comps:
                dct, act = sel[cid]
                q = qt[tq]
                for by in range(vs):
                    for bx in range(hs):
                        blk = np.zeros(64, dtype=np.int64)
                        size = rd.decode(huff_dc[dct])
                        diff = (
                            _extend(rd.read_bits(size), size) if size else 0
                        )
                        pred[cid] += diff
                        blk[0] = pred[cid] * q[0]
                        k = 1
                        while k < 64:
                            rs = rd.decode(huff_ac[act])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC overflow")
                            blk[k] = _extend(rd.read_bits(s), s) * q[k]
                            k += 1
                        m = np.zeros((8, 8))
                        m.flat[_ZIGZAG] = blk
                        px = basis.T @ m @ basis + 128.0
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        # floor(x + .5): pinned half-UP rounding (libjpeg's
                        # descale), identical in SQL — no half-even ties
                        planes[cid][y0 : y0 + 8, x0 : x0 + 8] = np.clip(
                            np.floor(px + 0.5), 0, 255
                        ).astype(np.int32)
            mcu_count += 1
    # upsample to full resolution (pixel replication) and crop
    full = []
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        return full[0].astype(np.uint8)[:, :, None]
    if len(full) != 3:
        return None
    y, cb, cr = (f.astype(np.float64) for f in full)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


def encode_flat_jpeg(y: int, cb: int, cr: int) -> bytes:
    """Test-fixture/oracle encoder: one 8×8 4:4:4 baseline JPEG whose
    three components are FLAT at (y, cb, cr) — DC-only blocks under
    all-ones quant tables, so the decoded pixels are exactly
    clip(floor(channel + .5)) of the JFIF YCbCr→RGB formulas (the
    ``jpeg_pixel_stats`` oracle replays that math in SQL). Minimal
    canonical Huffman tables are emitted in the stream's own DHT."""
    dc_bits = [0, 0, 0, 12] + [0] * 12           # 12 DC sizes at length 4
    dc_vals = list(range(12))
    ac_bits = [0, 1] + [0] * 14                  # EOB alone, length 2
    ac_vals = [0x00]

    def codes(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                out[vals[k]] = (ln, code)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_code, ac_code = codes(dc_bits, dc_vals), codes(ac_bits, ac_vals)
    bitbuf: list[int] = []

    def put(value, n):
        for i in range(n - 1, -1, -1):
            bitbuf.append((value >> i) & 1)

    for v in (y, cb, cr):
        dc = 8 * (int(v) - 128)                  # orthonormal DCT of flat
        size = abs(dc).bit_length()
        ln, code = dc_code[size]
        put(code, ln)
        if size:
            put(dc if dc > 0 else dc + (1 << size) - 1, size)
        ln, code = ac_code[0x00]
        put(code, ln)                            # EOB
    while len(bitbuf) % 8:
        bitbuf.append(1)                         # 1-fill pad
    ent = bytearray()
    for i in range(0, len(bitbuf), 8):
        b = 0
        for bit in bitbuf[i : i + 8]:
            b = (b << 1) | bit
        ent.append(b)
        if b == 0xFF:
            ent.append(0x00)

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([3])
    for cid in (1, 2, 3):
        sof += bytes([cid, 0x11, 0])
    out += seg(0xC0, sof)
    dht = (
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals)
    )
    out += seg(0xC4, dht)
    sos = bytes([3]) + b"\x01\x00\x02\x00\x03\x00" + bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += ent
    out += b"\xff\xd9"
    return bytes(out)
