"""Multimodal plumbing: binary columns, Arrow batch shape, fail-open decode."""

import pytest

from marie_icr_spark.operators.multimodal import (
    ASSET_SCHEMA,
    encode_ppm,
    media_pixel_stats,
)


def test_pixel_stats_real_decode(spark):
    # 3x1: pure red, pure green, mid gray
    ppm = encode_ppm(3, 1, bytes([255, 0, 0, 0, 255, 0, 128, 128, 128]))
    df = spark.createDataFrame(
        [
            ("px-1", "image", ppm, {}),
            ("px-2", "image", b"\xff\xd8\xffxx", {}),
            ("bad-1", "image", b"\x89PNG\r\n\x1a\nnotreally", {}),  # truncated png
            ("bad-2", "image", b"xx", {}),  # truncated
            ("bad-3", "image", None, {}),
            ("unk-1", "video", b"GIF89a-no-decoder-here", {}),  # unknown magic
        ],
        schema=ASSET_SCHEMA,
    )
    out = {r["asset_id"]: r for r in media_pixel_stats(df).collect()}
    r = out["px-1"]
    assert r["ok"]
    assert r["mean_r"] == pytest.approx((255 + 0 + 128) / 3)
    assert r["mean_g"] == pytest.approx((0 + 255 + 128) / 3)
    assert r["mean_b"] == pytest.approx(128 / 3)
    # luminance: red=76, green=149, gray=128 (fixed-point 601)
    assert (r["min_lum"], r["max_lum"]) == (76, 149)
    assert not out["px-2"]["ok"]  # compressed bitmap: no pixel access
    # undecodable assets fail open: one ok=False row each, zeroed stats
    for aid in ("bad-1", "bad-2", "bad-3", "unk-1"):
        r = out[aid]
        assert not r["ok"], aid
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (0.0, 0.0, 0.0)
        assert (r["min_lum"], r["max_lum"]) == (0, 0)


# -- PNG pixel decode: stdlib zlib inflate + spec unfiltering ----------------

def _pattern_rgb(w, h, seed=3):
    return bytes(((seed * 7 + i * 11) % 256) for i in range(w * h * 3))


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_every_filter_type_roundtrips(ft):
    import numpy as np

    from marie_icr_spark.operators.multimodal import decode_png_pixels, encode_png

    w, h = 9, 5  # odd sizes exercise non-aligned strides
    pix = _pattern_rgb(w, h)
    png = encode_png(w, h, pix, filter_type=ft)
    out = decode_png_pixels(png)
    assert out is not None and out.shape == (h, w, 3)
    assert out.tobytes() == pix
    assert np.array_equal(
        out.reshape(-1, 3), np.frombuffer(pix, dtype=np.uint8).reshape(-1, 3)
    )


@pytest.mark.parametrize("color_type,channels", [(0, 1), (4, 2), (6, 4)])
def test_png_gray_and_alpha_variants(color_type, channels):
    from marie_icr_spark.operators.multimodal import decode_png_pixels, encode_png

    w, h = 4, 3
    pix = bytes((i * 13) % 256 for i in range(w * h * channels))
    png = encode_png(w, h, pix, filter_type=4, color_type=color_type)
    out = decode_png_pixels(png)
    assert out is not None and out.shape == (h, w, channels)
    assert out.tobytes() == pix


def test_png_fail_open_variants():
    from marie_icr_spark.operators.multimodal import decode_png_pixels, encode_png

    good = encode_png(4, 4, _pattern_rgb(4, 4))
    assert decode_png_pixels(good) is not None
    assert decode_png_pixels(good[:40]) is None          # truncated IDAT
    assert decode_png_pixels(b"\x89PNG\r\n\x1a\n" + b"x" * 30) is None
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF                                  # break the deflate
    assert decode_png_pixels(bytes(corrupt)) is None
    # 16-bit depth is out of scope → None (fail open), not garbage
    deep = bytearray(good)
    deep[24] = 16  # IHDR bit depth byte
    assert decode_png_pixels(bytes(deep)) is None


def test_pixel_stats_png_equals_ppm(spark):
    """Same pixels through PNG (Paeth-filtered) and PPM must give identical
    stats — certifies the inflate+unfilter path against the raw path."""
    from marie_icr_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_png,
        encode_ppm,
        media_pixel_stats,
    )

    w, h = 16, 8
    pix = _pattern_rgb(w, h, seed=9)
    df = spark.createDataFrame(
        [
            ("png-1", "image", bytearray(encode_png(w, h, pix, filter_type=4)), {}),
            ("ppm-1", "image", bytearray(encode_ppm(w, h, pix)), {}),
            ("jpg-x", "image", bytearray(b"\xff\xd8\xffjunk"), {}),
        ],
        ASSET_SCHEMA,
    )
    rows = {r["asset_id"]: r for r in media_pixel_stats(df).collect()}
    assert rows["png-1"]["ok"] and rows["ppm-1"]["ok"]
    for k in ("mean_r", "mean_g", "mean_b", "min_lum", "max_lum"):
        assert rows["png-1"][k] == rows["ppm-1"][k]
    assert not rows["jpg-x"]["ok"]


# -- nearest-neighbor resize --------------------------------------------------

def test_resize_media_exact_mapping(spark):
    """Pinned integer sampling: target (x,y) reads source (x·sw//tw, y·sh//th)."""
    import pandas as pd

    from marie_icr_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_ppm,
        parse_ppm_header,
        resize_media,
    )

    # 4x2 source, distinct pixel values
    src = bytes(range(4 * 2 * 3))
    assets = spark.createDataFrame(
        pd.DataFrame(
            [("a", "image", encode_ppm(4, 2, src), None)],
            columns=["asset_id", "media_type", "content", "meta"],
        ),
        schema=ASSET_SCHEMA,
    )
    row = resize_media(assets, 2, 1).collect()[0]
    assert (row["ok"], row["width"], row["height"]) == (True, 2, 1)
    w, h, _mx, off = parse_ppm_header(bytes(row["content"]))
    assert (w, h) == (2, 1)
    got = bytes(row["content"])[off:]
    # y=0 -> sy=0; x=0 -> sx=0, x=1 -> sx=2
    expect = src[0:3] + src[2 * 3 : 2 * 3 + 3]
    assert got == expect


def test_resize_media_png_input_and_upsample(spark):
    import pandas as pd

    from marie_icr_spark.operators.multimodal import (
        ASSET_SCHEMA,
        encode_png,
        parse_ppm_header,
        resize_media,
    )

    # 2x1 PNG: red | blue, upsampled to 4x2 replicates each pixel 2x2
    pix = bytes([255, 0, 0, 0, 0, 255])
    assets = spark.createDataFrame(
        pd.DataFrame(
            [("p", "image", encode_png(2, 1, pix), None)],
            columns=["asset_id", "media_type", "content", "meta"],
        ),
        schema=ASSET_SCHEMA,
    )
    row = resize_media(assets, 4, 2).collect()[0]
    assert row["ok"]
    _w, _h, _mx, off = parse_ppm_header(bytes(row["content"]))
    got = bytes(row["content"])[off:]
    red, blue = pix[0:3], pix[3:6]
    assert got == (red + red + blue + blue) * 2


def test_resize_media_fail_open_passthrough(spark):
    import pandas as pd

    from marie_icr_spark.operators.multimodal import ASSET_SCHEMA, resize_media

    junk = b"\xff\xd8\xff\xe0 not decodable"
    assets = spark.createDataFrame(
        pd.DataFrame(
            [("j", "image", junk, None)],
            columns=["asset_id", "media_type", "content", "meta"],
        ),
        schema=ASSET_SCHEMA,
    )
    row = resize_media(assets, 2, 2).collect()[0]
    assert not row["ok"]
    assert bytes(row["content"]) == junk  # untouched, fail-open


def test_tiff_through_media_pipeline(spark):
    """TIFF joins the decodable set: page count, dims and pixel stats
    through media_pixel_stats / tiff_page_stats over the real G4 decoder."""
    import numpy as np

    from marie_icr_spark.operators import tiffio as T
    from marie_icr_spark.operators.multimodal import tiff_page_stats

    img = np.zeros((8, 16), np.uint8)
    img[2:6, 4:12] = 1  # 32 black px of 128
    blob = T.encode_tiff(
        [
            dict(mode="bilevel", width=16, height=8, pixels=img,
                 compression=T.COMP_G4),
            dict(mode="gray", width=4, height=2,
                 pixels=bytes([10, 20, 30, 40, 50, 60, 70, 80])),
        ]
    )
    df = spark.createDataFrame(
        [("t-1", "image", blob, {}), ("t-2", "image", b"II*\x00" + b"\xff" * 8, {})],
        schema=ASSET_SCHEMA,
    )
    # media_pixel_stats uses the FIRST page (loader convention)
    px = {r["asset_id"]: r for r in media_pixel_stats(df).collect()}
    assert px["t-1"]["ok"]
    assert px["t-1"]["mean_r"] == pytest.approx(255 * (128 - 32) / 128)
    assert (px["t-1"]["min_lum"], px["t-1"]["max_lum"]) == (0, 255)
    assert not px["t-2"]["ok"]

    # per-page fan-out with exact integer sums
    pg = {(r["asset_id"], r["page"]): r
          for r in tiff_page_stats(df).collect()}
    # one row per page; a bad TIFF is one (page=-1, ok=False) row
    assert sorted(k for k in pg if k[0] == "t-1") == [("t-1", 0), ("t-1", 1)]
    assert all(pg[("t-1", k)]["ok"] for k in (0, 1))
    assert (pg[("t-1", 0)]["width"], pg[("t-1", 0)]["height"]) == (16, 8)
    assert [k for k in pg if k[0] == "t-2"] == [("t-2", -1)]
    assert pg[("t-1", 0)]["sum_r"] == 255 * (128 - 32)
    assert pg[("t-1", 1)]["sum_g"] == 10 + 20 + 30 + 40 + 50 + 60 + 70 + 80
    assert (pg[("t-1", 1)]["width"], pg[("t-1", 1)]["height"]) == (4, 2)
    assert pg[("t-2", -1)]["ok"] is False


def test_label_components_4_vs_flood_fill():
    """Union-find run labeling == brute-force flood fill (4-connectivity)."""
    import numpy as np

    from marie_icr_spark.operators.multimodal import label_components_4

    def flood_count(img):
        img = np.asarray(img).astype(bool).copy()
        n = 0
        h, w = img.shape
        for y in range(h):
            for x in range(w):
                if img[y, x]:
                    n += 1
                    stack = [(y, x)]
                    img[y, x] = False
                    while stack:
                        cy, cx = stack.pop()
                        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                            ny, nx = cy + dy, cx + dx
                            if 0 <= ny < h and 0 <= nx < w and img[ny, nx]:
                                img[ny, nx] = False
                                stack.append((ny, nx))
        return n

    rng = np.random.default_rng(5)
    for _ in range(60):
        h, w = rng.integers(1, 25, 2)
        img = (rng.random((h, w)) < rng.choice([0.2, 0.5, 0.7])).astype(
            np.uint8
        )
        assert label_components_4(img) == flood_count(img)
    # diagonal pixels are NOT connected under 4-connectivity
    assert label_components_4(np.eye(5, dtype=np.uint8)) == 5
    ring = np.zeros((5, 5), np.uint8)
    ring[0, :] = ring[-1, :] = ring[:, 0] = ring[:, -1] = 1
    assert label_components_4(ring) == 1  # one loop, not four edges
    u = np.zeros((3, 5), np.uint8)
    u[:, 0] = u[:, 4] = 1
    u[2, :] = 1
    assert label_components_4(u) == 1  # U-shape merges late (union-find)
    assert label_components_4(np.zeros((4, 4), np.uint8)) == 0


def test_jpeg_fill_bytes_between_segments():
    """Legal 0xFF fill padding between segments must parse in the pixel
    decoder's marker walk and give the unpadded stream's pixels."""
    from marie_icr_spark.operators.multimodal import decode_jpeg_pixels
    from tests.test_jpeg_decode import _flat_zz, encode_jpeg

    blob = encode_jpeg(8, 8, [(1, 1, 1)], [[[_flat_zz(100)]]])
    # inject two fill bytes before the first post-SOI segment marker
    padded = blob[:2] + b"\xff\xff" + blob[2:]
    px = decode_jpeg_pixels(padded)
    assert px is not None and px.shape[:2] == (8, 8)
    # and the unpadded decode agrees
    assert (decode_jpeg_pixels(blob) == px).all()


def test_ppm_maxval_over_255_fails_open():
    """A 16-bit (maxval 65535) PPM is legal but unsupported: it must emit
    ok=False / None, never garbage 1-byte-read pixels as ok=True."""
    from marie_icr_spark.operators.multimodal import _rgb_image

    body = b"P6\n2 1\n65535\n" + bytes(12)  # 2 px * 3 ch * 2 bytes
    assert _rgb_image(body) is None


def test_rate_millionths_boundary():
    """round(rate*1e6), not int(): 0.29 → 290000 exactly, so the boundary
    hash the documented keep-rule includes is kept."""
    from marie_icr_spark.functions.columns import rate_millionths

    assert rate_millionths(0.29) == 290_000
    assert rate_millionths(0.1) == 100_000
    assert rate_millionths(1.0) == 1_000_000
    assert rate_millionths(0.0) == 0
