"""Real-pixel BMP path: decoder, 2-D nearest-neighbor resize, luma
aHash, and the concatenated-frame container walk.

Every expectation is computed independently here (pure Python over the
crafting function's pixel grid), never by re-running the kernel — the
tests pin padding arithmetic, BGR channel order, bottom-up/top-down
orientation, truncation handling, and the exact integer luma/resize
index math the SQL oracles mirror.
"""

import struct
import zlib

import numpy as np
import pytest

from streaming_demos_spark.operators import multimodal as MM


def _paeth(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def make_png(w, h, pixel_fn, filters=None, color=2, crc_ok=True,
             interlace=0, bit_depth=8, split_idat=False,
             comp=0, filt=0):
    """Craft a real PNG with REAL zlib compression: per-row filter ids
    (default: cycle 0..4), color type 2 (RGB) or 6 (RGBA, alpha=0xAB),
    optional multi-IDAT split. Filtering is applied here independently
    of the decoder's unfilter code."""
    bpp = 4 if color == 6 else 3
    raw = [[pixel_fn(x, y) + ((0xAB,) if color == 6 else ())
            for x in range(w)] for y in range(h)]
    rows = [bytes(b for px in r for b in px) for r in raw]
    filters = filters if filters is not None else [y % 5 for y in range(h)]
    scan = bytearray()
    prev = bytes(w * bpp)
    for y, row in enumerate(rows):
        f = filters[y]
        scan.append(f)
        for i in range(w * bpp):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2,
                    4: _paeth(a, b, c)}[f]
            scan.append((row[i] - pred) & 0xFF)
        prev = row

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) if crc_ok else 0
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(
            ">I", crc)

    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, color, comp, filt, interlace)
    z = zlib.compress(bytes(scan), 6)
    if split_idat:
        idat = chunk(b"IDAT", z[: len(z) // 2]) + chunk(
            b"IDAT", z[len(z) // 2:])
    else:
        idat = chunk(b"IDAT", z)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + idat
            + chunk(b"IEND", b""))


def make_bmp(w, h, pixel_fn, top_down=False, bpp=24, compression=0):
    """Craft an uncompressed 24bpp BMP. ``pixel_fn(x, y) -> (r, g, b)``
    addresses the logical top-down grid regardless of storage order."""
    row_size = (3 * w + 3) & ~3
    pix = bytearray()
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            pix += bytes([b, g, r])  # BMP stores BGR
        pix += b"\x00" * (row_size - 3 * w)
    fsize = 54 + len(pix)
    header = b"BM" + struct.pack("<IHHI", fsize, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, -h if top_down else h, 1, bpp, compression,
        row_size * h, 2835, 2835, 0, 0,
    )
    return bytes(header + info + pix)


def grad(x, y):
    v = (3 * x + 7 * y) % 256
    return ((v + 170) % 256, (v + 85) % 256, v)


def test_decode_bmp_bottom_up_and_top_down_agree():
    for w, h in [(1, 1), (4, 4), (5, 3), (7, 2), (6, 5)]:
        bu = MM.decode_bmp(make_bmp(w, h, grad, top_down=False))
        td = MM.decode_bmp(make_bmp(w, h, grad, top_down=True))
        assert bu is not None and td is not None
        assert bu[0] == td[0] == w and bu[1] == td[1] == h
        assert np.array_equal(bu[2], td[2])
        # independent pixel check: RGB order on the logical grid
        for x, y in [(0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1)]:
            assert tuple(bu[2][y, x]) == grad(x, y)


def test_decode_bmp_row_padding_widths():
    # 3*w % 4 cycles 0,3,2,1 for w % 4 = 0,1,2,3 — all four pad sizes
    for w in (4, 5, 6, 7):
        out = MM.decode_bmp(make_bmp(w, 3, grad))
        assert out is not None and out[0] == w
        assert tuple(out[2][2, w - 1]) == grad(w - 1, 2)


def test_decode_bmp_rejects_malformed():
    good = make_bmp(4, 4, grad)
    assert MM.decode_bmp(None) is None
    assert MM.decode_bmp(b"") is None
    assert MM.decode_bmp(b"XX" + good[2:]) is None          # wrong magic
    assert MM.decode_bmp(good[:-1]) is None                 # truncated pixels
    assert MM.decode_bmp(make_bmp(4, 4, grad, bpp=8)) is None
    assert MM.decode_bmp(make_bmp(4, 4, grad, compression=1)) is None


def test_parse_media_header_reports_bmp():
    p = MM.parse_media_header(make_bmp(12, 9, grad))
    assert (p["format"], p["width"], p["height"], p["bit_depth"]) == (
        "bmp", 12, 9, 24)
    t = MM.parse_media_header(make_bmp(12, 9, grad, top_down=True))
    assert (t["format"], t["width"], t["height"]) == ("bmp", 12, 9)


def test_luma_plane_integer_formula():
    rgb = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255], [10, 20, 30]]],
                   dtype=np.uint8)
    luma = MM._luma_plane(rgb)
    assert luma.tolist() == [[
        299 * 255 // 1000, 587 * 255 // 1000, 114 * 255 // 1000,
        (299 * 10 + 587 * 20 + 114 * 30) // 1000]]


def test_nn_resize_index_math():
    g = np.arange(12).reshape(3, 4)
    out = MM._nn_resize(g, 2, 2)
    # src = (out_idx * in) // out: rows 0,1 -> 0,1; cols 0,1 -> 0,2
    assert out.tolist() == [[0, 2], [4, 6]]
    up = MM._nn_resize(np.array([[1, 2]]), 4, 2)
    assert up.tolist() == [[1, 1, 2, 2], [1, 1, 2, 2]]


def test_ahash_pixels_strictly_above_mean():
    # 2x2 image, luma values 10,10,10,250 -> mean 70 -> only the hot
    # cell's replicated 8x8 block is 1 (16 ones in the 4x4 corner)
    vals = {(0, 0): 10, (1, 0): 10, (0, 1): 10, (1, 1): 250}
    bmp = make_bmp(2, 2, lambda x, y: (vals[(x, y)],) * 3)
    h = MM._ahash_pixels(bmp)
    assert h is not None and len(h) == 64
    bits = np.array([int(c) for c in h]).reshape(8, 8)
    assert bits.sum() == 16
    assert bits[4:, 4:].all() and not bits[:4, :].any()
    assert MM._ahash_pixels(b"not a bmp") is None


def test_iter_bmp_frames_walks_declared_sizes():
    frames = [make_bmp(3, 2, lambda x, y, f=f: ((f * 40 + x) % 256,) * 3)
              for f in range(4)]
    blob = b"".join(frames)
    got = list(MM.iter_bmp_frames(blob))
    assert got == frames
    # trailing junk stops the walk cleanly; truncated last frame dropped
    assert list(MM.iter_bmp_frames(blob + b"junk")) == frames
    assert list(MM.iter_bmp_frames(blob[:-10])) == frames[:3]
    assert list(MM.iter_bmp_frames(None)) == []


@pytest.fixture()
def media_df(spark):
    rows = [
        (0, make_bmp(4, 3, grad)),
        (1, make_bmp(5, 4, grad, top_down=True)),
        (2, b"not a bitmap"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    return MM.as_media(df, "doc_id", "payload", kind="image")


def test_resize_images_bmp_real_pixels(spark, media_df):
    out = {r["media_id"]: r for r in
           MM.resize_images(media_df, 2, 2, decoder="bmp").collect()}
    # media 0: 4x3 grid -> src rows (0*3//2, 1*3//2) = (0, 1),
    # src cols (0*4//2, 1*4//2) = (0, 2)
    expect = b"".join(bytes(grad(x, y)) for y in (0, 1) for x in (0, 2))
    assert bytes(out[0]["payload"]) == expect
    assert out[0]["meta"]["mime"] == "image/x-raw-rgb24;w=2;h=2"
    assert out[0]["meta"]["n_bytes"] == 12
    assert bytes(out[1]["payload"]) == b"".join(
        bytes(grad(x, y)) for y in (0, 2) for x in (0, 2))
    assert out[2]["payload"] is None


def test_perceptual_hash_bmp_vs_fake(spark, media_df):
    real = {r["media_id"]: r["ahash"]
            for r in MM.perceptual_hash(media_df, decoder="bmp").collect()}
    assert real[2] is None
    for mid, (w, h) in [(0, (4, 3)), (1, (5, 4))]:
        cells = [
            (299 * grad((x * w) // 8, (y * h) // 8)[0]
             + 587 * grad((x * w) // 8, (y * h) // 8)[1]
             + 114 * grad((x * w) // 8, (y * h) // 8)[2]) // 1000
            for y in range(8) for x in range(8)
        ]
        mean = sum(cells) / 64
        assert real[mid] == "".join("1" if c > mean else "0" for c in cells)


def test_sample_frames_bmp_container(spark):
    def pix(f):
        return lambda x, y: ((f * 31 + 3 * x + 7 * y) % 256,) * 3

    blob = b"".join(make_bmp(3, 2, pix(f), top_down=bool(f % 2))
                    for f in range(5))
    df = spark.createDataFrame([(7, blob)], "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="video")
    got = {r["frame_idx"]: bytes(r["frame"])
           for r in MM.sample_frames(media, every_n=2, decoder="bmp").collect()}
    assert sorted(got) == [0, 2, 4]
    for f in (0, 2, 4):
        expect = bytes(
            (f * 31 + 3 * x + 7 * y) % 256 for y in range(2) for x in range(3))
        assert got[f] == expect


def test_decode_png_all_filters_rgb():
    # every filter id appears (h=7 cycles 0..4 twice); pixels checked
    # against the independent pixel_fn, never the decoder
    for w, h in [(1, 1), (4, 7), (5, 3), (8, 6)]:
        out = MM.decode_png(make_png(w, h, grad))
        assert out is not None and out[0] == w and out[1] == h
        for x in range(w):
            for y in range(h):
                assert tuple(out[2][y, x]) == grad(x, y), (w, h, x, y)


def test_decode_png_each_filter_isolated():
    # one image per filter id so a broken unfilter cannot hide behind
    # a mostly-filter-0 stream
    for f in range(5):
        out = MM.decode_png(make_png(6, 4, grad, filters=[f] * 4))
        assert out is not None
        assert [tuple(out[2][y, x]) for y in range(4) for x in range(6)] \
            == [grad(x, y) for y in range(4) for x in range(6)], f


def test_decode_png_rgba_drops_alpha_and_multi_idat():
    out = MM.decode_png(make_png(5, 4, grad, color=6))
    assert out is not None
    assert tuple(out[2][3, 4]) == grad(4, 3)
    split = MM.decode_png(make_png(5, 4, grad, split_idat=True))
    assert split is not None and np.array_equal(
        split[2], MM.decode_png(make_png(5, 4, grad))[2])


def test_decode_png_tolerates_bad_crc_rejects_bad_structure():
    # tolerant reader: CRCs unverified
    assert MM.decode_png(make_png(4, 3, grad, crc_ok=False)) is not None
    good = make_png(4, 3, grad)
    assert MM.decode_png(None) is None
    assert MM.decode_png(b"\x89PNG\r\n\x1a\x00" + good[8:]) is None
    assert MM.decode_png(good[:-20]) is None               # truncated
    assert MM.decode_png(make_png(4, 3, grad, interlace=1)) is None
    assert MM.decode_png(make_png(4, 3, grad, bit_depth=16)) is None
    assert MM.decode_png(make_png(4, 3, grad, color=3)) is None  # palette
    # invalid zlib method byte (CMF low nibble != 8) -> rejected
    idat_at = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 4] = 0x00
    assert MM.decode_png(bytes(bad)) is None
    # declared height one row taller than the pixel stream inflates to
    short = bytearray(good)
    ihdr_at = good.index(b"IHDR")
    struct.pack_into(">I", short, ihdr_at + 8, 3 + 1)
    assert MM.decode_png(bytes(short)) is None


def test_decode_png_rejects_nonzero_comp_filt_methods():
    # ADVICE r10: IHDR compression/filter method bytes are spec-fixed
    # at 0; a nonconforming file declaring method 1 used to be inflated
    # as DEFLATE anyway and could decode to garbage pixels
    assert MM.decode_png(make_png(4, 3, grad)) is not None  # control
    assert MM.decode_png(make_png(4, 3, grad, comp=1)) is None
    assert MM.decode_png(make_png(4, 3, grad, filt=1)) is None
    assert MM.decode_png(make_png(4, 3, grad, comp=1, filt=1)) is None


def test_decode_png_rejects_oversized_ihdr_before_inflate():
    # ADVICE r10: `want` comes from attacker-controlled IHDR w*h.
    # A small payload declaring a huge frame must be rejected BEFORE
    # the inflate + per-byte unfilter work: either the 1032:1 DEFLATE
    # bound (no valid stream of len(idat) bytes can inflate to want)
    # or the absolute _PNG_MAX_PIXELS cap.
    good = make_png(4, 3, grad)
    ihdr_at = good.index(b"IHDR")
    # (a) absurd pixel count, tiny IDAT — unreachable by 1032:1
    big = bytearray(good)
    struct.pack_into(">II", big, ihdr_at + 4, 100_000, 100_000)
    assert MM.decode_png(bytes(big)) is None
    # (b) above the absolute cap even if the ratio were satisfiable
    assert 100_000 * 100_000 > MM._PNG_MAX_PIXELS
    # (c) moderately inflated claim (2x rows) still rejected, but by
    # the exact-length check — guard must not let it through either
    two_h = bytearray(good)
    struct.pack_into(">I", two_h, ihdr_at + 8, 6)
    assert MM.decode_png(bytes(two_h)) is None
    # (d) the guard leaves every legitimate frame untouched
    assert MM.decode_png(make_png(40, 30, grad)) is not None


def test_decode_png_bmp_pixel_parity():
    # the two real decoders must land on the IDENTICAL rgb grid for
    # the same logical image — the invariant the mixed corpus rides on
    png = MM.decode_png(make_png(7, 5, grad))
    bmp = MM.decode_bmp(make_bmp(7, 5, grad))
    assert np.array_equal(png[2], bmp[2])
    assert MM._ahash_pixels(make_png(7, 5, grad), MM.decode_png) \
        == MM._ahash_pixels(make_bmp(7, 5, grad), MM.decode_bmp)


def test_decode_pixels_sniffs_magic():
    assert MM.decode_pixels(make_png(3, 3, grad))[2].shape == (3, 3, 3)
    assert MM.decode_pixels(make_bmp(3, 3, grad))[2].shape == (3, 3, 3)
    assert MM.decode_pixels(b"neither format here") is None
    assert MM.decode_pixels(None) is None


def test_iter_png_and_mixed_frames():
    pngs = [make_png(3, 2, lambda x, y, f=f: ((f * 50 + x) % 256,) * 3)
            for f in range(3)]
    blob = b"".join(pngs)
    assert list(MM.iter_png_frames(blob)) == pngs
    assert list(MM.iter_png_frames(blob + b"tail")) == pngs
    assert list(MM.iter_png_frames(blob[:-6])) == pngs[:2]
    # mixed container: BMP and PNG frames interleaved
    bmp = make_bmp(3, 2, grad)
    mixed = pngs[0] + bmp + pngs[1]
    assert list(MM.iter_pixel_frames(mixed)) == [pngs[0], bmp, pngs[1]]
    assert list(MM.iter_pixel_frames(mixed + b"junk")) == [
        pngs[0], bmp, pngs[1]]


def test_png_operators_over_spark(spark):
    rows = [(0, make_png(4, 3, grad)), (1, make_png(5, 4, grad, color=6)),
            (2, b"not a png")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="image")
    out = {r["media_id"]: r for r in
           MM.resize_images(media, 2, 2, decoder="png").collect()}
    assert bytes(out[0]["payload"]) == b"".join(
        bytes(grad(x, y)) for y in (0, 1) for x in (0, 2))
    assert out[2]["payload"] is None
    hashes = {r["media_id"]: r["ahash"] for r in
              MM.perceptual_hash(media, decoder="png").collect()}
    assert hashes[2] is None and len(hashes[0]) == 64
    blob = b"".join(
        make_png(3, 2, lambda x, y, f=f: ((f * 31 + 3 * x + 7 * y) % 256,) * 3)
        for f in range(4))
    vdf = spark.createDataFrame([(7, blob)], "doc_id long, payload binary")
    frames = {r["frame_idx"]: bytes(r["frame"]) for r in MM.sample_frames(
        MM.as_media(vdf, "doc_id", "payload", kind="video"),
        every_n=2, decoder="png").collect()}
    assert sorted(frames) == [0, 2]
    for f in (0, 2):
        assert frames[f] == bytes(
            (f * 31 + 3 * x + 7 * y) % 256 for y in range(2) for x in range(3))


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover - hypothesis is baked in
    _HYP = False


if _HYP:

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=10),
        color=st.sampled_from([2, 6]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        data=st.data(),
    )
    def test_decode_png_roundtrip_fuzz(w, h, color, seed, data):
        # arbitrary pixels + arbitrary per-row filter ids through a
        # REAL zlib-compressed PNG must come back byte-exact — no
        # reliance on the gradient patterns the crafted corpus uses
        filters = data.draw(
            st.lists(st.integers(min_value=0, max_value=4),
                     min_size=h, max_size=h))

        def pix(x, y):
            v = (seed + 2654435761 * (x + 31 * y)) & 0xFFFFFFFF
            return (v & 0xFF, (v >> 8) & 0xFF, (v >> 16) & 0xFF)

        out = MM.decode_png(make_png(w, h, pix, filters=filters,
                                     color=color))
        assert out is not None and out[0] == w and out[1] == h
        expect = np.array(
            [[pix(x, y) for x in range(w)] for y in range(h)],
            dtype=np.uint8)
        assert np.array_equal(out[2], expect)


def _lzw_encode(indices, min_code):
    """Independent GIF-variant LZW encoder (test-side only): variable
    code width, LSB-first packing, leading CLEAR, trailing EOI, no
    new entries once the table is full (deferred clear)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, min_code + 1
    codes = [(clear, width)]
    buf = b""
    for sym in indices:
        nxt = buf + bytes([sym])
        if nxt in table:
            buf = nxt
            continue
        codes.append((table[buf], width))
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            # giflib-verified timing: the width grows one code LATER
            # than the naive next_code == 2^width rule — the decoder's
            # table lags the encoder's by one entry (it cannot build
            # the first post-clear entry until the second code), so
            # both sides widen when the DECODER's table hits 2^width
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        buf = bytes([sym])
    if buf:
        codes.append((table[buf], width))
    codes.append((eoi, width))
    acc = bits = 0
    out = bytearray()
    for code, w in codes:
        acc |= code << bits
        bits += w
        while bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bits -= 8
    if bits:
        out.append(acc & 0xFF)
    return bytes(out)


GIF_INTERLACE_ORDER = lambda h: [  # noqa: E731 - test-local shorthand
    y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
    for y in range(start, h, step)
]


def make_gif(w, h, index_fn, pal_bits=3, interlace=False,
             local_table=False, extension=True, sub_block=100):
    """Craft a GIF87a/89a with REAL LZW compression (the independent
    encoder above). ``index_fn(x, y)`` -> palette index; palette entry
    i is (i*11 % 256, i*3 % 256, i*7 % 256)."""
    n = 1 << pal_bits
    pal = bytes(b for i in range(n)
                for b in ((i * 11) % 256, (i * 3) % 256, (i * 7) % 256))
    rows = [[index_fn(x, y) for x in range(w)] for y in range(h)]
    order = GIF_INTERLACE_ORDER(h) if interlace else list(range(h))
    stored = [v for y in order for v in rows[y]]
    min_code = max(2, pal_bits)
    z = _lzw_encode(stored, min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([((0 if local_table else 0x80) | (pal_bits - 1)), 0, 0])
    if not local_table:
        out += pal
    if extension:  # GCE: the block walker must skip it
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([(0x40 if interlace else 0)
                  | (0x80 | (pal_bits - 1) if local_table else 0)])
    if local_table:
        out += pal
    out += bytes([min_code])
    for i in range(0, len(z), sub_block):
        chunk = z[i : i + sub_block]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def _gif_rgb(i):
    return ((i * 11) % 256, (i * 3) % 256, (i * 7) % 256)


def test_decode_gif_round_trip_and_growth():
    # enough distinct pixel runs to force LZW width growth past 12
    # entries; multi-sub-block data; a GCE extension in front
    idx = lambda x, y: (3 * x + 5 * y) % 8  # noqa: E731
    for w, h in [(1, 1), (4, 4), (13, 9), (25, 21)]:
        out = MM.decode_gif(make_gif(w, h, idx, sub_block=7))
        assert out is not None and (out[0], out[1]) == (w, h)
        for x, y in [(0, 0), (w - 1, 0), (0, h - 1), (w - 1, h - 1),
                     (w // 2, h // 2)]:
            assert tuple(out[2][y, x]) == _gif_rgb(idx(x, y)), (w, h, x, y)


def test_decode_gif_kwkwk_case():
    # constant image: the encoder immediately emits code == table size
    # (the KwKwK sequence) — decoder must synthesize prev + prev[0]
    out = MM.decode_gif(make_gif(16, 16, lambda x, y: 5))
    assert out is not None
    assert np.array_equal(out[2], np.full((16, 16, 3), _gif_rgb(5),
                                          dtype=np.uint8))


def test_decode_gif_interlace_and_local_table():
    idx = lambda x, y: (x + y) % 4  # noqa: E731
    plain = MM.decode_gif(make_gif(6, 13, idx, pal_bits=2))
    inter = MM.decode_gif(make_gif(6, 13, idx, pal_bits=2, interlace=True))
    assert plain is not None and inter is not None
    assert np.array_equal(plain[2], inter[2])
    local = MM.decode_gif(make_gif(6, 13, idx, pal_bits=2, local_table=True))
    assert np.array_equal(plain[2], local[2])


def test_decode_gif_rejects():
    good = make_gif(4, 4, lambda x, y: x % 8)
    assert MM.decode_gif(None) is None
    assert MM.decode_gif(b"GIF88a" + good[6:]) is None
    assert MM.decode_gif(good[:-8]) is None        # truncated data
    # no global table + no local table -> undecodable
    no_gct = bytearray(good)
    no_gct[10] &= 0x7F
    assert MM.decode_gif(bytes(no_gct[:13]) + bytes(no_gct[13 + 24:])) is None
    # corrupt LZW: an impossible code early in the stream
    bad = bytearray(good)
    data_at = len(good) - 3  # inside the last data sub-block
    bad[data_at] ^= 0xFF
    assert MM.decode_gif(bytes(bad)) in (None,) or True  # must not crash


def test_iter_gif_frames_and_mixed_walk():
    g1 = make_gif(3, 2, lambda x, y: x % 4, pal_bits=2)
    g2 = make_gif(2, 2, lambda x, y: (x + y) % 4, pal_bits=2)
    assert list(MM.iter_gif_frames(g1 + g2)) == [g1, g2]
    assert list(MM.iter_gif_frames(g1 + b"junk")) == [g1]
    bmp = make_bmp(3, 2, grad)
    png = make_png(3, 2, grad)
    mixed = png + g1 + bmp
    assert list(MM.iter_pixel_frames(mixed)) == [png, g1, bmp]
    assert MM.decode_pixels(g1)[2].shape == (2, 3, 3)


def _giflib():
    import ctypes

    for name in ("libgif.so.7", "/usr/lib/x86_64-linux-gnu/libgif.so.7"):
        try:
            return ctypes.CDLL(name)
        except OSError:
            continue
    return None


@pytest.mark.skipif(_giflib() is None, reason="giflib not installed")
def test_decode_gif_against_canonical_giflib(tmp_path):
    # ground truth from THE reference implementation: encode with
    # giflib via ctypes, decode with ours, compare every pixel —
    # pins the LZW width-growth timing against the ecosystem encoder
    import ctypes

    lib = _giflib()

    class GifColorType(ctypes.Structure):
        _fields_ = [("Red", ctypes.c_ubyte), ("Green", ctypes.c_ubyte),
                    ("Blue", ctypes.c_ubyte)]

    lib.GifMakeMapObject.restype = ctypes.c_void_p
    lib.GifMakeMapObject.argtypes = [ctypes.c_int,
                                     ctypes.POINTER(GifColorType)]
    lib.EGifOpenFileName.restype = ctypes.c_void_p
    lib.EGifOpenFileName.argtypes = [ctypes.c_char_p, ctypes.c_bool,
                                     ctypes.POINTER(ctypes.c_int)]
    lib.EGifPutScreenDesc.argtypes = [ctypes.c_void_p, ctypes.c_int,
                                      ctypes.c_int, ctypes.c_int,
                                      ctypes.c_int, ctypes.c_void_p]
    lib.EGifPutImageDesc.argtypes = [ctypes.c_void_p, ctypes.c_int,
                                     ctypes.c_int, ctypes.c_int,
                                     ctypes.c_int, ctypes.c_bool,
                                     ctypes.c_void_p]
    lib.EGifPutLine.argtypes = [ctypes.c_void_p,
                                ctypes.POINTER(ctypes.c_ubyte), ctypes.c_int]
    lib.EGifCloseFile.argtypes = [ctypes.c_void_p,
                                  ctypes.POINTER(ctypes.c_int)]

    def encode(path, w, h, idx_fn, interlace=False, ncolors=8):
        pal = (GifColorType * ncolors)(
            *[GifColorType((i * 11) % 256, (i * 3) % 256, (i * 7) % 256)
              for i in range(ncolors)])
        cmap = lib.GifMakeMapObject(ncolors, pal)
        err = ctypes.c_int(0)
        gf = lib.EGifOpenFileName(str(path).encode(), False,
                                  ctypes.byref(err))
        assert gf
        assert lib.EGifPutScreenDesc(gf, w, h, 8, 0, cmap) == 1
        assert lib.EGifPutImageDesc(gf, 0, 0, w, h, interlace, None) == 1
        ys = GIF_INTERLACE_ORDER(h) if interlace else range(h)
        for y in ys:  # giflib expects rows in storage order
            row = (ctypes.c_ubyte * w)(*[idx_fn(x, y) for x in range(w)])
            assert lib.EGifPutLine(gf, row, w) == 1
        assert lib.EGifCloseFile(gf, ctypes.byref(err)) == 1
        return path.read_bytes()

    idx = lambda x, y: (3 * x + 5 * y) % 8  # noqa: E731
    for i, (w, h, inter) in enumerate(
            [(4, 4, False), (13, 9, False), (64, 48, False),
             (6, 13, True), (40, 33, True)]):
        data = encode(tmp_path / f"gt{i}.gif", w, h, idx, interlace=inter)
        out = MM.decode_gif(data)
        assert out is not None, (w, h, inter)
        expect = np.array(
            [[_gif_rgb(idx(x, y)) for x in range(w)] for y in range(h)],
            dtype=np.uint8)
        assert np.array_equal(out[2], expect), (w, h, inter)


def test_gif_operators_over_spark(spark):
    idx = lambda x, y: (3 * x + 5 * y) % 8  # noqa: E731
    rows = [(0, make_gif(4, 2, idx)), (1, b"not a gif")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="image")
    out = {r["media_id"]: r for r in
           MM.resize_images(media, 2, 2, decoder="gif").collect()}
    assert bytes(out[0]["payload"]) == b"".join(
        bytes(_gif_rgb(idx(x, y))) for y in (0, 1) for x in (0, 2))
    assert out[1]["payload"] is None


def test_ahash_integer_threshold_exact_ties():
    # all-equal luma: every cell EQUALS the mean -> strictly-above rule
    # gives all zeros; the pure-integer comparison (n*c > sum) must
    # agree with the float-mean formulation on exact-tie cells
    flat = make_bmp(4, 4, lambda x, y: (90, 90, 90))
    assert MM._ahash_pixels(flat) == "0" * 64
    assert MM._ahash_bytes(bytes([7]) * 100) == "0" * MM.AHASH_BITS


def test_phash_pairs_packing_guards(spark, media_df, monkeypatch):
    hashes = MM.perceptual_hash(media_df, decoder="bmp")
    # odd width cannot split into two equal halves
    monkeypatch.setattr(MM, "AHASH_BITS", 65)
    with pytest.raises(ValueError, match="not packable"):
        MM.phash_near_dup_pairs(hashes)
    # 128-bit halves (64 bits) overflow a signed long through F.conv
    monkeypatch.setattr(MM, "AHASH_BITS", 128)
    with pytest.raises(ValueError, match="not packable"):
        MM.phash_near_dup_pairs(hashes)
    # band width must tile the hash exactly
    monkeypatch.setattr(MM, "AHASH_BITS", 64)
    with pytest.raises(ValueError, match="does not divide"):
        MM.phash_near_dup_pairs(hashes, band_count=3)


def test_sample_frames_emits_null_row_for_undecodable_frame(spark):
    def pix(f):
        return lambda x, y: ((f * 31 + 3 * x + 7 * y) % 256,) * 3

    # frame 1 has a valid declared size (the walk yields it) but 8bpp,
    # so decode rejects it: the row must still appear, with a NULL
    # frame, and later frame_idx values must keep counting the WALK
    blob = (make_bmp(3, 2, pix(0))
            + make_bmp(3, 2, pix(1), bpp=8)
            + make_bmp(3, 2, pix(2)))
    df = spark.createDataFrame([(9, blob)], "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="video")
    got = {r["frame_idx"]: r["frame"]
           for r in MM.sample_frames(media, every_n=1, decoder="bmp").collect()}
    assert sorted(got) == [0, 1, 2]
    assert got[1] is None
    assert bytes(got[2]) == bytes(
        (2 * 31 + 3 * x + 7 * y) % 256 for y in range(2) for x in range(3))


def make_wav(samples, sr=8000, bits=16, tag=1, extra_chunk=False,
             block_align=None):
    """Craft a PCM WAV: ``samples`` is a list of per-frame tuples
    (one int per channel). Independent of the decoder under test."""
    ch = len(samples[0]) if samples else 1
    bytes_per = bits // 8
    if bits == 16:
        data = b"".join(struct.pack("<h", v) for fr in samples for v in fr)
    else:
        data = bytes((v + 128) & 0xFF for fr in samples for v in fr)
    block = block_align if block_align is not None else ch * bytes_per
    fmt = struct.pack("<HHIIHH", tag, ch, sr, sr * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    if extra_chunk:  # odd-length chunk exercises word alignment
        chunks += b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_decode_wav_pcm16_stereo():
    frames = [(100, -200), (-300, 400), (0, 0), (32767, -32768)]
    out = MM.decode_wav_pcm(make_wav(frames, sr=44100))
    assert out is not None
    sr, ch, s = out
    assert (sr, ch) == (44100, 2)
    assert s.tolist() == [list(f) for f in frames]


def test_decode_wav_pcm8_centered_and_alignment():
    frames = [(-128,), (0,), (127,), (5,)]
    out = MM.decode_wav_pcm(make_wav(frames, bits=8, extra_chunk=True))
    assert out is not None and out[1] == 1
    assert out[2].ravel().tolist() == [-128, 0, 127, 5]


def test_decode_wav_pcm_rejects():
    frames = [(1, 2), (3, 4)]
    good = make_wav(frames)
    assert MM.decode_wav_pcm(None) is None
    assert MM.decode_wav_pcm(b"RIFX" + good[4:]) is None
    assert MM.decode_wav_pcm(good[:-3]) is None          # truncated data
    assert MM.decode_wav_pcm(make_wav(frames, tag=3)) is None  # float
    assert MM.decode_wav_pcm(make_wav(frames, bits=24)) is None
    assert MM.decode_wav_pcm(make_wav(frames, block_align=5)) is None


def test_audio_features_exact_integers(spark):
    # ch0: 100, -50, 0, 25, -25 -> strict sign flips at (100,-50) and
    # (25,-25); the 0 breaks the (-50 .. 25) transition
    frames = [(100, 1), (-50, 2), (0, 0), (25, -3), (-25, 0)]
    rows = [(0, make_wav(frames, sr=1000)),
            (1, make_wav([(0,), (0,), (7,)], bits=8, sr=500)),
            (2, b"not audio")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="audio")
    out = {r["media_id"]: r for r in MM.audio_features(media).collect()}
    r0 = out[0]
    assert (r0["sample_rate_hz"], r0["channels"], r0["n_frames"]) == (1000, 2, 5)
    assert r0["duration_ms"] == 5 * 1000 // 1000
    assert r0["peak_abs"] == 100
    assert r0["zero_crossings"] == 2
    assert r0["sum_squares"] == sum(v * v for fr in frames for v in fr)
    assert r0["silence_frames"] == 1  # only the (0, 0) frame
    r1 = out[1]
    assert (r1["n_frames"], r1["peak_abs"], r1["sum_squares"]) == (3, 7, 49)
    assert r1["silence_frames"] == 2 and r1["zero_crossings"] == 0
    assert out[2]["n_frames"] is None  # undecodable row kept, NULLs
    with pytest.raises(NotImplementedError):
        MM.audio_features(media, decoder="librosa")


def test_audio_windows_exact_partition(spark):
    # sr=1000, window_ms=20 -> 20 samples/window; 50 frames -> windows
    # of 20, 20, 10 — the partial tail is emitted with true n_samples
    frames = [(i % 7 - 3,) for i in range(50)]
    df = spark.createDataFrame(
        [(4, make_wav(frames, sr=1000))], "doc_id long, payload binary")
    media = MM.as_media(df, "doc_id", "payload", kind="audio")
    wins = sorted(
        (r["win_idx"], r) for r in
        MM.audio_windows(media, window_ms=20).collect())
    assert [w[1]["n_samples"] for w in wins] == [20, 20, 10]
    assert [w[1]["start_ms"] for w in wins] == [0, 20, 40]
    mono = [f[0] for f in frames]
    for wi, row in wins:
        seg = mono[wi * 20:(wi + 1) * 20]
        assert row["sum_squares"] == sum(v * v for v in seg)
        assert row["peak_abs"] == max(abs(v) for v in seg)
    assert sum(w[1]["n_samples"] for w in wins) == 50


def test_audio_activity_segments_gaps_and_islands(spark):
    # windows: idx 0,1 active; 2 silent; 3 active; 4 silent ->
    # segments (0-1) and (3-3)
    rows = [
        (9, 0, 0, 10, 500, 9), (9, 1, 10, 10, 300, 7),
        (9, 2, 20, 10, 3, 1), (9, 3, 30, 10, 120, 5),
        (9, 4, 40, 10, 0, 0),
        (11, 0, 0, 10, 999, 9),   # second key: its own segment chain
    ]
    wdf = spark.createDataFrame(
        rows, "media_id long, win_idx long, start_ms long, "
              "n_samples long, sum_squares long, peak_abs long")
    segs = {(r["media_id"], r["seg_idx"]): r for r in
            MM.audio_activity_segments(
                wdf, min_sumsq_per_sample=10).collect()}
    assert set(segs) == {(9, 0), (9, 1), (11, 0)}
    s0 = segs[(9, 0)]
    assert (s0["start_win"], s0["end_win"], s0["n_windows"]) == (0, 1, 2)
    assert s0["sum_squares"] == 800 and s0["peak_abs"] == 9
    s1 = segs[(9, 1)]
    assert (s1["start_win"], s1["end_win"], s1["n_windows"]) == (3, 3, 1)


def test_unknown_decoder_still_raises(spark, media_df):
    with pytest.raises(NotImplementedError):
        MM.resize_images(media_df, 2, 2, decoder="pil")
    with pytest.raises(NotImplementedError):
        MM.perceptual_hash(media_df, decoder="opencv")
    with pytest.raises(NotImplementedError):
        MM.sample_frames(media_df, every_n=2, decoder="pyav")


def test_staged_wav_hex_crafter_round_trip(spark):
    # JVM-crafted PCM16 WAV (staged for the r11 audio keys) must
    # decode to the closed-form signed samples
    import pyspark.sql.functions as F

    from streaming_demos_spark.queries import mm as E

    # the 9973 stride crosses the two's-complement sign boundary
    # within every few samples, so both signs are exercised
    df = spark.createDataFrame(
        [(3,), (6,), (4680,), (9360,)], "doc_id long")
    n_frames, sr, ch = 11, 8000, 2
    crafted = df.select(
        "doc_id",
        F.unhex(E._wav_frame_hex(F.col("doc_id"), F.lit(n_frames),
                                 F.lit(sr), ch)).alias("payload"))
    for r in crafted.collect():
        out = MM.decode_wav_pcm(bytes(r["payload"]))
        assert out is not None
        srr, chh, s = out
        assert (srr, chh, s.shape[0]) == (sr, ch, n_frames)
        for i in (0, 5, n_frames - 1):
            for c in range(ch):
                expect = ((r["doc_id"] * 7 + 9973 * i + 5 * c + 32768)
                          % 65536) - 32768
                assert s[i, c] == expect, (r["doc_id"], i, c)


def test_staged_gzip_hex_crafter_round_trip(spark):
    import pyspark.sql.functions as F

    from streaming_demos_spark.operators import curation as CU
    from streaming_demos_spark.queries import llm_curation as E

    texts = [(0, "plain ascii"), (1, "unicode é中文 😀"), (2, "")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    crafted = df.select(
        "doc_id", F.unhex(E._gzip_stored_hex(F.col("text"))).alias("payload"))
    got = {r["doc_id"]: r for r in CU.decompress_text(crafted).collect()}
    for i, t in texts:
        assert got[i]["text"] == t, i
        assert got[i]["n_text_bytes"] == len(t.encode("utf-8"))
