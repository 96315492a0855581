"""``mm_*`` keys: multimodal media over crafted payloads
(operators/multimodal.py). The payloads are crafted JVM-side from
``doc_id`` (pixel frames in BMP/PNG/GIF/JPEG, PCM16 WAV), so every
oracle recomputes the decoded features in closed form. The Column-form
``_*_frame_hex`` crafts are the executable spec of the single-parse
``_*_frame_sql`` forms the keys use (tests/test_sql_crafts.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_demos_spark.catalog import load_table as _t
from streaming_demos_spark.operators import multimodal as MM
from streaming_demos_spark.queries import key


def _hex_be(col, hex_w):
    # big-endian hex of a NON-NEGATIVE int column, zero-padded to hex_w
    # digits (F.hex of a negative is 16-digit two's-complement that
    # lpad would truncate — callers route negatives away first)
    return F.lpad(F.hex(col), hex_w, "0")


def _hex_le(col, hex_w):
    # little-endian: byte-swap the padded hex pairs
    hx = F.lpad(F.hex(col), hex_w, "0")
    pairs = [hx.substr(i, 2) for i in range(hex_w - 1, 0, -2)]
    return F.concat(*pairs)


def _hex_pair(col):
    return _hex_be(col, 2)


def _bmp_frame_hex(doc_id, w, h, f):
    """Hex of one crafted uncompressed-24bpp BMP, built entirely from
    JVM expressions (no UDF on the encode side): pixel base value
    v(x,y) = (doc_id + 11f + 3x + 7y) % 256 with DISTINCT channels
    (B=v, G=v+85, R=v+170, each mod 256 — so a BGR/RGB mixup cannot
    cancel out), rows padded to 4-byte words, and storage order
    alternating by (doc_id + f) parity: even = bottom-up (+height,
    rows reversed), odd = top-down (negative height i32, natural
    rows). The decode side (multimodal.decode_bmp) must undo ALL of
    it to reproduce the oracle's closed-form grid."""
    top_down = (doc_id + f) % 2 == 1

    def v(x, y):
        return (doc_id + 11 * f + 3 * x + 7 * y) % 256

    def pix_hex(x, y):  # stored byte order is B,G,R
        return F.concat(
            _hex_pair(v(x, y)),
            _hex_pair((v(x, y) + 85) % 256),
            _hex_pair((v(x, y) + 170) % 256),
        )

    pad_n = (4 - (w * 3) % 4) % 4
    pad_hex = (
        F.when(pad_n == 0, F.lit(""))
        .when(pad_n == 1, F.lit("00"))
        .when(pad_n == 2, F.lit("0000"))
        .otherwise(F.lit("000000"))
    )

    def row_hex(j):  # stored row j -> logical y
        y = F.when(top_down, j).otherwise(h - 1 - j)
        return F.concat(
            F.array_join(
                F.transform(F.sequence(F.lit(0), w - 1),
                            lambda x: pix_hex(x, y)),
                ""),
            pad_hex,
        )

    img_size = (w * 3 + pad_n) * h
    height_field = F.when(top_down, F.lit(4294967296) - h).otherwise(h)
    return F.concat(
        # BITMAPFILEHEADER: 'BM', file size, reserved, pixel offset 54
        F.lit("424D"), _hex_le(img_size + 54, 8),
        F.lit("0000000036000000"),
        # BITMAPINFOHEADER: size 40, dims, 1 plane, 24bpp, BI_RGB,
        # image size, 2835 ppm, no palette
        F.lit("28000000"), _hex_le(w, 8), _hex_le(height_field, 8),
        F.lit("01001800"), F.lit("00000000"), _hex_le(img_size, 8),
        F.lit("130B0000130B0000"), F.lit("0000000000000000"),
        F.array_join(
            F.transform(F.sequence(F.lit(0), h - 1), row_hex), ""),
    )


# Closed-form SQL mirrors of the crafted pixel math. BMP/PNG/GIF
# render the identical logical gradient grid, so their oracle needs no
# format knowledge; JPEG (round 11) renders the blockwise DC-only grid
# of _jpeg_frame_hex, so the shared fragments branch ONCE on the
# format-cycle predicate (media_id + frame_idx) % 8 >= 6 and stay
# container-free otherwise. ``v`` is the base channel value of the
# source pixel an 8x8 nearest-neighbor cell i reads; luma is the
# integer Rec.601 fold over the distinct channels R=v+170, G=v+85, B=v
# (each mod 256) — which for the grayscale JPEG grid (R=G=B=p)
# collapses to exactly p: (299p+587p+114p)//1000 = p.
_BMP_SQL_V = ("((media_id + 3 * (((i % 8) * w) // 8)"
              " + 7 * (((i // 8) * h) // 8)) % 256)")


def _bmp_sql_lum(v: str) -> str:
    return (f"((299 * (({v} + 170) % 256) + 587 * (({v} + 85) % 256)"
            f" + 114 * {v}) // 1000)")


_BMP_SQL_CELL_LUM = _bmp_sql_lum(_BMP_SQL_V)
_BMP_SQL_FRAME_LUM = _bmp_sql_lum(
    "((media_id + 11 * frame_idx + 3 * (i % w) + 7 * (i // w)) % 256)")


def _jpeg_sql_p(x: str, y: str, f: str) -> str:
    """Flat-block value at source pixel (x, y) of JPEG frame ``f`` —
    mirrors _jpeg_frame_hex: p = 128 + a + (blk%2)*delta."""
    return ("(128 + (media_id % 8 + 8)"
            f" + (((({y}) // 8) * ((w + 7) // 8) + (({x}) // 8)) % 2)"
            f" * ((media_id + 11 * ({f})) % 8 + 8))")


_JPEG_SQL_CELL_P = _jpeg_sql_p(
    "((i % 8) * w) // 8", "((i // 8) * h) // 8", "0")
_JPEG_SQL_FRAME_P = _jpeg_sql_p("i % w", "i // w", "frame_idx")


def _png_frame_hex(doc_id, w, h, f):
    """Hex of one crafted non-interlaced 8-bit RGB PNG carrying the
    SAME logical pixel grid as ``_bmp_frame_hex`` (v(x,y) =
    (doc_id + 11f + 3x + 7y) % 256; R=v+170, G=v+85, B=v mod 256) —
    so the closed-form pixel oracles are format-independent. Built
    entirely from JVM expressions: the IDAT body is a zlib stream with
    ONE stored-DEFLATE block (header 0x78 0x01, BFINAL/BTYPE=00,
    LEN/NLEN), which stdlib inflate consumes through the exact same
    code path as a compressed stream; scanline filters cycle
    y%3 -> None/Sub/Up, each closed-form under the linear gradient
    (Sub bytes are constant 3 past pixel 0, Up bytes constant 7).
    Chunk CRCs and the adler32 trailer are zeroed — the decoder is a
    documented tolerant reader (multimodal.decode_png) and the pixel
    oracle, not the transport checksum, proves correctness. PNG stores
    RGB (vs BMP's BGR): a channel-order slip cannot cancel across the
    two formats."""
    def v(x, y):
        return (doc_id + 11 * f + 3 * x + 7 * y) % 256

    def pix_hex(x, y):  # stored byte order is R,G,B
        return F.concat(
            _hex_pair((v(x, y) + 170) % 256),
            _hex_pair((v(x, y) + 85) % 256),
            _hex_pair(v(x, y)),
        )

    def row_hex(y):
        none_row = F.concat(
            F.lit("00"),
            F.array_join(
                F.transform(F.sequence(F.lit(0), w - 1),
                            lambda x: pix_hex(x, y)),
                ""),
        )
        # Sub: first pixel raw (left predictor 0), then every channel
        # byte is raw(x)-raw(x-1) = 3 mod 256 under the gradient
        sub_row = F.concat(
            F.lit("01"), pix_hex(F.lit(0), y),
            F.repeat(F.lit("03"), ((w - 1) * 3).cast("int")))
        # Up: y%3==2 implies y>=2, so the prior row always exists and
        # every byte is raw(x,y)-raw(x,y-1) = 7 mod 256
        up_row = F.concat(
            F.lit("02"), F.repeat(F.lit("07"), (w * 3).cast("int")))
        fy = y % 3
        return (F.when(fy == 0, none_row)
                .when(fy == 1, sub_row)
                .otherwise(up_row))

    scan_len = h * (1 + 3 * w)
    return F.concat(
        F.lit("89504E470D0A1A0A"),                     # signature
        F.lit("0000000D49484452"),                     # IHDR len+type
        _hex_be(w, 8), _hex_be(h, 8),
        F.lit("0802000000"),                           # 8-bit RGB, no interlace
        F.lit("00000000"),                             # IHDR CRC (unverified)
        _hex_be(scan_len + 11, 8), F.lit("49444154"),  # IDAT len+type
        F.lit("7801"),                                 # zlib CMF/FLG
        F.lit("01"),                                   # stored, BFINAL
        _hex_le(scan_len, 4), _hex_le(65535 - scan_len, 4),
        F.array_join(
            F.transform(F.sequence(F.lit(0), h - 1), row_hex), ""),
        F.lit("00000000"),                             # adler32 (unverified)
        F.lit("00000000"),                             # IDAT CRC (unverified)
        F.lit("0000000049454E44AE426082"),             # IEND (real CRC)
    )


# 256-entry GIF palette mapping index v to EXACTLY the RGB the BMP/PNG
# crafters render for base value v — (R, G, B) = (v+170, v+85, v) mod
# 256 — so a GIF whose pixel INDEX stream is v(x,y) renders the same
# logical grid and the pixel oracles stay format-free. A compile-time
# constant (768 bytes).
_GIF_PALETTE_HEX = "".join(
    f"{(i + 170) % 256:02X}{(i + 85) % 256:02X}{i:02X}" for i in range(256)
)


def _idiv(c, d):
    # exact integer floor-division for NON-NEGATIVE Column values
    # (Column has no // operator): subtract the remainder, then the
    # double division is integral before the cast
    return ((c - c % d) / d).cast("int")


def _gif_frame_hex(doc_id, w, h, f):
    """Hex of one crafted GIF89a carrying the SAME logical pixel grid
    as the BMP/PNG crafters, built entirely from JVM expressions. The
    LZW body uses the CLEAR-before-every-symbol construction: with a
    256-color table the code width is a constant 9 bits (the table
    never grows — each CLEAR resets it before an entry can be added),
    so the bitstream is byte-aligned every 4 pixels and each (CLEAR,
    sym) x4 group packs into one closed-form 9-byte sub-block; the
    tail emits the leftover 0-3 pixels plus the EOI code. That is a
    degenerate-but-valid LZW stream — the decode side still runs the
    real variable-width bit unpacker, dictionary machinery, palette
    lookup and block walk (multimodal.decode_gif; dictionary GROWTH
    and the KwKwK case are pinned separately against canonical giflib
    in tests/test_multimodal_pixels.py)."""

    def v(k):  # pixel k in row-major order: x = k % w, y = k // w
        # floor(k / w) is exact here: both operands are small ints, so
        # the double quotient is correctly rounded and integer-valued
        # quotients are represented exactly
        y = F.floor(k / w).cast("int")
        return (doc_id + 11 * f + 3 * (k % w) + 7 * y) % 256

    # 4-pixel group: codes CLEAR(256),s0,CLEAR,s1,CLEAR,s2,CLEAR,s3 at
    # 9 bits LSB-first = 72 bits = 9 bytes; CLEAR contributes only its
    # bit 8 (0x100), landing on bits 8/26/44/62 of the group.
    def group_hex(g):
        s0, s1, s2, s3 = v(4 * g), v(4 * g + 1), v(4 * g + 2), v(4 * g + 3)
        return F.concat(
            F.lit("0900"),                        # block len 9, b0 = 0
            _hex_pair((s0 % 128) * 2 + 1),        # b1 = 1 | ((s0&127)<<1)
            _hex_pair(_idiv(s0, 128)),                 # b2 = s0 >> 7
            _hex_pair((s1 % 32) * 8 + 4),         # b3 = 4 | ((s1&31)<<3)
            _hex_pair(_idiv(s1, 32)),                  # b4 = s1 >> 5
            _hex_pair((s2 % 8) * 32 + 16),        # b5 = 16 | ((s2&7)<<5)
            _hex_pair(_idiv(s2, 8)),                   # b6 = s2 >> 3
            _hex_pair((s3 % 2) * 128 + 64),       # b7 = 64 | ((s3&1)<<7)
            _hex_pair(_idiv(s3, 2)),                   # b8 = s3 >> 1
        )

    n_px = w * h
    n4 = n_px - n_px % 4  # first un-grouped pixel index
    # exact: n4 is a multiple of 4 and small, so the double division
    # is integral before the cast
    n_groups = (n4 / 4).cast("long")
    groups = F.when(
        n4 > 0,
        F.array_join(
            F.transform(F.sequence(F.lit(0).cast("long"), n_groups - 1),
                        group_hex), ""),
    ).otherwise(F.lit(""))
    s0, s1, s2 = v(n4), v(n4 + 1), v(n4 + 2)
    # tail block: leftover pixels then EOI(257 = bits 0 and 8 of its
    # 9-bit slot); same bit positions as the group math, EOI replacing
    # the next CLEAR slot.
    tail = (
        F.when(n_px % 4 == 0, F.lit("020101"))
        .when(n_px % 4 == 1, F.concat(
            F.lit("0400"),
            _hex_pair((s0 % 128) * 2 + 1),
            _hex_pair(_idiv(s0, 128) + 4),             # EOI bit 18
            F.lit("04"),                          # EOI bit 26
        ))
        .when(n_px % 4 == 2, F.concat(
            F.lit("0600"),
            _hex_pair((s0 % 128) * 2 + 1),
            _hex_pair(_idiv(s0, 128)),
            _hex_pair((s1 % 32) * 8 + 4),
            _hex_pair(_idiv(s1, 32) + 16),             # EOI bit 36
            F.lit("10"),                          # EOI bit 44
        ))
        .otherwise(F.concat(
            F.lit("0800"),
            _hex_pair((s0 % 128) * 2 + 1),
            _hex_pair(_idiv(s0, 128)),
            _hex_pair((s1 % 32) * 8 + 4),
            _hex_pair(_idiv(s1, 32)),
            _hex_pair((s2 % 8) * 32 + 16),
            _hex_pair(_idiv(s2, 8) + 64),              # EOI bit 54
            F.lit("40"),                          # EOI bit 62
        ))
    )
    return F.concat(
        F.lit("474946383961"),                    # "GIF89a"
        _hex_le(w, 4), _hex_le(h, 4),             # logical screen
        F.lit("F70000"),                          # GCT present, 256 entries
        F.lit(_GIF_PALETTE_HEX),
        F.lit("2C"), F.lit("00000000"),           # image at (0,0)
        _hex_le(w, 4), _hex_le(h, 4),
        F.lit("00"),                              # no local table/interlace
        F.lit("08"),                              # LZW min code size
        groups, tail,
        F.lit("003B"),                            # block terminator + trailer
    )


# Constant JPEG header hex for the DC-only craft: SOI; DQT (table 0,
# all entries 8 — so a flat block's IDCT value is exactly its stored
# DC coefficient); DHT DC table 0 with the SINGLE symbol category-4 at
# code length 1 (code "0"); DHT AC table 0 with the single symbol EOB
# at code length 3 (code "000"); then SOF0 (dims spliced between) and
# a 1-component SOS. With every DC diff held in category 4, each block
# is exactly 0|dddd|000 = ONE closed-form byte — the JPEG analog of
# the GIF craft's constant-9-bit-code trick.
_JPEG_CRAFT_HEAD = (
    "FFD8"
    "FFDB004300" + "08" * 64
    + "FFC4001400" + "01" + "00" * 15 + "04"
    + "FFC4001410" + "000001" + "00" * 13 + "00"
    + "FFC0000B08"
)
_JPEG_CRAFT_SOF_TAIL = "01011100"
_JPEG_CRAFT_SOS = "FFDA0008010100003F00"


def _jpeg_frame_hex(doc_id, w, h, f):
    """Hex of one crafted BASELINE JPEG (grayscale, DC-only blocks)
    built from JVM expressions. Unlike BMP/PNG/GIF the format is lossy
    for arbitrary grids, so the JPEG frames render a BLOCKWISE grid
    that decodes EXACTLY: every 8x8 block is flat at p = 128 + a +
    (blk%2)*delta with a = doc_id%8+8, delta = (doc_id+11f)%8+8, blk
    the raster block index — all DC diffs (a first, then alternating
    +/-delta) sit in Huffman category 4, so with the single-symbol
    tables of _JPEG_CRAFT_HEAD each block's entropy coding is the one
    byte (bits << 3), bits = d > 0 ? d : d+15. The decode side
    (multimodal.decode_jpeg) still runs the REAL marker walk,
    canonical-Huffman build, bit unpacking, EXTEND, dequant, and IDCT
    — general AC/subsampling paths are pinned against canonical
    libjpeg in tests/test_jpeg_decoder.py."""
    a = doc_id % 8 + 8
    delta = (doc_id + 11 * f) % 8 + 8
    bw = _idiv(w + 7, 8)
    bh = _idiv(h + 7, 8)

    def block_hex(i):
        bits = (
            F.when(i == 0, a)
            .when(i % 2 == 1, delta)
            .otherwise(15 - delta)
        )
        return _hex_pair(bits * 8)

    return F.concat(
        F.lit(_JPEG_CRAFT_HEAD),
        _hex_be(h, 4), _hex_be(w, 4),
        F.lit(_JPEG_CRAFT_SOF_TAIL),
        F.lit(_JPEG_CRAFT_SOS),
        F.array_join(
            F.transform(F.sequence(F.lit(0), bw * bh - 1), block_hex), ""),
        F.lit("FFD9"),
    )


def _wav_frame_hex(doc_id, n_frames, sr, ch):
    """Hex of one crafted integer-PCM16 WAV built from JVM expressions
    (no UDF on the encode side): frame i, channel c stores the 16-bit
    word u = (doc_id*7 + 9973*i + 5*c) % 65536 little-endian, whose
    two's-complement reading is the signed sample
    s(i,c) = ((doc_id*7 + 9973*i + 5*c + 32768) % 65536) - 32768.
    The 9973 stride sweeps the full 16-bit range inside ANY analysis
    window, so window energies sit near the uniform mean (~3.58e8 per
    sample) at every scale factor — a fixed VAD threshold yields a
    real active/inactive mix regardless of corpus size. The decode
    side
    (multimodal.decode_wav_pcm) must undo the RIFF/fmt/data walk and
    the sign convention to reproduce the closed-form samples; the
    audio-feature oracles recompute the exact-integer features from
    the same formula. Staged for the round-11 audio keys."""
    def u16(i, c):  # two's-complement image of the signed sample
        return (doc_id * 7 + 9973 * i + 5 * c) % 65536

    def frame_hex(i):
        return F.concat(
            *[_hex_le(u16(i, c), 4) for c in range(ch)])

    data_len = n_frames * ch * 2
    return F.concat(
        F.lit("52494646"),                        # "RIFF"
        _hex_le(data_len + 36, 8),                # riff size
        F.lit("57415645"), F.lit("666D7420"),     # "WAVE" "fmt "
        F.lit("10000000"), F.lit("0100"),         # fmt len 16, PCM
        F.lit(f"{ch:02X}00"),                     # channels (const)
        _hex_le(sr, 8),
        _hex_le(sr * ch * 2, 8),                  # byte rate
        F.lit(f"{ch * 2:02X}00"), F.lit("1000"),  # block align, 16 bit
        F.lit("64617461"), _hex_le(data_len, 8),  # "data"
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_frames - 1), frame_hex),
            ""),
    )


# --- single-parse SQL forms of the pixel-frame crafts -----------------------
#
# The Column-operator craft builders above cost ~1-2 s of py4j round
# trips PER QUERY CONSTRUCTION (every F.fn call is a ~2-3 ms round trip
# — see the construction-cost note in functions/sqlfrag.py), and their
# per-pixel transform lambdas evaluate interpreted (higher-order
# functions never reach codegen). The _sql_* builders
# below emit the identical byte streams as SQL TEXT parsed by ONE
# F.expr, and replace the per-pixel hex arithmetic with substring
# lookups into driver-computed constant tables:
#
#   BMP/PNG rows: the x-th pixel triple of a row is trip((c+3x)%256)
#   with c = (doc_id+11f+7y)%256. Since 3·171 ≡ 1 (mod 256), write
#   c ≡ 3d (mod 256) with d = 171c mod 256; then the row is the
#   CONTIGUOUS slice [d, d+w) of the 256-entry table T[t] =
#   trip((3t)%256) — one substring per ROW instead of 3 hex-pair
#   expression trees per PIXEL.
#
#   GIF groups: bytes (b1,b2) depend only on s0, (b3,b4) on s1, etc.,
#   so each pair is a 4-hex-char lookup in a 256-entry table — four
#   substrings per 4-pixel group instead of eight hex-pair chains.
#
# Equality with the Column builders was verified exhaustively over the
# full doc_id residue period (lcm(256,12,9,8,2,7) = 16128 ids, both
# single- and multi-frame payloads) before the Column forms were
# retired; the mm oracle hashes re-prove the bytes end-to-end.
_BMP_ROWTAB = "".join(
    f"{(3 * t) % 256:02X}{((3 * t) + 85) % 256:02X}{((3 * t) + 170) % 256:02X}"
    for t in range(256)
) * 2
_PNG_ROWTAB = "".join(
    f"{((3 * t) + 170) % 256:02X}{((3 * t) + 85) % 256:02X}{(3 * t) % 256:02X}"
    for t in range(256)
) * 2


# GIF 9-bit LSB-first group-byte pair tables, indexed by symbol value.
_GIF_TAB_A = "".join(
    f"{(s % 128) * 2 + 1:02X}{s // 128:02X}" for s in range(256))
_GIF_TAB_B = "".join(
    f"{(s % 32) * 8 + 4:02X}{s // 32:02X}" for s in range(256))
_GIF_TAB_C = "".join(
    f"{(s % 8) * 32 + 16:02X}{s // 8:02X}" for s in range(256))
_GIF_TAB_D = "".join(
    f"{(s % 2) * 128 + 64:02X}{s // 2:02X}" for s in range(256))


def _sql_hex_be2(e: str, width: int) -> str:
    return f"lpad(hex({e}), {width}, '0')"


def _sql_hex_le2(e: str, width: int) -> str:
    hx = _sql_hex_be2(e, width)
    return "concat(%s)" % ", ".join(
        f"substring({hx}, {i}, 2)" for i in range(width - 1, 0, -2)
    )


def _bmp_frame_sql(did: str, w: str, h: str, f: str) -> str:
    """SQL text of the crafted 24bpp BMP of ``_bmp_frame_hex``'s
    contract: v(x,y) = (doc_id+11f+3x+7y)%256, channels B=v, G=v+85,
    R=v+170 (mod 256), rows padded to 4-byte words, storage order
    alternating by (doc_id+f) parity (even bottom-up, odd top-down
    with negative i32 height)."""
    td = f"(pmod({did} + {f}, 2) = 1)"
    y = f"(CASE WHEN {td} THEN j ELSE {h} - 1 - j END)"
    d = f"pmod(pmod({did} + 11 * {f} + 7 * {y}, 256) * 171, 256)"
    padn = f"pmod(4 - pmod({w} * 3, 4), 4)"
    row = (
        f"concat(substring('{_BMP_ROWTAB}', 6 * {d} + 1, 6 * {w}),"
        f" substring('000000', 1, 2 * {padn}))"
    )
    pixdata = f"array_join(transform(sequence(0, {h} - 1), j -> {row}), '')"
    img_size = f"(({w} * 3 + {padn}) * {h})"
    height_field = f"(CASE WHEN {td} THEN 4294967296 - {h} ELSE {h} END)"
    return "concat(%s)" % ", ".join([
        "'424D'", _sql_hex_le2(f"({img_size} + 54)", 8),
        "'0000000036000000'",
        "'28000000'", _sql_hex_le2(w, 8), _sql_hex_le2(height_field, 8),
        "'01001800'", "'00000000'", _sql_hex_le2(img_size, 8),
        "'130B0000130B0000'", "'0000000000000000'",
        pixdata,
    ])


def _png_frame_sql(did: str, w: str, h: str, f: str) -> str:
    """SQL text of the crafted non-interlaced 8-bit RGB PNG of
    ``_png_frame_hex``'s contract (stored-DEFLATE IDAT, y%3 filter
    cycle None/Sub/Up, zeroed CRCs/adler)."""
    d = f"pmod(pmod({did} + 11 * {f} + 7 * j, 256) * 171, 256)"
    none_row = f"concat('00', substring('{_PNG_ROWTAB}', 6 * {d} + 1, 6 * {w}))"
    sub_row = (
        f"concat('01', substring('{_PNG_ROWTAB}', 6 * {d} + 1, 6),"
        f" repeat('03', cast(({w} - 1) * 3 as int)))"
    )
    up_row = f"concat('02', repeat('07', cast({w} * 3 as int)))"
    row = (
        f"(CASE WHEN pmod(j, 3) = 0 THEN {none_row}"
        f" WHEN pmod(j, 3) = 1 THEN {sub_row}"
        f" ELSE {up_row} END)"
    )
    rows = f"array_join(transform(sequence(0, {h} - 1), j -> {row}), '')"
    scan_len = f"({h} * (1 + 3 * {w}))"
    return "concat(%s)" % ", ".join([
        "'89504E470D0A1A0A'",
        "'0000000D49484452'",
        _sql_hex_be2(w, 8), _sql_hex_be2(h, 8),
        "'0802000000'",
        "'00000000'",
        _sql_hex_be2(f"({scan_len} + 11)", 8), "'49444154'",
        "'7801'",
        "'01'",
        _sql_hex_le2(scan_len, 4), _sql_hex_le2(f"(65535 - {scan_len})", 4),
        rows,
        "'00000000'",
        "'00000000'",
        "'0000000049454E44AE426082'",
    ])


def _gif_v_sql(did: str, w: str, f: str, k: str) -> str:
    """GIF pixel value at row-major index ``k`` (see _gif_frame_hex)."""
    return (
        f"pmod({did} + 11 * {f} + 3 * ({k} % {w})"
        f" + 7 * cast(floor(({k}) / {w}) as int), 256)"
    )


def _gif_frame_sql(did: str, w: str, h: str, f: str) -> str:
    """SQL text of the crafted GIF89a of ``_gif_frame_hex``'s contract
    (CLEAR-before-every-symbol constant-9-bit LZW, 256-entry palette
    (v+170, v+85, v))."""
    s = [_gif_v_sql(did, w, f, k) for k in
         ("(4 * g)", "(4 * g + 1)", "(4 * g + 2)", "(4 * g + 3)")]
    ghex = (
        "concat('0900',"
        f" substring('{_GIF_TAB_A}', 4 * {s[0]} + 1, 4),"
        f" substring('{_GIF_TAB_B}', 4 * {s[1]} + 1, 4),"
        f" substring('{_GIF_TAB_C}', 4 * {s[2]} + 1, 4),"
        f" substring('{_GIF_TAB_D}', 4 * {s[3]} + 1, 4))"
    )
    n_px = f"({w} * {h})"
    n4 = f"({n_px} - pmod({n_px}, 4))"
    n_groups = f"cast({n4} / 4 as bigint)"
    groups = (
        f"(CASE WHEN {n4} > 0 THEN array_join(transform("
        f"sequence(cast(0 as bigint), {n_groups} - 1), g -> {ghex}), '')"
        " ELSE '' END)"
    )
    t0 = _gif_v_sql(did, w, f, n4)
    t1 = _gif_v_sql(did, w, f, f"({n4} + 1)")
    t2 = _gif_v_sql(did, w, f, f"({n4} + 2)")

    def hx2(e: str) -> str:
        return f"lpad(hex({e}), 2, '0')"

    tail = (
        f"(CASE WHEN pmod({n_px}, 4) = 0 THEN '020101'"
        f" WHEN pmod({n_px}, 4) = 1 THEN concat('0400',"
        f" {hx2(f'pmod({t0}, 128) * 2 + 1')},"
        f" {hx2(f'({t0} div 128) + 4')}, '04')"
        f" WHEN pmod({n_px}, 4) = 2 THEN concat('0600',"
        f" {hx2(f'pmod({t0}, 128) * 2 + 1')},"
        f" {hx2(f'{t0} div 128')},"
        f" {hx2(f'pmod({t1}, 32) * 8 + 4')},"
        f" {hx2(f'({t1} div 32) + 16')}, '10')"
        f" ELSE concat('0800',"
        f" {hx2(f'pmod({t0}, 128) * 2 + 1')},"
        f" {hx2(f'{t0} div 128')},"
        f" {hx2(f'pmod({t1}, 32) * 8 + 4')},"
        f" {hx2(f'{t1} div 32')},"
        f" {hx2(f'pmod({t2}, 8) * 32 + 16')},"
        f" {hx2(f'({t2} div 8) + 64')}, '40') END)"
    )
    return "concat(%s)" % ", ".join([
        "'474946383961'",
        _sql_hex_le2(w, 4), _sql_hex_le2(h, 4),
        "'F70000'",
        f"'{_GIF_PALETTE_HEX}'",
        "'2C'", "'00000000'",
        _sql_hex_le2(w, 4), _sql_hex_le2(h, 4),
        "'00'",
        "'08'",
        groups, tail,
        "'003B'",
    ])


def _jpeg_frame_sql(did: str, w: str, h: str, f: str) -> str:
    """SQL text of the crafted DC-only baseline JPEG of
    ``_jpeg_frame_hex``'s contract (single-symbol Huffman tables, one
    closed-form byte per 8x8 block)."""
    a = f"(pmod({did}, 8) + 8)"
    delta = f"(pmod({did} + 11 * {f}, 8) + 8)"
    bw = f"(({w} + 7) div 8)"
    bh = f"(({h} + 7) div 8)"
    bits = (
        f"(CASE WHEN i = 0 THEN {a}"
        f" WHEN pmod(i, 2) = 1 THEN {delta}"
        f" ELSE 15 - {delta} END)"
    )
    block = f"lpad(hex({bits} * 8), 2, '0')"
    return "concat(%s)" % ", ".join([
        f"'{_JPEG_CRAFT_HEAD}'",
        _sql_hex_be2(h, 4), _sql_hex_be2(w, 4),
        f"'{_JPEG_CRAFT_SOF_TAIL}'",
        f"'{_JPEG_CRAFT_SOS}'",
        f"array_join(transform(sequence(0, {bw} * {bh} - 1), i -> {block}), '')",
        "'FFD9'",
    ])


def _pixel_frame_sql(did: str, f: str) -> str:
    """One frame's hex as SQL text: format cycles by (doc_id + f) % 8
    exactly as the retired Column-form frame_hex did."""
    w = f"({did} % 12 + 4)"
    h = f"({did} % 9 + 4)"
    fmt = f"pmod({did} + {f}, 8)"
    return (
        f"(CASE WHEN {fmt} >= 6 THEN {_jpeg_frame_sql(did, w, h, f)}"
        f" WHEN {fmt} >= 4 THEN {_gif_frame_sql(did, w, h, f)}"
        f" WHEN {fmt} >= 2 THEN {_png_frame_sql(did, w, h, f)}"
        f" ELSE {_bmp_frame_sql(did, w, h, f)} END)"
    )


def _crafted_pixel_media(spark, sf_dir, frames=False):
    """Crafted MIXED-format pixel corpus over documents: w =
    doc_id%12+4, h = doc_id%9+4 (small grids keep the JVM-side hex
    craft cheap; every pad width and both BMP storage orders occur).
    Format cycles by (doc_id + f) % 8 — BMP for 0/1 (both storage
    orientations survive, since _bmp_frame_hex flips orientation on
    the same parity), PNG for 2/3, GIF for 4/5, baseline JPEG for 6/7
    (round 11). BMP/PNG/GIF render the IDENTICAL logical pixel grid;
    JPEG — lossy for arbitrary grids — renders the BLOCKWISE grid of
    _jpeg_frame_hex that decodes exactly, so the closed-form oracles
    branch ONCE on (media_id + frame_idx) % 8 >= 6 and never otherwise
    mention format. ``frames=True`` packs doc_id%7+1 concatenated
    frames per doc with the format alternating WITHIN the container (a
    real mixed-stream walk on the decode side). doc_id >= 0 guards the
    hex-craft invariant."""
    from streaming_demos_spark.catalog import fan_out

    # fan_out BEFORE the craft expressions: the per-pixel hex builders
    # below are interpreted higher-order transforms (never codegen) and
    # previously evaluated inside the row-group-bound documents scan
    # (~3 tasks at bench scale) — as_media's own fan_out only
    # parallelized the already-crafted payloads. Repartitioning first
    # spreads the craft itself; at real scale the scan has many splits
    # and fan_out inserts nothing (guide §2.5 input skew).
    docs = fan_out(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 0).select("doc_id"),
        "doc_id",
    )
    doc_id = F.col("doc_id")

    # ONE F.expr for the whole payload (see the _sql_* craft builders
    # above): parses in a single py4j round trip and swaps the
    # interpreted per-pixel hex arithmetic for substring table lookups.
    if frames:
        payload_hex = F.expr(
            "array_join(transform(sequence(0, doc_id % 7),"
            f" f -> {_pixel_frame_sql('doc_id', 'f')}), '')"
        )
    else:
        payload_hex = F.expr(_pixel_frame_sql("doc_id", "0"))
    crafted = docs.select(
        doc_id, F.unhex(payload_hex).alias("img"))
    return MM.as_media(crafted, "doc_id", "img",
                       kind="video" if frames else "image")


@key("mm_media_features", oracle="""
            WITH m AS (
                -- f = 4 is also the route for doc_id < 0 (never
                -- crafted: a negative multiple of 5 has doc_id % 5 = 0
                -- on both engines, so the sign check must be explicit)
                SELECT doc_id,
                       CASE WHEN doc_id >= 0 THEN doc_id % 5
                            ELSE 4 END AS f,
                       doc_id % 640 + 1 AS w, doc_id % 480 + 1 AS h,
                       (doc_id % 8) * 4000 + 8000 AS sr,
                       doc_id % 2 + 1 AS ch,
                       COALESCE(octet_length(encode(text)), 0)
                           AS text_bytes
                FROM documents
            )
            SELECT doc_id AS media_id,
                   CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                          WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
                          ELSE 'unknown' END AS format,
                   (CASE WHEN f IN (0, 1, 2) THEN w ELSE 0 END)::BIGINT
                       AS width,
                   (CASE WHEN f IN (0, 1, 2) THEN h ELSE 0 END)::BIGINT
                       AS height,
                   (CASE WHEN f = 3 THEN sr ELSE 0 END)::BIGINT
                       AS sample_rate_hz,
                   (CASE f WHEN 1 THEN 3 WHEN 3 THEN ch
                           ELSE 0 END)::BIGINT AS channels,
                   (CASE WHEN f IN (0, 1) THEN 8 WHEN f = 3 THEN 16
                         ELSE 0 END)::BIGINT AS bit_depth,
                   (CASE f WHEN 0 THEN 33 WHEN 1 THEN 39
                           WHEN 2 THEN 13 WHEN 3 THEN 36
                           ELSE text_bytes END)::BIGINT AS n_bytes
            FROM m
        """)
def q_multimodal_features(spark, sf_dir):
    # REAL media metadata extraction (round 8): craft a mixed media
    # corpus JVM-side — each doc becomes a valid PNG / JPEG(JFIF+SOF0)
    # / GIF89a / WAV(RIFF fmt) header or raw text by doc_id % 5, with
    # dimensions derived from doc_id — then round-trip it through the
    # pure-stdlib header parser (multimodal.parse_media_header over
    # Arrow batches). The byte streams are built as hex strings + one
    # unhex (no UDF on the encode side), so the decode step is parsing
    # genuine binary container headers, not replaying its own input.
    # The oracle recomputes the declared dimensions closed-form.
    #
    # Only the four CRAFTED branches run through the header parser;
    # the text branch (f=4, and any doc_id < 0, where % keeps sign on
    # both engines so f_idx matches none of 0..3) emits its 'unknown'
    # row directly. This mirrors the oracle exactly: a text that
    # happens to start with a printable magic ('GIF89a', 'RIFF..WAVE')
    # can never sniff as media on one side only, and the be()/le() hex
    # helpers (which assume non-negative ints — F.hex of a negative is
    # 16-digit two's-complement that lpad would TRUNCATE to the high
    # hex digits) are only reached for doc_id >= 0.
    docs = _t(spark, sf_dir, "documents")
    f_idx = F.col("doc_id") % 5
    w = F.col("doc_id") % 640 + 1
    h = F.col("doc_id") % 480 + 1
    sr = (F.col("doc_id") % 8) * 4000 + 8000
    ch = F.col("doc_id") % 2 + 1
    be, le = _hex_be, _hex_le

    png_hex = F.concat(
        # signature + IHDR length(13) + "IHDR"
        F.lit("89504E470D0A1A0A0000000D49484452"),
        be(w, 8), be(h, 8),
        # bit depth 8, color type 6 (RGBA), compression/filter/
        # interlace 0, CRC (unchecked by any header reader)
        F.lit("080600000000000000"),
    )
    jpeg_hex = F.concat(
        # SOI + APP0/JFIF (len 16, v1.1, no thumbnail)
        F.lit("FFD8FFE000104A46494600010100000100010000"),
        # SOF0: len 17, precision 8, height, width, 3 components
        F.lit("FFC0001108"), be(h, 4), be(w, 4),
        F.lit("03011100021101031101"),
    )
    gif_hex = F.concat(
        F.lit("474946383961"),  # "GIF89a"
        le(w, 4), le(h, 4),
        F.lit("000000"),  # GCT flags, background, aspect
    )
    wav_hex = F.concat(
        # "RIFF" + riff size 28 + "WAVE" + "fmt " + fmt len 16 + PCM
        F.lit("524946461C00000057415645666D7420100000000100"),
        le(ch, 4), le(sr, 8),
        le(sr * ch * 2, 8),  # byte rate
        le(ch * 2, 4),       # block align
        F.lit("1000"),       # 16 bits per sample
    )
    payload = (
        F.when(f_idx == 0, F.unhex(png_hex))
        .when(f_idx == 1, F.unhex(jpeg_hex))
        .when(f_idx == 2, F.unhex(gif_hex))
        .otherwise(F.unhex(wav_hex))
    )
    # doc_id >= 0 must be explicit: a NEGATIVE MULTIPLE of 5 has
    # f_idx == 0 on both engines (sign only survives a non-zero
    # remainder), so the isin() routing alone would still feed it to
    # the hex crafter. The oracle applies the identical predicate.
    is_crafted = (F.col("doc_id") >= 0) & f_idx.isin(0, 1, 2, 3)
    crafted = docs.filter(is_crafted).select(
        F.col("doc_id"), payload.alias("media_bytes"))
    media = MM.as_media(crafted, "doc_id", "media_bytes", kind="mixed")
    parsed = MM.extract_features(media, decoder="headers")
    # text/negative branch: the 'unknown' row, emitted directly (never
    # sniffed). coalesce: a NULL text counts 0 bytes on both sides —
    # not a NULL-vs-0 bridge split.
    text_rows = docs.filter(~is_crafted).select(
        F.col("doc_id").alias("media_id"),
        F.lit("unknown").alias("format"),
        F.lit(0).cast("long").alias("width"),
        F.lit(0).cast("long").alias("height"),
        F.lit(0).cast("long").alias("sample_rate_hz"),
        F.lit(0).cast("long").alias("channels"),
        F.lit(0).cast("long").alias("bit_depth"),
        F.octet_length(F.coalesce(F.col("text"), F.lit("")))
        .cast("long").alias("n_bytes"),
    )
    return parsed.unionByName(text_rows)


@key("mm_resize", oracle=lambda: f"""
            -- closed-form mirror of the crafted-pixel decode + 8x8
            -- nearest-neighbor RGB resize: output pixel (xo,yo) reads
            -- source ((xo*w)//8, (yo*h)//8); channels R=v+170, G=v+85,
            -- B=v (mod 256). Storage order / padding / BGR are the
            -- DECODER's problem — the oracle only knows the logical grid.
            WITH m AS (
                SELECT doc_id AS media_id,
                       doc_id % 12 + 4 AS w, doc_id % 9 + 4 AS h
                FROM documents WHERE doc_id >= 0
            )
            SELECT media_id,
                   'image/x-raw-rgb24;w=8;h=8' AS mime,
                   192::BIGINT AS n_bytes,
                   array_to_string(list_transform(range(0, 64), i ->
                       CASE WHEN media_id % 8 >= 6
                            THEN printf('%02X%02X%02X',
                                        {_JPEG_SQL_CELL_P},
                                        {_JPEG_SQL_CELL_P},
                                        {_JPEG_SQL_CELL_P})
                            ELSE printf('%02X%02X%02X',
                                        ({_BMP_SQL_V} + 170) % 256,
                                        ({_BMP_SQL_V} + 85) % 256,
                                        {_BMP_SQL_V}) END), '')
                       AS payload_hex
            FROM m
        """)
def q_mm_resize(spark, sf_dir):
    # REAL pixel resize over a MIXED-format corpus (round 10; JPEG
    # joined round 11): crafted 24bpp BMPs (padding, BGR, both storage
    # orders), non-interlaced RGB PNGs (real stdlib-zlib inflate +
    # Sub/Up scanline unfiltering), GIF89a images (real LZW
    # bit-unpacking + 256-entry palette lookup), and baseline JPEGs
    # (real T.81 marker walk, canonical-Huffman entropy decode,
    # dequant + IDCT on the exactly-decodable DC-only craft);
    # decoder="pixels" sniffs the magic per payload and all four
    # decode paths feed one 2-D nearest-neighbor resize to 8x8 RGB
    # over Arrow batches. The oracle recomputes every output pixel
    # closed-form from doc_id — any padding/orientation/channel-order/
    # filter/code-width/Huffman slip in ANY decoder flips the hash.
    resized = MM.resize_images(
        _crafted_pixel_media(spark, sf_dir),
        width=8, height=8, decoder="pixels")
    return resized.select(
        "media_id",
        F.col("meta")["mime"].alias("mime"),
        F.col("meta")["n_bytes"].alias("n_bytes"),
        F.hex("payload").alias("payload_hex"),
    )


_MM_SQL_FRAME_LUM = (
    "(CASE WHEN (media_id + frame_idx) % 8 >= 6"
    f" THEN {_JPEG_SQL_FRAME_P} ELSE {_BMP_SQL_FRAME_LUM} END)")


@key("mm_frame_sample", oracle=lambda: f"""
            -- closed-form mirror of the concatenated-BMP container walk:
            -- every 3rd frame of doc_id%7+1 frames, emitted as its
            -- integer-luma plane (row-major top-down, w*h cells)
            WITH m AS (
                SELECT doc_id AS media_id,
                       doc_id % 12 + 4 AS w, doc_id % 9 + 4 AS h,
                       doc_id % 7 + 1 AS nf
                FROM documents WHERE doc_id >= 0
            ),
            fr AS (
                SELECT media_id, w, h,
                       unnest(range(0, nf, 3)) AS frame_idx
                FROM m
            )
            SELECT media_id, frame_idx,
                   array_to_string(list_transform(range(0, w * h), i ->
                       printf('%02X', {_MM_SQL_FRAME_LUM})), '')
                       AS frame_hex
            FROM fr
        """)
def q_mm_frame_sample(spark, sf_dir):
    # REAL mixed-stream container walk (round 10; JPEG joined round
    # 11): each doc's payload is doc_id%7+1 concatenated crafted
    # frames with the FORMAT cycling within the container (BMP stepped
    # by declared file size, PNG by chunk structure, GIF by block walk
    # to its 0x3B trailer, JPEG by segment lengths + the entropy scan
    # to EOI); sample_frames(decoder='pixels') walks the mixed stream,
    # decodes every 3rd frame through the sniffed decoder, and emits
    # its integer-luma plane. Oracle: closed-form luma grid per
    # sampled frame index (one format branch for the JPEG positions).
    media = _crafted_pixel_media(spark, sf_dir, frames=True)
    frames = MM.sample_frames(media, every_n=3, decoder="pixels")
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.hex("frame").alias("frame_hex"),
    )


# Format-branched luma of the 64 8x8 cells (pHash oracle).
_MM_SQL_CELL_LUM = (f"(CASE WHEN media_id % 8 >= 6 THEN {_JPEG_SQL_CELL_P}"
                    f" ELSE {_BMP_SQL_CELL_LUM} END)")


@key("mm_phash_neardup", oracle=lambda: f"""
            -- closed-form mirror of the real pixel aHash: 64 integer
            -- luma cells per crafted image (BMP/PNG/GIF share one
            -- grid; JPEG docs take the blockwise branch; decode is the
            -- Spark side's problem), then band join + Hamming verify
            WITH base AS (
                SELECT doc_id AS media_id,
                       doc_id % 12 + 4 AS w, doc_id % 9 + 4 AS h
                FROM documents WHERE doc_id >= 0
            ),
            cells AS (
                SELECT media_id,
                       list_transform(range(0, 64),
                                      i -> {_MM_SQL_CELL_LUM}) AS cs
                FROM base
            ),
            hs AS (
                SELECT media_id,
                       array_to_string(list_transform(cs,
                           c -> CASE WHEN 64 * c > list_sum(cs)
                                     THEN '1' ELSE '0' END), '') AS ahash
                FROM cells
            ),
            bands AS (
                SELECT media_id, ahash, b,
                       substr(ahash, b * 16 + 1, 16) AS bv
                FROM hs, range(0, 4) t(b)
            ),
            capped AS (
                SELECT * FROM (
                    SELECT *, count(*) OVER (PARTITION BY b, bv) AS bn
                    FROM bands
                ) WHERE bn <= 200
            ),
            cand AS (
                SELECT DISTINCT a.media_id AS id_a, c2.media_id AS id_b,
                       a.ahash AS ha, c2.ahash AS hb
                FROM capped a JOIN capped c2
                  ON a.b = c2.b AND a.bv = c2.bv
                 AND a.media_id < c2.media_id
            ),
            scored AS (
                SELECT id_a, id_b,
                       len(list_filter(range(1, 65),
                           i -> substr(ha, i, 1) <> substr(hb, i, 1)))
                           AS hamming
                FROM cand
            )
            SELECT id_a, id_b, hamming FROM scored WHERE hamming <= 8
        """)
def q_mm_phash_neardup(spark, sf_dir):
    # Perceptual-hash near-dup pairs over REAL pixels from a MIXED
    # BMP+PNG+GIF corpus (round 10): all formats decode to the same
    # closed-form grid, get luma-planed and 8x8-resampled into a
    # genuine average-hash (multimodal._ahash_pixels via the sniffing
    # 'pixels' decoder), then the SimHash-style band join + exact
    # Hamming verify pairs near-dups (multimodal.py:perceptual_hash/
    # phash_near_dup_pairs) — cross-format pairs included, exactly
    # what a real image-dedup pass wants. The oracle recomputes the 64
    # luma cells closed-form from doc_id and mirrors the banding.
    hashes = MM.perceptual_hash(
        _crafted_pixel_media(spark, sf_dir), decoder="pixels")
    return MM.phash_near_dup_pairs(hashes, max_hamming=8)


@key("mm_exact_dedup", oracle="""
            WITH ph AS (
                SELECT md5(text) AS h, count(*) AS n,
                       max(octet_length(encode(text))) AS b
                FROM documents GROUP BY 1
            )
            SELECT sum(n)::BIGINT AS n_media,
                   count(*) AS n_distinct_payloads,
                   sum(n - 1)::BIGINT AS n_exact_dupes,
                   sum(n * b)::BIGINT AS bytes_total,
                   sum((n - 1) * b)::BIGINT AS bytes_dedupable
            FROM ph
        """)
def q_mm_exact_dedup(spark, sf_dir):
    # Byte-level media dedup summary: md5-keyed combinable aggregation,
    # payloads never shuffle (multimodal.py:exact_media_dedup_summary).
    media = MM.as_media(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.exact_media_dedup_summary(media)


def _wav_frame_sql(did: str, n: str, sr: str, ch: int) -> str:
    """SQL text of ``_wav_frame_hex``'s crafted PCM16 WAV (same byte
    stream; see the single-parse rationale at the pixel _sql_ crafts)."""
    frame = "concat(%s)" % ", ".join(
        _sql_hex_le2(f"pmod({did} * 7 + 9973 * i + 5 * {c}, 65536)", 4)
        for c in range(ch)
    )
    data_len = f"({n} * {ch * 2})"
    return "concat(%s)" % ", ".join([
        "'52494646'",
        _sql_hex_le2(f"({data_len} + 36)", 8),
        "'57415645'", "'666D7420'",
        "'10000000'", "'0100'",
        f"'{ch:02X}00'",
        _sql_hex_le2(sr, 8),
        _sql_hex_le2(f"({sr} * {ch * 2})", 8),
        f"'{ch * 2:02X}00'", "'1000'",
        "'64617461'", _sql_hex_le2(data_len, 8),
        f"array_join(transform(sequence(0, {n} - 1), i -> {frame}), '')",
    ])


def _crafted_wav_media(spark, sf_dir):
    """Crafted PCM16 WAV corpus over documents: n = doc_id%50+10
    frames, sr = (doc_id%4+1)*8000, channels = doc_id%2+1. Sample
    words follow the closed-form _wav_frame_hex formula, so the audio
    oracles recompute every exact-integer feature. doc_id >= 0 guards
    the hex-craft invariant."""
    from streaming_demos_spark.catalog import fan_out

    # fan_out BEFORE the craft (see _crafted_pixel_media) and ONE
    # F.expr for the whole payload (construction-cost note in
    # functions/sqlfrag.py).
    docs = fan_out(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") >= 0).select("doc_id"),
        "doc_id",
    )
    n = "(doc_id % 50 + 10)"
    sr = "((doc_id % 4 + 1) * 8000)"
    payload_hex = F.expr(
        f"CASE WHEN doc_id % 2 = 1 THEN {_wav_frame_sql('doc_id', n, sr, 2)}"
        f" ELSE {_wav_frame_sql('doc_id', n, sr, 1)} END"
    )
    crafted = docs.select(F.col("doc_id"), F.unhex(payload_hex).alias("wav"))
    return MM.as_media(crafted, "doc_id", "wav", kind="audio")


def _staged_wav_base_cte():
    return """
        WITH base AS (
            SELECT doc_id, doc_id % 50 + 10 AS n,
                   (doc_id % 4 + 1) * 8000 AS sr,
                   doc_id % 2 + 1 AS ch
            FROM documents WHERE doc_id >= 0
        )"""


# Closed-form signed sample s(i, c) for doc d — mirrors _wav_frame_hex.
_SQL_WAV_S = ("(((7 * {d} + 9973 * ({i}) + 5 * ({c}) + 32768) % 65536)"
              " - 32768)")
# ... on channel 0, the sample index left as a {i} placeholder.
_SQL_WAV_S0 = _SQL_WAV_S.format(d="doc_id", i="{i}", c="0")


@key("mm_audio_features", oracle=lambda: _staged_wav_base_cte() + f"""
            SELECT doc_id AS media_id,
                   sr AS sample_rate_hz,
                   ch AS channels,
                   n AS n_frames,
                   (n * 1000) // sr AS duration_ms,
                   list_max(list_transform(range(0, n * ch), k ->
                       abs({_SQL_WAV_S.format(d="doc_id", i="k // ch", c="k % ch")})
                   ))::BIGINT AS peak_abs,
                   list_sum(list_transform(range(1, n), i ->
                       CASE WHEN {_SQL_WAV_S0.format(i="i - 1")}
                                 * {_SQL_WAV_S0.format(i="i")} < 0
                            THEN 1 ELSE 0 END))::BIGINT AS zero_crossings,
                   list_sum(list_transform(range(0, n * ch), k ->
                       {_SQL_WAV_S.format(d="doc_id", i="k // ch", c="k % ch")}
                       * {_SQL_WAV_S.format(d="doc_id", i="k // ch", c="k % ch")}
                   ))::BIGINT AS sum_squares,
                   list_sum(list_transform(range(0, n), i ->
                       CASE WHEN abs({_SQL_WAV_S0.format(i="i")}) <= 20000
                                 AND (ch = 1 OR abs({_SQL_WAV_S.format(d="doc_id", i="i", c="1")}) <= 20000)
                            THEN 1 ELSE 0 END))::BIGINT AS silence_frames
            FROM base
        """)
def q_mm_audio_features(spark, sf_dir):
    # REAL integer-PCM decode + exact-integer audio features over the
    # crafted WAV corpus (multimodal.decode_wav_pcm/audio_features);
    # silence_abs=20000 so the silence gate fires on a meaningful
    # fraction of frames. Oracle: closed-form sample replay.
    return MM.audio_features(
        _crafted_wav_media(spark, sf_dir), silence_abs=20000)


@key("mm_audio_windows", oracle=lambda: _staged_wav_base_cte() + f""",
            win AS (
                SELECT doc_id, n, sr, (sr * 2) // 1000 AS w FROM base
            ),
            idx AS (
                SELECT doc_id, n, sr, w,
                       unnest(range(0, (n + w - 1) // w)) AS wi
                FROM win
            )
            SELECT doc_id AS media_id, wi AS win_idx,
                   (wi * w * 1000) // sr AS start_ms,
                   least(w, n - wi * w) AS n_samples,
                   list_sum(list_transform(
                       range(wi * w, least(n, (wi + 1) * w)), i ->
                       {_SQL_WAV_S0.format(i="i")} * {_SQL_WAV_S0.format(i="i")}
                   ))::BIGINT AS sum_squares,
                   list_max(list_transform(
                       range(wi * w, least(n, (wi + 1) * w)), i ->
                       abs({_SQL_WAV_S0.format(i="i")})))::BIGINT AS peak_abs
            FROM idx
        """)
def q_mm_audio_windows(spark, sf_dir):
    # Fixed-2ms analysis windows over channel 0 (decode-and-explode
    # kernel, partial tail emitted). Oracle: closed-form window sums.
    return MM.audio_windows(
        _crafted_wav_media(spark, sf_dir), window_ms=2)


@key("mm_audio_vad", oracle=lambda: _staged_wav_base_cte() + f""",
            win AS (
                SELECT doc_id, n, sr, (sr * 2) // 1000 AS w FROM base
            ),
            idx AS (
                SELECT doc_id, n, w,
                       unnest(range(0, (n + w - 1) // w)) AS wi
                FROM win
            ),
            feats AS (
                SELECT doc_id AS media_id, wi,
                       least(w, n - wi * w) AS n_samples,
                       list_sum(list_transform(
                           range(wi * w, least(n, (wi + 1) * w)), i ->
                           {_SQL_WAV_S0.format(i="i")} * {_SQL_WAV_S0.format(i="i")}
                       ))::BIGINT AS sum_squares,
                       list_max(list_transform(
                           range(wi * w, least(n, (wi + 1) * w)), i ->
                           abs({_SQL_WAV_S0.format(i="i")})))::BIGINT AS peak_abs
                FROM idx
            ),
            active AS (
                SELECT * FROM feats
                WHERE sum_squares >= 358000000 * n_samples
            ),
            runs AS (
                SELECT *,
                       CASE WHEN lag(wi) OVER
                                (PARTITION BY media_id ORDER BY wi)
                                IS DISTINCT FROM wi - 1
                            THEN 1 ELSE 0 END AS new_run
                FROM active
            ),
            segs AS (
                SELECT *,
                       sum(new_run) OVER
                           (PARTITION BY media_id ORDER BY wi
                            ROWS UNBOUNDED PRECEDING) AS seg
                FROM runs
            )
            SELECT media_id, (seg - 1)::BIGINT AS seg_idx,
                   min(wi) AS start_win, max(wi) AS end_win,
                   count(*)::BIGINT AS n_windows,
                   sum(sum_squares)::BIGINT AS sum_squares,
                   max(peak_abs) AS peak_abs
            FROM segs
            GROUP BY media_id, seg
        """)
def q_mm_audio_vad(spark, sf_dir):
    # VAD segments: the window kernel + the pure-DataFrame
    # gaps-and-islands (multimodal.audio_activity_segments). Oracle:
    # same closed-form windows + SQL gaps-and-islands replay.
    wins = MM.audio_windows(
        _crafted_wav_media(spark, sf_dir), window_ms=2)
    return MM.audio_activity_segments(
        wins, min_sumsq_per_sample=358_000_000)
