import zlib

import pytest

from unipdf_spark.pdf import filters


def test_flate_roundtrip():
    data = b"hello world " * 100
    assert filters.flate_decode(zlib.compress(data)) == data


def test_flate_png_predictor_up():
    # columns=4, colors=1, bpc=8; encode rows with Up predictor
    rows = [bytes([1, 2, 3, 4]), bytes([5, 6, 7, 8])]
    enc = bytearray()
    prev = bytes(4)
    for r in rows:
        enc.append(2)  # Up
        enc.extend((r[i] - prev[i]) & 0xFF for i in range(4))
        prev = r
    out = filters._apply_png_predictor(bytes(enc), 1, 8, 4)
    assert out == b"".join(rows)


def test_ascii_hex():
    assert filters.ascii_hex_decode(b"48656C6C6F>") == b"Hello"
    assert filters.ascii_hex_decode(b"48 65 6C>") == b"Hel"
    # odd digit count pads with 0
    assert filters.ascii_hex_decode(b"4>") == b"\x40"


def test_ascii85():
    import base64

    payload = b"some binary \x00\x01\x02 payload"
    enc = base64.a85encode(payload) + b"~>"
    assert filters.ascii85_decode(enc) == payload


def test_run_length():
    # literal run: length byte 2 → copy 3 bytes; then 257-254=3 repeats of 'x'
    enc = bytes([2]) + b"abc" + bytes([254]) + b"x" + bytes([128])
    assert filters.run_length_decode(enc) == b"abcxxx"


def test_lzw_known_vector():
    # PDF spec example: 45 45 45 65 65 65 encoded
    # build via a tiny reference encoder inline
    def lzw_encode(data: bytes) -> bytes:
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        dec_size = 258  # decoder-table mirror drives the code width
        code_len = 9
        n_emitted = 0
        out_bits = [(256, 9)]  # clear

        def emit(code):
            nonlocal dec_size, code_len, n_emitted
            out_bits.append((code, code_len))
            n_emitted += 1
            if n_emitted > 1 and dec_size < 4096:
                dec_size += 1
                if dec_size + 1 >= (1 << code_len) and code_len < 12:
                    code_len += 1

        w = b""
        for ch in data:
            wc = w + bytes([ch])
            if wc in table:
                w = wc
            else:
                emit(table[w])
                table[wc] = next_code
                next_code += 1
                w = bytes([ch])
        if w:
            emit(table[w])
        out_bits.append((257, code_len))
        buf = 0
        nbits = 0
        out = bytearray()
        for code, cl in out_bits:
            buf = (buf << cl) | code
            nbits += cl
            while nbits >= 8:
                nbits -= 8
                out.append((buf >> nbits) & 0xFF)
        if nbits:
            out.append((buf << (8 - nbits)) & 0xFF)
        return bytes(out)

    data = b"the quick brown fox jumps over the lazy dog " * 20
    assert filters.lzw_decode(lzw_encode(data)) == data


def test_multi_filter_compose():
    data = b"payload" * 50
    import base64

    enc = base64.a85encode(zlib.compress(data)) + b"~>"
    out = filters.decode_stream(enc, ["ASCII85Decode", "FlateDecode"], [{}, {}])
    assert out == data


def test_unknown_filter_raises():
    with pytest.raises(filters.FilterError):
        filters.decode_stream(b"x", ["NoSuchFilter"], [{}])


# --- CCITT G3/G4 (ITU-T T.4/T.6) -------------------------------------------


def test_ccitt_tables_prefix_free_and_anchors():
    from unipdf_spark.pdf import ccitt_tables as t

    # spec anchor code words (ITU-T T.4 tables 2/3)
    assert t.WHITE_TERMINAL[0] == "00110101"
    assert t.BLACK_TERMINAL[0] == "0000110111"
    assert t.WHITE_MAKEUP[64] == "11011"
    assert t.BLACK_MAKEUP[64] == "0000001111"
    assert t.EXT_MAKEUP[1792] == "00000001000"

    def prefix_free(*dicts):
        codes = sorted(c for d in dicts for c in d.values())
        for a, b in zip(codes, codes[1:]):
            assert not b.startswith(a), (a, b)

    prefix_free(t.WHITE_TERMINAL, t.WHITE_MAKEUP, t.EXT_MAKEUP)
    prefix_free(t.BLACK_TERMINAL, t.BLACK_MAKEUP, t.EXT_MAKEUP)


def _unpack_bilevel(data: bytes, columns: int, black_is_1: bool):
    stride = (columns + 7) // 8
    rows = []
    for r in range(len(data) // stride):
        row = []
        for x in range(columns):
            bit = (data[r * stride + (x >> 3)] >> (7 - (x & 7))) & 1
            row.append(bool(bit) if black_is_1 else not bit)
        rows.append(row)
    return rows


def test_ccitt_g4_and_g3_roundtrip_fuzz():
    import random

    from unipdf_spark.fixtures.render import ccitt_g3_1d_encode, ccitt_g4_encode
    from unipdf_spark.pdf.ccitt import decode_ccitt

    rng = random.Random(11)
    for _ in range(20):
        cols = rng.choice([8, 17, 64, 200])
        rows = []
        for _ in range(rng.randint(1, 10)):
            row, pos, black = [], 0, False
            while pos < cols:
                run = min(cols - pos, rng.randint(1, cols))
                row += [black] * run
                pos += run
                black = not black
            rows.append(row)
        enc = ccitt_g4_encode(rows, cols)
        dec = _unpack_bilevel(
            decode_ccitt(enc, {"K": -1, "Columns": cols}), cols, False
        )
        assert dec == rows
        dec1 = _unpack_bilevel(
            decode_ccitt(enc, {"K": -1, "Columns": cols, "BlackIs1": True}),
            cols, True,
        )
        assert dec1 == rows
        enc3 = ccitt_g3_1d_encode(rows, cols)
        dec3 = _unpack_bilevel(
            decode_ccitt(enc3, {"K": 0, "Columns": cols}), cols, False
        )
        assert dec3 == rows


def test_ccitt_fixture_ink_ratio_exact():
    from unipdf_spark.fixtures.gen import _plan_doc
    from unipdf_spark.fixtures import make_doc
    from unipdf_spark.pdf.ccitt import decode_ccitt
    from unipdf_spark.fixtures.render import ccitt_g4_encode

    plan = _plan_doc("fx_ink", "fax", 42)
    assert plan.fax_images
    key, (rows, cols) = next(iter(plan.fax_images.items()))
    enc = ccitt_g4_encode(rows, cols)
    bits = decode_ccitt(enc, {"K": -1, "Columns": cols})
    got = _unpack_bilevel(bits, cols, False)
    assert got == rows


def test_ccitt_g3_2d_roundtrip():
    import random

    from unipdf_spark.fixtures.render import ccitt_g3_2d_encode
    from unipdf_spark.pdf.ccitt import decode_ccitt

    rng = random.Random(23)
    for _ in range(15):
        cols = rng.choice([16, 64, 128])
        rows = []
        for _ in range(rng.randint(2, 10)):
            row, pos, black = [], 0, False
            while pos < cols:
                run = min(cols - pos, rng.randint(1, cols // 2))
                row += [black] * run
                pos += run
                black = not black
            rows.append(row)
        k = rng.choice([2, 4])
        enc = ccitt_g3_2d_encode(rows, cols, k=k)
        dec = _unpack_bilevel(
            decode_ccitt(enc, {"K": k, "Columns": cols}), cols, False
        )
        assert dec == rows


def test_jbig2_mq_and_generic_region_roundtrip_fuzz():
    """Engine MQ decoder + generic-region templates vs the INDEPENDENT
    writer-side MQ encoder (T.88 flowchart transcriptions on both sides)."""
    import random

    from unipdf_spark.fixtures.render import _MQEncoder, jbig2_encode
    from unipdf_spark.pdf.jbig2 import MQDecoder, decode_embedded

    rng = random.Random(7)
    # raw coder layer
    for _ in range(50):
        n = rng.randint(1, 300)
        bits = [rng.randint(0, 1) for _ in range(n)]
        cids = [rng.randrange(4) for _ in range(n)]
        enc = _MQEncoder()
        ec = [[0, 0] for _ in range(4)]
        for b, ci in zip(bits, cids):
            enc.encode(ec[ci], b)
        dec = MQDecoder(enc.flush())
        dc = [[0, 0] for _ in range(4)]
        assert [dec.decode(dc[ci]) for ci in cids] == bits
    # full bitmap layer, both MMR and MQ generic coding
    for _ in range(10):
        cols = rng.choice([17, 48, 64])
        h = rng.randint(4, 20)
        rows = [[rng.random() < 0.4 for _ in range(cols)] for _ in range(h)]
        for mmr in (False, True):
            got, w, hh = decode_embedded(jbig2_encode(rows, cols, mmr=mmr))
            assert (w, hh) == (cols, h)
            assert [list(r) for r in got] == [
                [1 if v else 0 for v in r] for r in rows
            ]


def test_jbig2_tpgdon_and_custom_at():
    """TPGDON typical-prediction rows + custom AT pixel positions: the
    pseudo-context must be re-derived per AT layout (fixed constants only
    hold for nominal AT under raster-sorted bit ordering)."""
    import random

    from unipdf_spark.fixtures.render import jbig2_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(99)
    at_variants = [
        None,                                     # nominal
        [(1, -1), (-3, -1), (2, -2), (-2, -2)],   # A1 moved
        [(-2, -3), (3, -3), (1, -2), (-1, -1)],   # all four moved
    ]
    for at in at_variants:
        for _ in range(4):
            cols = rng.choice([24, 40])
            h = rng.randint(6, 18)
            base = [rng.random() < 0.35 for _ in range(cols)]
            rows = []
            for y in range(h):  # runs of identical rows exercise TPGDON
                if y and rng.random() < 0.5:
                    rows.append(list(rows[-1]))
                else:
                    base = [rng.random() < 0.35 for _ in range(cols)]
                    rows.append(list(base))
            stream = jbig2_encode(rows, cols, tpgdon=True, at_pixels=at)
            got, w, hh = decode_embedded(stream)
            assert (w, hh) == (cols, h)
            assert [list(r) for r in got] == [
                [1 if v else 0 for v in r] for r in rows
            ]


def test_jbig2_unsupported_region_types_raise():
    from unipdf_spark.pdf.jbig2 import Jbig2Error, decode_embedded

    # symbol dictionary segment (type 0) must be reported, not mis-decoded
    seg = (1).to_bytes(4, "big") + bytes([0x00, 0x00, 0x01]) + (0).to_bytes(4, "big")
    try:
        decode_embedded(seg)
        raise AssertionError("expected Jbig2Error")
    except Jbig2Error:
        pass


def test_jbig2_symbol_text_region_roundtrip_fuzz():
    """Symbol dictionary + text region (arithmetic) vs the independent
    writer-side encoder: integer coder (Annex A), IAID trees, height-class
    symbol coding, strip placement."""
    import random

    from unipdf_spark.fixtures.render import jbig2_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(13)
    for _ in range(15):
        n_sym = rng.randint(1, 5)
        symbols = [
            [[rng.random() < 0.5 for _ in range(rng.randint(2, 9))]
             for _ in range(h)]
            for h in (rng.randint(2, 9) for _ in range(n_sym))
        ]
        # rectangularize each symbol (rows of equal width)
        symbols = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in symbols
        ]
        cols, nrows = rng.choice([32, 48]), rng.choice([16, 24])
        placements = [
            (rng.randrange(n_sym), rng.randint(0, cols - 10),
             rng.randint(0, nrows - 10))
            for _ in range(rng.randint(1, 9))
        ]
        # all four REFCORNERs × transposed must reproduce the same page
        # (T.88 §6.4.5: corner moves only the T edge; S always spans
        # CURS..CURS+len-1 along its axis)
        for corner in (0, 1, 2, 3):
            for transposed in (False, True):
                stream, want = jbig2_text_encode(
                    symbols, placements, cols, nrows, ref_corner=corner,
                    transposed=transposed)
                got, w, h = decode_embedded(stream)
                assert (w, h) == (cols, nrows)
                assert [list(r) for r in got] == want, (corner, transposed)


def test_jpeg_baseline_roundtrip_psnr():
    """Engine T.81 decoder vs the independent writer-side encoder: smooth
    images survive Q50 quantization at >30 dB PSNR; dimensions exact."""
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_gray_encode
    from unipdf_spark.pdf.jpeg import JpegError, decode_baseline_gray

    for h, w in ((16, 16), (24, 40), (17, 23), (8, 8)):
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        img = (128 + 100 * np.sin(x / 6.0) * np.cos(y / 5.0)).astype("u1")
        out = decode_baseline_gray(jpeg_gray_encode(img))
        assert out.shape == img.shape
        mse = float(np.mean((out.astype("f8") - img) ** 2))
        assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 30
    try:  # 12-bit precision (arithmetic/extended forms) stays a typed error
        decode_baseline_gray(b"\xff\xd8\xff\xc0\x00\x04\x0c\x00")
        raise AssertionError("expected JpegError")
    except JpegError:
        pass


def test_jpeg_progressive_roundtrip_exact():
    """Progressive decode (DC first/refine, AC first with EOB runs, AC
    refine with correction bits, T.81 §G) reconstructs the SAME pixels as
    the baseline decode of the same quantized coefficients — a
    coefficient-exact round trip through all five scan types."""
    import numpy as np

    from unipdf_spark.fixtures.render import (jpeg_gray_encode,
                                              jpeg_progressive_encode)
    from unipdf_spark.pdf.jpeg import decode_baseline_gray

    rng = np.random.default_rng(7)
    for h, w in ((64, 64), (17, 23), (8, 8), (40, 56)):
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        img = np.clip(128 + 80 * np.sin(x / 9.0) + 40 * np.cos(y / 7.0)
                      + rng.normal(0, 8, (h, w)), 0, 255).astype("u1")
        base = decode_baseline_gray(jpeg_gray_encode(img))
        prog = decode_baseline_gray(jpeg_progressive_encode(img))
        assert np.array_equal(base, prog)
        mse = float(np.mean((prog.astype("f8") - img) ** 2))
        assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 28


def test_jpeg_restart_intervals():
    """DRI/RSTn: every restart interval decodes bit-identically to the
    unsegmented stream (DC predictor reset + byte realignment)."""
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_gray_encode
    from unipdf_spark.pdf.jpeg import decode_baseline_gray

    h, w = 40, 48
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    img = (128 + 100 * np.sin(x / 6.0) * np.cos(y / 5.0)).astype("u1")
    base = decode_baseline_gray(jpeg_gray_encode(img))
    for ri in (1, 2, 5, 9):
        out = decode_baseline_gray(jpeg_gray_encode(img, restart_interval=ri))
        assert np.array_equal(out, base)


def test_jpeg_color_roundtrip_psnr():
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_color_encode
    from unipdf_spark.pdf.jpeg import decode_baseline

    h, w = 17, 25
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack([
        128 + 100 * np.sin(x / 6.0),
        128 + 90 * np.cos(y / 5.0),
        128 + 80 * np.sin((x + y) / 7.0),
    ], axis=2).astype("u1")
    out = decode_baseline(jpeg_color_encode(rgb))
    assert out.shape == rgb.shape
    mse = float(np.mean((out.astype("f8") - rgb) ** 2))
    assert 10 * np.log10(255**2 / mse) > 28


def test_jpeg_420_roundtrip_psnr():
    """4:2:0 round trip, including images one pixel high or wide: chroma
    is averaged only along an axis at least 2 long, so it fits the chroma
    block grid."""
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_420_encode
    from unipdf_spark.pdf.jpeg import decode_baseline

    for h, w in ((24, 40), (1, 9), (1, 40), (9, 1), (40, 1)):
        x, y = np.meshgrid(np.arange(w), np.arange(h))
        rgb = np.stack([
            128 + 100 * np.sin(x / 7.0),
            128 + 90 * np.cos(y / 6.0),
            128 + 80 * np.sin((x + y) / 9.0),
        ], axis=2).astype("u1")
        out = decode_baseline(jpeg_420_encode(rgb))
        assert out.shape == rgb.shape
        mse = float(np.mean((out.astype("f8") - rgb) ** 2))
        # chroma subsampling cost
        assert 10 * np.log10(255**2 / mse) > 26, (h, w)


def test_jbig2_refinement_region_roundtrip_fuzz():
    """Generic refinement regions (T.88 §6.3): templates 0/1, with and
    without TPGRON typical prediction, vs the independent writer-side
    refinement encoder. The refinement REPLACES the generic-region base."""
    import random

    from unipdf_spark.fixtures.render import jbig2_refinement_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(31)
    for _ in range(6):
        cols = rng.choice([20, 33, 48])
        h = rng.randint(6, 18)
        base = [[rng.random() < 0.4 for _ in range(cols)] for _ in range(h)]
        target = [list(r) for r in base]
        for _ in range(rng.randint(0, cols * h // 6)):
            y, x = rng.randrange(h), rng.randrange(cols)
            target[y][x] = not target[y][x]
        for template in (0, 1):
            for tpgron in (False, True):
                stream, want = jbig2_refinement_encode(
                    base, target, cols, template=template, tpgron=tpgron)
                got, w, hh = decode_embedded(stream)
                assert (w, hh) == (cols, h)
                assert [list(r) for r in got] == want, (template, tpgron)


def test_jbig2_huffman_symbol_dict_roundtrip_fuzz():
    """SDHUFF=1 symbol dictionaries (standard Annex B tables B.4/B.2/B.1,
    collective height-class bitmaps — uncompressed and MMR) + arithmetic
    text region, vs the independent writer-side Huffman encoder."""
    import random

    from unipdf_spark.fixtures.render import jbig2_huffman_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(47)
    for _ in range(8):
        n_sym = rng.randint(1, 5)
        symbols = [
            [[rng.random() < 0.5 for _ in range(rng.randint(2, 9))]
             for _ in range(rng.randint(2, 9))]
            for _ in range(n_sym)
        ]
        symbols = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in symbols
        ]
        cols, nrows = rng.choice([32, 48]), rng.choice([16, 24])
        placements = [
            (rng.randrange(n_sym), rng.randint(0, cols - 10),
             rng.randint(0, nrows - 10))
            for _ in range(rng.randint(1, 8))
        ]
        for mmr in (False, True):
            stream, want = jbig2_huffman_text_encode(
                symbols, placements, cols, nrows, mmr=mmr)
            got, w, h = decode_embedded(stream)
            assert (w, h) == (cols, nrows)
            assert [list(r) for r in got] == want, f"mmr={mmr}"


def test_jbig2_annex_b_tables():
    """Standard Huffman tables decode hand-assembled canonical codes."""
    from unipdf_spark.pdf.jbig2 import (OOB, TABLE_B1, TABLE_B2, TABLE_B4,
                                        _BitsMSB)

    def bits_of(s):
        by = bytearray()
        acc, n = 0, 0
        for ch in s:
            acc = (acc << 1) | (ch == "1")
            n += 1
            if n == 8:
                by.append(acc)
                acc, n = 0, 0
        if n:
            by.append(acc << (8 - n))
        return _BitsMSB(bytes(by))

    # B.1: "0" + 4 value bits
    assert TABLE_B1.decode(bits_of("0" + "0101")) == 5
    assert TABLE_B1.decode(bits_of("10" + "00000001")) == 17
    # B.2: "0" rangelen 0 → value 0; OOB = 111111
    assert TABLE_B2.decode(bits_of("0")) == 0
    assert TABLE_B2.decode(bits_of("111111")) is OOB
    assert TABLE_B2.decode(bits_of("11110" + "000010")) == 13
    # B.4 (= B.2 + 1, no OOB)
    assert TABLE_B4.decode(bits_of("0")) == 1
    assert TABLE_B4.decode(bits_of("11110" + "000001")) == 13


def test_jbig2_halftone_region_roundtrip_fuzz():
    """Pattern dictionary (§6.7 collective bitmap, special A1=(-HDPW,0)) +
    halftone region (§6.6 Gray-coded grayscale bitplanes) vs the
    independent writer-side encoder."""
    import random

    from unipdf_spark.fixtures.render import jbig2_halftone_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(61)
    for _ in range(6):
        s = rng.choice([3, 4, 6])
        npat = rng.randint(2, 7)
        patterns = [
            [[rng.random() < (i / max(npat - 1, 1)) for _ in range(s)]
             for _ in range(s)]
            for i in range(npat)
        ]
        hgw, hgh = rng.randint(3, 8), rng.randint(3, 8)
        gray = [[rng.randrange(npat) for _ in range(hgw)]
                for _ in range(hgh)]
        stream, want = jbig2_halftone_encode(gray, patterns)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (hgw * s, hgh * s)
        assert [list(r) for r in got] == want
        # HMMR=1: consecutive T.6 bitplanes in one MMR stream
        stream, want = jbig2_halftone_encode(gray, patterns, mmr=True)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (hgw * s, hgh * s)
        assert [list(r) for r in got] == want, "mmr"
        # ENABLESKIP=1: first column pushed wholly off-region via HGX<0
        if hgw > 3:
            stream, want = jbig2_halftone_encode(gray, patterns,
                                                 skip_cols=1)
            got, w, h = decode_embedded(stream)
            assert (w, h) == ((hgw - 1) * s, hgh * s)
            assert [list(r) for r in got] == want, "skip"


def test_jbig2_refagg_symbol_dict_roundtrip_fuzz():
    """SDREFAGG=1 symbol dictionaries (§6.5.8.2, REFAGGNINST=1): new
    symbols refinement-coded against a base dictionary imported through
    the referred-to list, one shared MQ coder; text region over the
    combined exports — vs the independent writer-side encoder."""
    import random

    from unipdf_spark.fixtures.render import jbig2_refagg_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(83)
    for _ in range(6):
        nb = rng.randint(1, 4)
        base = [
            [[rng.random() < 0.5 for _ in range(rng.randint(3, 8))]
             for _ in range(rng.randint(3, 8))]
            for _ in range(nb)
        ]
        base = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in base
        ]
        variants = []
        for _ in range(rng.randint(1, 4)):
            bid = rng.randrange(nb)
            bmp = [list(r) for r in base[bid]]
            for _ in range(rng.randint(0, 6)):
                yy, xx = rng.randrange(len(bmp)), rng.randrange(len(bmp[0]))
                bmp[yy][xx] = not bmp[yy][xx]
            variants.append((bid, bmp))
        cols, nrows = 40, 24
        total = nb + len(variants)
        placements = [
            (rng.randrange(total), rng.randint(0, cols - 10),
             rng.randint(0, nrows - 10))
            for _ in range(rng.randint(1, 8))
        ]
        stream, want = jbig2_refagg_text_encode(
            base, variants, placements, cols, nrows)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (cols, nrows)
        assert [list(r) for r in got] == want


def test_jbig2_custom_huffman_table_segment():
    """Type-53 custom Huffman table definitions (§7.4.13/B.2 structure):
    the SDHUFFDW=3 selection consumes the referred table segment; the
    round trip covers parse, canonical assignment over custom lines,
    lower/upper ranges and OOB."""
    import random

    from unipdf_spark.fixtures.render import jbig2_huffman_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(97)
    for _ in range(5):
        n_sym = rng.randint(1, 5)
        symbols = [
            [[rng.random() < 0.5 for _ in range(rng.randint(2, 9))]
             for _ in range(rng.randint(2, 9))]
            for _ in range(n_sym)
        ]
        symbols = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in symbols
        ]
        cols, nrows = 40, 20
        placements = [
            (rng.randrange(n_sym), rng.randint(0, cols - 10),
             rng.randint(0, nrows - 10))
            for _ in range(rng.randint(1, 8))
        ]
        for mmr in (False, True):
            stream, want = jbig2_huffman_text_encode(
                symbols, placements, cols, nrows, mmr=mmr, custom_dw=True)
            got, w, h = decode_embedded(stream)
            assert (w, h) == (cols, nrows)
            assert [list(r) for r in got] == want


def test_jbig2_refined_text_region_roundtrip_fuzz():
    """SBREFINE=1 text regions (§6.4.11): per-instance RI flag + RDW/RDH/
    RDX/RDY + GRR refinement of the dictionary symbol (dims may grow or
    shrink), across all four REFCORNERs and transposed — vs the
    independent writer-side encoder."""
    import random

    from unipdf_spark.fixtures.render import jbig2_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(103)
    for _ in range(4):
        n_sym = rng.randint(1, 4)
        symbols = [
            [[rng.random() < 0.5 for _ in range(rng.randint(3, 8))]
             for _ in range(rng.randint(3, 8))]
            for _ in range(n_sym)
        ]
        symbols = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in symbols
        ]
        cols, nrows = 40, 24
        placements = [
            (rng.randrange(n_sym), rng.randint(0, cols - 12),
             rng.randint(0, nrows - 12))
            for _ in range(rng.randint(2, 8))
        ]
        refinements = {}
        for p_idx, (sid, _x, _y) in enumerate(placements):
            if rng.random() < 0.5:
                base = symbols[sid]
                dw = rng.choice([0, 0, 1, -1])
                dh = rng.choice([0, 0, 1, -1])
                wi = max(1, len(base[0]) + dw)
                hi = max(1, len(base) + dh)
                bmp = [[(base[yy][xx] if yy < len(base) and xx < len(base[0])
                         else False) for xx in range(wi)]
                       for yy in range(hi)]
                for _ in range(rng.randint(0, 5)):
                    yy, xx = rng.randrange(hi), rng.randrange(wi)
                    bmp[yy][xx] = not bmp[yy][xx]
                refinements[p_idx] = bmp
        refinements.setdefault(0, [list(r) for r in symbols[placements[0][0]]])
        for corner in (0, 2):
            for transposed in (False, True):
                stream, want = jbig2_text_encode(
                    symbols, placements, cols, nrows, ref_corner=corner,
                    transposed=transposed, instance_refine=refinements)
                got, w, h = decode_embedded(stream)
                assert (w, h) == (cols, nrows)
                assert [list(r) for r in got] == want, (corner, transposed)


def test_jbig2_aggregate_symbol_coding_roundtrip_fuzz():
    """REFAGGNINST>1 aggregate symbol coding (§6.5.8.2.1): a dictionary
    symbol decoded as a nested TL/strip-1/refined text region over the
    import+new pool, sharing the dictionary's integer/IAID/GR contexts —
    vs the independent writer-side encoder."""
    import random

    from unipdf_spark.fixtures.render import jbig2_refagg_text_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(113)
    for _ in range(6):
        nb = rng.randint(2, 4)
        base = [
            [[rng.random() < 0.5 for _ in range(rng.randint(3, 6))]
             for _ in range(rng.randint(3, 6))]
            for _ in range(nb)
        ]
        base = [
            [[bool(row[i]) if i < len(row) else False
              for i in range(len(sym[0]))] for row in sym]
            for sym in base
        ]
        variants = []
        for _ in range(rng.randint(0, 2)):
            bid = rng.randrange(nb)
            bmp = [list(r) for r in base[bid]]
            for _ in range(rng.randint(0, 4)):
                yy, xx = rng.randrange(len(bmp)), rng.randrange(len(bmp[0]))
                bmp[yy][xx] = not bmp[yy][xx]
            variants.append((bid, bmp))
        aggregates = []
        for _ in range(rng.randint(1, 2)):
            cw, ch = rng.randint(10, 16), rng.randint(8, 12)
            insts = []
            for _ in range(rng.randint(2, 4)):
                bid = rng.randrange(nb)
                bmp = [list(r) for r in base[bid]]
                for _ in range(rng.randint(0, 3)):
                    yy, xx = (rng.randrange(len(bmp)),
                              rng.randrange(len(bmp[0])))
                    bmp[yy][xx] = not bmp[yy][xx]
                insts.append((bid, rng.randint(0, cw - len(bmp[0])),
                              rng.randint(0, ch - len(bmp)), bmp))
            aggregates.append((cw, ch, insts))
        cols, nrows = 48, 28
        total = nb + len(variants) + len(aggregates)
        placements = [
            (rng.randrange(total), rng.randint(0, cols - 18),
             rng.randint(0, nrows - 14))
            for _ in range(rng.randint(2, 7))
        ]
        stream, want = jbig2_refagg_text_encode(
            base, variants, placements, cols, nrows, aggregates=aggregates)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (cols, nrows)
        assert [list(r) for r in got] == want


def test_jbig2_corrupt_streams_fail_fast():
    """Relaxed-mode contract for web corpora: random corruption of valid
    JBIG2 streams must raise a typed error or return quickly — never spin
    on an implausible instance/symbol count or allocate a giant bitmap."""
    import random
    import time

    from unipdf_spark.fixtures.render import (jbig2_encode,
                                              jbig2_halftone_encode,
                                              jbig2_text_encode)
    from unipdf_spark.pdf.jbig2 import Jbig2Error, decode_embedded

    rng = random.Random(131)
    rows = [[rng.random() < 0.4 for _ in range(32)] for _ in range(12)]
    syms = [[[rng.random() < 0.5 for _ in range(5)] for _ in range(5)]]
    pats = [[[i > 0] * 4 for _ in range(4)] for i in range(2)]
    from unipdf_spark.fixtures.render import jbig2_huffman_textregion_encode

    streams = [
        jbig2_encode(rows, 32),
        jbig2_text_encode(syms, [(0, 3, 3), (0, 12, 8)], 32, 16)[0],
        jbig2_halftone_encode([[0, 1], [1, 0]], pats)[0],
        # r5 paths: Huffman text region, MMR halftone, skip halftone
        jbig2_huffman_textregion_encode(
            syms, [(0, 3, 3), (0, 12, 8)], 32, 16,
            instance_refine={1: [[True] * 6 for _ in range(6)]})[0],
        jbig2_halftone_encode([[0, 1], [1, 0]], pats, mmr=True)[0],
        jbig2_halftone_encode([[0, 1, 0], [1, 0, 1]], pats,
                              skip_cols=1)[0],
    ]
    from unipdf_spark.fixtures.render import jbig2_huffman_refagg_encode

    streams.append(jbig2_huffman_refagg_encode(
        syms, [(0, [[True] * 5 for _ in range(5)])], [(0, 3, 3), (1, 12, 6)],
        32, 16, aggregates=[(20, 8, [(0, 1, 1, [[True] * 5] * 5),
                                     (0, 9, 1, [[False] * 5] * 5)])])[0])
    t0 = time.monotonic()
    n_err = 0
    for base in streams:
        for trial in range(120):
            b = bytearray(base)
            for _ in range(rng.randint(1, 10)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                decode_embedded(bytes(b))
            except Exception as e:  # noqa: BLE001 — typed or value errors ok
                n_err += 1
                assert not isinstance(e, (MemoryError, RecursionError))
    assert time.monotonic() - t0 < 60, "corruption fuzz too slow"
    assert n_err > 0  # corruption was actually exercised


def test_jpeg_corrupt_streams_fail_fast():
    """Corruption fuzz over baseline/restart/progressive JPEGs: typed
    errors or fast completion, never giant allocations or hangs."""
    import random
    import time

    import numpy as np

    from unipdf_spark.fixtures.render import (jpeg_gray_encode,
                                              jpeg_progressive_encode)
    from unipdf_spark.pdf.jpeg import decode_baseline_gray

    rng = random.Random(137)
    x, y = np.meshgrid(np.arange(24), np.arange(16))
    img = (128 + 90 * np.sin(x / 5.0) * np.cos(y / 4.0)).astype("u1")
    streams = [
        jpeg_gray_encode(img),
        jpeg_gray_encode(img, restart_interval=2),
        jpeg_progressive_encode(img),
    ]
    t0 = time.monotonic()
    n_err = 0
    for base in streams:
        for _ in range(120):
            b = bytearray(base)
            for _ in range(rng.randint(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                decode_baseline_gray(bytes(b))
            except Exception as e:  # noqa: BLE001
                n_err += 1
                assert not isinstance(e, (MemoryError, RecursionError))
    assert time.monotonic() - t0 < 60, "corruption fuzz too slow"
    assert n_err > 0

def test_jbig2_huffman_text_region_roundtrip_fuzz():
    """SBHUFF=1 text region vs the independent writer-side encoder:
    Annex B.6/B.8/B.11/B.15 tables, §7.4.3.1.7 symbol ID runcodes,
    multi-strip CURT raw bits, refined instances as byte-aligned BMSIZE
    arithmetic chunks."""
    import random

    from unipdf_spark.fixtures.render import jbig2_huffman_textregion_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(29)
    for trial in range(12):
        n_sym = rng.randint(1, 6)
        symbols = []
        for _ in range(n_sym):
            h, w = rng.randint(2, 8), rng.randint(2, 8)
            symbols.append([[rng.random() < 0.5 for _ in range(w)]
                            for _ in range(h)])
        cols, nrows = rng.choice([32, 48]), rng.choice([16, 32])
        placements = [
            (rng.randrange(n_sym), rng.randint(0, cols - 9),
             rng.randint(0, nrows - 9))
            for _ in range(rng.randint(1, 9))
        ]
        strips = rng.choice([1, 1, 4])
        refine = {}
        if trial % 2:
            # refine one instance: grow by up to 2px in each dimension
            p_idx = rng.randrange(len(placements))
            base = symbols[placements[p_idx][0]]
            hi = len(base) + rng.randint(0, 2)
            wi = len(base[0]) + rng.randint(0, 2)
            refine[p_idx] = [[rng.random() < 0.5 for _ in range(wi)]
                             for _ in range(hi)]
        corner = rng.choice([0, 1, 2, 3])
        transposed = rng.random() < 0.5
        stream, want = jbig2_huffman_textregion_encode(
            symbols, placements, cols, nrows, strips=strips,
            instance_refine=refine, ref_corner=corner,
            transposed=transposed)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (cols, nrows)
        assert [list(r) for r in got] == want, (trial, strips, corner,
                                                transposed)


def test_ccitt_two_transcriptions_agree():
    """Fixture independence (r4 VERDICT watch item): the writer side keeps
    its OWN T.4 table transcription (fixtures/ccitt_codes.py, sourced from
    the reference's table init) and the engine keeps its spec-derived one
    (pdf/ccitt_tables.py). Equality of the two independent transcriptions
    cross-validates both."""
    from unipdf_spark.fixtures import ccitt_codes as A
    from unipdf_spark.pdf import ccitt_tables as B

    for name in ("WHITE_TERMINAL", "BLACK_TERMINAL", "WHITE_MAKEUP",
                 "BLACK_MAKEUP", "EXT_MAKEUP"):
        assert getattr(A, name) == getattr(B, name), name


def test_jbig2_huffman_refagg_symbol_dict_roundtrip_fuzz():
    """SDHUFF=1 + SDREFAGG=1 symbol dictionaries (§6.5.8.2 Huffman
    branch, verified against the reference's decodeRefinedSymbol /
    huffDecodeRefAggNInst): refined symbols as raw-ID + B.15 RDX/RDY +
    byte-aligned BMSIZE arithmetic chunks, and REFAGGNINST>1 aggregates
    as nested Huffman text regions with raw-bit symbol IDs."""
    import random

    from unipdf_spark.fixtures.render import jbig2_huffman_refagg_encode
    from unipdf_spark.pdf.jbig2 import decode_embedded

    rng = random.Random(43)
    for trial in range(8):
        n_base = rng.randint(1, 4)
        bases = []
        for _ in range(n_base):
            h, w = rng.randint(3, 7), rng.randint(3, 7)
            bases.append([[rng.random() < 0.5 for _ in range(w)]
                          for _ in range(h)])
        # refined variants: dims shifted by ≤ 2 (B.14/B.15 comfortable)
        variants = []
        for _ in range(rng.randint(1, 3)):
            bid = rng.randrange(n_base)
            hi = len(bases[bid]) + rng.randint(0, 2)
            wi = len(bases[bid][0]) + rng.randint(0, 2)
            variants.append((bid, [[rng.random() < 0.5 for _ in range(wi)]
                                   for _ in range(hi)]))
        aggregates = []
        if trial % 2:
            insts = []
            for k in range(rng.randint(2, 3)):
                bid = rng.randrange(n_base)
                hi = len(bases[bid]) + rng.randint(0, 2)
                wi = len(bases[bid][0]) + rng.randint(0, 2)
                insts.append((bid, 1 + 9 * k, rng.randint(0, 2),
                              [[rng.random() < 0.5 for _ in range(wi)]
                               for _ in range(hi)]))
            aggregates.append((30, 12, insts))
        n_all = n_base + len(variants) + len(aggregates)
        cols, nrows = 64, 32
        placements = [
            (rng.randrange(n_all), rng.randint(0, cols - 32),
             rng.randint(0, nrows - 14))
            for _ in range(rng.randint(1, 6))
        ]
        stream, want = jbig2_huffman_refagg_encode(
            bases, variants, placements, cols, nrows,
            aggregates=aggregates)
        got, w, h = decode_embedded(stream)
        assert (w, h) == (cols, nrows)
        assert [list(r) for r in got] == want, trial


def test_jpeg_411_roundtrip_psnr():
    """4:1:1 sampling (Y h=4,v=1 — DV/camera shape; the reference's Go
    image/jpeg decodes it, so factor-4 luma is in parity scope)."""
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_411_encode
    from unipdf_spark.pdf.jpeg import decode_baseline

    h, w = 24, 72
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    rgb = np.stack([
        128 + 100 * np.sin(x / 7.0),
        128 + 90 * np.cos(y / 6.0),
        128 + 80 * np.sin((x + y) / 9.0),
    ], axis=2).astype("u1")
    out = decode_baseline(jpeg_411_encode(rgb))
    assert out.shape == rgb.shape
    mse = float(np.mean((out.astype("f8") - rgb) ** 2))
    assert 10 * np.log10(255**2 / mse) > 24  # 4x chroma subsampling cost


def test_jbig2_symbol_id_runcode32_repeats_zero():
    """§7.4.3.1.7 (reference symbolIDCodeLengths): runcode 32 repeats the
    PREVIOUS code length even when that length is 0 — prev updates on every
    literal, not only nonzero ones. A stream [2, 0, 32(rep 3)] must yield
    lengths [2, 0, 0, 0, 0], not [2, 0, 2, 2, 2]."""
    from unipdf_spark.pdf.jbig2 import _BitsMSB, _symbol_id_codes

    bits = []
    # 35 four-bit runcode code lengths: rc0→1, rc2→2, rc32→2, rest 0
    for rc in range(35):
        ln = {0: 1, 2: 2, 32: 2}.get(rc, 0)
        bits.extend(int(b) for b in f"{ln:04b}")
    # canonical: rc0="0", rc2="10", rc32="11"
    bits.extend([1, 0])        # rc2  → literal length 2
    bits.extend([0])           # rc0  → literal length 0
    bits.extend([1, 1, 0, 0])  # rc32 + 2 repeat bits (00 → 3 repeats)
    data = bytearray()
    acc = 0
    for i, b in enumerate(bits):
        acc = (acc << 1) | b
        if i % 8 == 7:
            data.append(acc)
            acc = 0
    if len(bits) % 8:
        data.append(acc << (8 - len(bits) % 8))
    table = _symbol_id_codes(_BitsMSB(bytes(data)), 5)
    # only symbol 0 (length 2) gets a code; symbols 1-4 have length 0
    assert list(table.lookup.values()) == [("n", 0, 0)]
    assert list(table.lookup.keys()) == [(2, 0)]


def test_jbig2_symbol_id_runcode32_no_prior_extends_zeros():
    """Runcode 32 as the FIRST code: the reference's symbolIDCodeLengths
    tolerates it (repeat value stays 0, the symbol counter still advances)
    — the decode must extend with zeros, not fail (r6 ADVICE). A stream
    [32(rep 3), 2] must yield lengths [0, 0, 0, 2]."""
    from unipdf_spark.pdf.jbig2 import _BitsMSB, _symbol_id_codes

    bits = []
    for rc in range(35):
        ln = {0: 1, 2: 2, 32: 2}.get(rc, 0)
        bits.extend(int(b) for b in f"{ln:04b}")
    bits.extend([1, 1, 0, 0])  # rc32 + 2 repeat bits (00 → 3 repeats)
    bits.extend([1, 0])        # rc2 → literal length 2
    data = bytearray()
    acc = 0
    for i, b in enumerate(bits):
        acc = (acc << 1) | b
        if i % 8 == 7:
            data.append(acc)
            acc = 0
    if len(bits) % 8:
        data.append(acc << (8 - len(bits) % 8))
    table = _symbol_id_codes(_BitsMSB(bytes(data)), 4)
    # only symbol 3 (length 2) gets a code; symbols 0-2 have length 0
    assert list(table.lookup.values()) == [("n", 0, 3)]
    assert list(table.lookup.keys()) == [(2, 0)]


def test_jbig2_huffman_refinement_bmsize0_advances_by_consumption():
    """BMSIZE=0 GRR chunks are undelimited: the reader must advance by what
    the MQ decoder actually consumed, not jump to end-of-segment (which
    would drop every later instance in the stream)."""
    from unipdf_spark.pdf.jbig2 import _BitsMSB, _huffman_refinement_chunk

    seg = bytes([0x95, 0x21, 0x7B] + [0x5A] * 64)
    br = _BitsMSB(seg)
    ref = [bytearray([1])]
    out = _huffman_refinement_chunk(
        br, seg, ref, 1, 1, 1, 1, 0, 0, 0, None, {}, 0)
    assert len(out) == 1 and len(out[0]) == 1
    assert br.pos < len(seg)  # did NOT exhaust the segment
    assert br.bitpos == 0


def test_jpeg_12bit_extended_sequential():
    """12-bit extended sequential (SOF1, precision 12): a documented
    extension beyond reference parity (Go image/jpeg rejects 12-bit).
    Gradient content round-trips at high PSNR with uint16 output; blocky
    even-offset content survives exactly (qDC=16 argument at the 2048
    level shift); DRI restarts work; the 8-bit path is unchanged."""
    import math
    import random

    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_gray_encode
    from unipdf_spark.pdf.jpeg import decode_baseline_gray

    rng = random.Random(7)
    img = [
        [max(0, min(4095, int(2048 + 1600 * math.sin(x / 5.0)
                              * math.cos(y / 4.0))))
         for x in range(32)]
        for y in range(24)
    ]
    dec = decode_baseline_gray(jpeg_gray_encode(img, precision=12))
    assert dec.dtype == np.uint16
    src = np.asarray(img, dtype="f8")
    mse = float(np.mean((dec.astype("f8") - src) ** 2))
    psnr = 10 * math.log10(4095.0 ** 2 / mse)
    assert psnr > 45.0, psnr

    vals = [[2048 + 2 * rng.randint(-900, 900) for _ in range(4)]
            for _ in range(3)]
    blocky = [[vals[y // 8][x // 8] for x in range(32)] for y in range(24)]
    for kwargs in ({}, {"restart_interval": 2}):
        got = decode_baseline_gray(
            jpeg_gray_encode(blocky, precision=12, **kwargs))
        assert np.array_equal(got, np.asarray(blocky, "u2"))

    img8 = [[(x * 7 + y * 3) % 256 for x in range(24)] for y in range(16)]
    assert decode_baseline_gray(jpeg_gray_encode(img8)).dtype == np.uint8


def test_jpeg_12bit_16bit_quant_tables():
    """Pq=1 DQT segments (16-bit quantizer entries, §B.2.4.1) parse and
    decode — swap the 8-bit DQT of a 12-bit stream for an equivalent
    16-bit one and the output must be identical."""
    import numpy as np

    from unipdf_spark.fixtures.render import _JPG_Q, jpeg_gray_encode
    from unipdf_spark.pdf.jpeg import decode_baseline_gray

    img = [[(2048 + 16 * ((x + y) % 64)) for x in range(16)]
           for y in range(16)]
    data = jpeg_gray_encode(img, precision=12)
    # locate the 8-bit DQT payload and rewrite it as Pq=1 (same values)
    i = data.index(b"\xff\xdb")
    seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
    assert seg_len == 67  # 2 + 1 + 64 (Pq=0)
    q16 = bytes([0x10]) + b"".join(
        int(v).to_bytes(2, "big") for v in _JPG_Q)
    data16 = (data[:i + 2] + (len(q16) + 2).to_bytes(2, "big") + q16
              + data[i + 2 + seg_len:])
    a = decode_baseline_gray(data)
    b = decode_baseline_gray(data16)
    assert np.array_equal(a, b)


def test_jpeg_lossless_sof3_roundtrip():
    """Lossless JPEG (SOF3, Annex H): exact reconstruction across all
    seven predictors and 8/12/16-bit precision — the second
    beyond-parity JPEG extension (Go image/jpeg has no lossless)."""
    import random

    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_lossless_encode
    from unipdf_spark.pdf.jpeg import JpegError, decode_baseline_gray

    rng = random.Random(3)
    for precision, lim in ((8, 255), (12, 4095), (16, 65535)):
        for predictor in range(1, 8):
            img = [[rng.randint(0, lim) for _ in range(17)]
                   for _ in range(9)]
            dec = decode_baseline_gray(
                jpeg_lossless_encode(img, precision=precision,
                                     predictor=predictor))
            assert np.array_equal(dec.astype("i8"),
                                  np.asarray(img, "i8")), (precision,
                                                           predictor)
            assert dec.dtype == (np.uint8 if precision <= 8
                                 else np.uint16)
    # invalid predictor byte must fail fast, not misdecode
    data = bytearray(jpeg_lossless_encode([[7, 9], [1, 3]]))
    i = data.index(b"\xff\xda")
    data[i + 7] = 0  # the Ss byte (predictor selector): 0 is invalid
    import pytest

    with pytest.raises(JpegError):
        decode_baseline_gray(bytes(data))


def test_jpeg_stream_precision_and_lossless_cap():
    """stream_precision reads the SOF sample precision for every coding
    path (ADVICE r7: feature normalization must use the STREAM full
    scale, not a dtype guess), and oversized SOF3 frames fail fast
    instead of entering the per-sample Python loop."""
    import numpy as np
    import pytest

    from unipdf_spark.fixtures.render import (
        jpeg_gray_encode, jpeg_lossless_encode, jpeg_progressive_encode)
    from unipdf_spark.pdf.jpeg import (
        MAX_PIXELS_LOSSLESS, JpegError, decode_baseline_gray,
        stream_precision)

    img8 = [[(x * 7 + y * 3) % 256 for x in range(16)] for y in range(8)]
    assert stream_precision(jpeg_gray_encode(img8)) == 8
    assert stream_precision(jpeg_progressive_encode(img8)) == 8
    for p in (2, 8, 10, 12, 16):
        lim = (1 << p) - 1
        img = [[(x + y) % (lim + 1) for x in range(5)] for y in range(4)]
        data = jpeg_lossless_encode(img, precision=p)
        assert stream_precision(data) == p
        # normalized decode stays in [0, 1] at EVERY precision: the
        # full-scale sample must land exactly on 1.0
        top = jpeg_lossless_encode([[lim, 0], [0, lim]], precision=p)
        plane = decode_baseline_gray(top).astype("f8")
        norm = plane / float((1 << stream_precision(top)) - 1)
        assert norm.max() == 1.0 and norm.min() == 0.0
    with pytest.raises(JpegError):
        stream_precision(b"\xff\xd8\xff\xd9")
    # TEM (0xFF01) is a standalone marker: falling through to the
    # segment-length branch reads a bogus 16-bit length from the next
    # marker's bytes and skips past the real SOF (r9 ADVICE)
    d8 = jpeg_gray_encode(img8)
    assert stream_precision(d8[:2] + b"\xff\x01" + d8[2:]) == 8
    # the walk stops at EOI: a marker-shaped byte run in trailing garbage
    # must not be read as an SOF (pre-fix this returned 12)
    with pytest.raises(JpegError):
        stream_precision(b"\xff\xd8\xff\xd9"
                         b"\xff\xc0\x00\x08\x0c\x00\x01\x00\x01\x01")
    # a crafted SOF3 header over the per-sample budget fails fast
    big = bytearray(jpeg_lossless_encode([[1, 2], [3, 4]]))
    i = big.index(b"\xff\xc3")
    side = int(MAX_PIXELS_LOSSLESS ** 0.5) + 1
    big[i + 5:i + 7] = side.to_bytes(2, "big")
    big[i + 7:i + 9] = side.to_bytes(2, "big")
    with pytest.raises(JpegError):
        decode_baseline_gray(bytes(big))


def test_image_features_fullscale_normalization():
    """_decode_pixels divides by the stream full scale: a 16-bit lossless
    plane at value 65535 must normalize to 1.0, not ~16.0 (r7 ADVICE)."""
    import numpy as np

    from unipdf_spark.fixtures.render import jpeg_lossless_encode
    from unipdf_spark.operators.multimodal import _decode_pixels

    img = [[65535 if (x + y) % 2 else 0 for x in range(8)]
           for y in range(8)]
    arr = _decode_pixels(jpeg_lossless_encode(img, precision=16),
                         8, 8, "DCTDecode", 0, False)
    assert arr.max() == 1.0 and arr.min() == 0.0
    img10 = [[1023 for _ in range(4)] for _ in range(4)]
    arr10 = _decode_pixels(jpeg_lossless_encode(img10, precision=10),
                           4, 4, "DCTDecode", 0, False)
    assert np.allclose(arr10, 1.0)
