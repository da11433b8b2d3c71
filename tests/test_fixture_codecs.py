"""Byte pins for the fixture-side image encoders (no Spark, a few seconds).

Every golden, both benchmark inputs and every decoder round-trip test take
their image bytes from the writers in ``unipdf_spark.fixtures.render``.
These sha256 digests pin each public JPEG, JBIG2 and CCITT encoder, one
mode flag at a time, on small deterministic inputs built from
``random.Random`` (no float math in the inputs, so they are the same on
every host).

A deliberate change to an encoder's bytes updates these digests and
``golden/`` together, with the reason in CHANGES.md.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from unipdf_spark.fixtures import render as R


def _bitmap(rng: random.Random, h: int, w: int, p: float = 0.5):
    return [[rng.random() < p for _ in range(w)] for _ in range(h)]


def _gray(seed: int, h: int, w: int, top: int = 255):
    """Smooth integer ramp plus small noise (JPEG-friendly, exact)."""
    rng = random.Random(seed)
    return [[min(top, max(0, (x * 7 + y * 5) * top // (7 * w + 5 * h)
                          + rng.randint(-top // 16, top // 16)))
             for x in range(w)] for y in range(h)]


def _rgb(seed: int, h: int, w: int):
    r, g, b = (_gray(seed + k, h, w) for k in range(3))
    return [[[r[y][x], g[y][x], 255 - b[y][x]] for x in range(w)]
            for y in range(h)]


def _runs(seed: int, h: int, w: int):
    """CCITT rows with short and long (>= 64, makeup-coded) runs."""
    rng = random.Random(seed)
    rows = []
    for _ in range(h):
        row, black = [], False
        while len(row) < w:
            row += [black] * rng.choice([1, 2, 3, 5, 9, 40, 70, 130, 300])
            black = not black
        rows.append(row[:w])
    return rows


def _symbols(rng: random.Random, n: int, lo: int = 2, hi: int = 8):
    """Rectangular symbols; heights repeat so height classes hold >1."""
    heights = [rng.randint(lo, hi) for _ in range((n + 1) // 2)]
    return [_bitmap(rng, heights[i // 2], rng.randint(lo, hi))
            for i in range(n)]


def _placements(rng: random.Random, n_sym: int, cols: int, nrows: int,
                n: int, margin: int = 10):
    return [(rng.randrange(n_sym), rng.randint(0, cols - margin),
             rng.randint(0, nrows - margin)) for _ in range(n)]


def _refined(rng: random.Random, base, dw: int = 0, dh: int = 0,
             flips: int = 3):
    """A copy of ``base`` grown/shrunk by (dw, dh) with a few flips."""
    hi, wi = max(1, len(base) + dh), max(1, len(base[0]) + dw)
    bmp = [[base[y][x] if y < len(base) and x < len(base[0]) else False
            for x in range(wi)] for y in range(hi)]
    for _ in range(flips):
        y, x = rng.randrange(hi), rng.randrange(wi)
        bmp[y][x] = not bmp[y][x]
    return bmp


# --- JPEG -------------------------------------------------------------------

def _jpeg_cases() -> dict:
    c = {}
    for h, w in ((1, 1), (5, 7), (8, 8), (17, 23)):
        c[f"jpeg_gray_{h}x{w}"] = (R.jpeg_gray_encode, _gray(h * w, h, w))
    c["jpeg_gray_restart1"] = (lambda i: R.jpeg_gray_encode(
        i, restart_interval=1), _gray(1, 17, 23))
    c["jpeg_gray_restart3"] = (lambda i: R.jpeg_gray_encode(
        i, restart_interval=3), _gray(2, 25, 31))
    c["jpeg_gray_p12"] = (lambda i: R.jpeg_gray_encode(
        i, precision=12), _gray(3, 13, 9, top=4095))
    c["jpeg_gray_p12_restart3"] = (lambda i: R.jpeg_gray_encode(
        i, restart_interval=3, precision=12), _gray(4, 19, 29, top=4095))
    for enc, shapes in (
            (R.jpeg_color_encode, ((1, 1), (5, 7), (17, 23))),
            (R.jpeg_420_encode, ((2, 2), (5, 7), (17, 23), (33, 18))),
            (R.jpeg_411_encode, ((1, 1), (3, 5), (5, 7), (9, 37)))):
        for h, w in shapes:
            c[f"{enc.__name__}_{h}x{w}"] = (enc, _rgb(h + w, h, w))
    for h, w in ((5, 7), (17, 23), (24, 40)):
        c[f"jpeg_progressive_{h}x{w}"] = (R.jpeg_progressive_encode,
                                          _gray(h - w, h, w))
    for pred in range(1, 8):
        c[f"jpeg_lossless_p8_pred{pred}"] = (lambda i, p=pred:
                                             R.jpeg_lossless_encode(
                                                 i, predictor=p),
                                             _gray(pred, 6, 7))
    for prec in (12, 16):
        c[f"jpeg_lossless_p{prec}_pred4"] = (
            lambda i, p=prec: R.jpeg_lossless_encode(i, precision=p,
                                                     predictor=4),
            _gray(prec, 5, 9, top=(1 << prec) - 1))
    return {k: (lambda f=f, a=a: f(a)) for k, (f, a) in c.items()}


# --- JBIG2 ------------------------------------------------------------------

def _jbig2_cases() -> dict:
    c = {}
    rng = random.Random(5)
    rows = _bitmap(rng, 21, 37, 0.3)
    rows[7] = list(rows[6])  # a typical (repeated) row for TPGDON
    at = [(2, -1), (-2, -1), (1, -2), (-3, -2)]
    c["jbig2_generic"] = lambda: R.jbig2_encode(rows, 37)
    c["jbig2_generic_mmr"] = lambda: R.jbig2_encode(rows, 37, mmr=True)
    c["jbig2_generic_tpgdon"] = lambda: R.jbig2_encode(rows, 37, tpgdon=True)
    c["jbig2_generic_at"] = lambda: R.jbig2_encode(rows, 37, at_pixels=at)
    c["jbig2_generic_tpgdon_at"] = lambda: R.jbig2_encode(
        rows, 37, tpgdon=True, at_pixels=at)

    rng = random.Random(11)
    syms = _symbols(rng, 5)
    places = _placements(rng, 5, 40, 24, 9)
    for corner in range(4):
        for tr in (False, True):
            c[f"jbig2_text_c{corner}_t{int(tr)}"] = (
                lambda k=corner, t=tr: R.jbig2_text_encode(
                    syms, places, 40, 24, ref_corner=k, transposed=t))
    refine = {0: _refined(rng, syms[places[0][0]], 1, 1),
              3: _refined(rng, syms[places[3][0]], -1, 0),
              5: _refined(rng, syms[places[5][0]])}
    for corner in (0, 2):
        for tr in (False, True):
            c[f"jbig2_text_refined_c{corner}_t{int(tr)}"] = (
                lambda k=corner, t=tr: R.jbig2_text_encode(
                    syms, places, 40, 24, ref_corner=k, transposed=t,
                    instance_refine=refine))

    grow = {1: _refined(rng, syms[places[1][0]], 2, 1),
            4: _refined(rng, syms[places[4][0]], 0, 2)}
    for name, kw in (("s1", {}), ("s4", {"strips": 4}),
                     ("s4_c3_t1", {"strips": 4, "ref_corner": 3,
                                   "transposed": True}),
                     ("refined", {"instance_refine": grow}),
                     ("refined_s4_c0_t1", {"instance_refine": grow,
                                           "strips": 4, "ref_corner": 0,
                                           "transposed": True})):
        c[f"jbig2_huffman_textregion_{name}"] = (
            lambda kw=kw: R.jbig2_huffman_textregion_encode(
                syms, places, 40, 24, **kw))
    for mmr in (False, True):
        for dw in (False, True):
            c[f"jbig2_huffman_sd_mmr{int(mmr)}_dw{int(dw)}"] = (
                lambda m=mmr, d=dw: R.jbig2_huffman_text_encode(
                    syms, places, 40, 24, mmr=m, custom_dw=d))

    rng = random.Random(17)
    base = _bitmap(rng, 14, 33, 0.4)
    target = _refined(rng, base, flips=40)
    for template in (0, 1):
        for tpgron in (False, True):
            c[f"jbig2_refinement_t{template}_tp{int(tpgron)}"] = (
                lambda t=template, tp=tpgron: R.jbig2_refinement_encode(
                    base, target, 33, template=t, tpgron=tp))

    rng = random.Random(23)
    pats = [[[rng.random() < i / 4 for _ in range(4)] for _ in range(4)]
            for i in range(5)]
    gray = [[rng.randrange(5) for _ in range(6)] for _ in range(5)]
    c["jbig2_halftone"] = lambda: R.jbig2_halftone_encode(gray, pats)
    c["jbig2_halftone_mmr"] = lambda: R.jbig2_halftone_encode(
        gray, pats, mmr=True)
    c["jbig2_halftone_skip"] = lambda: R.jbig2_halftone_encode(
        gray, pats, skip_cols=1)

    rng = random.Random(29)
    bases = _symbols(rng, 4, 3, 7)
    variants = [(b, _refined(rng, bases[b], flips=4)) for b in (0, 2, 3)]
    hvariants = [(b, _refined(rng, bases[b], dw, dh))
                 for b, dw, dh in ((1, 1, 0), (2, 0, 2), (3, 2, 1))]
    aggs = [(24, 12, [(b, 1 + 5 * k, k % 3,
                       _refined(rng, bases[b], k % 3, (k + 1) % 3))
                      for k, b in enumerate((0, 1, 3))]),
            (14, 10, [(2, 0, 1, _refined(rng, bases[2])),
                      (0, 7, 0, _refined(rng, bases[0], 1, 1))])]
    places = _placements(rng, len(bases) + 3 + 2, 64, 32, 7, 26)
    c["jbig2_refagg"] = lambda: R.jbig2_refagg_text_encode(
        bases, variants, places[:4], 64, 32)
    c["jbig2_refagg_aggregates"] = lambda: R.jbig2_refagg_text_encode(
        bases, variants, places, 64, 32, aggregates=aggs)
    c["jbig2_huffman_refagg"] = lambda: R.jbig2_huffman_refagg_encode(
        bases, hvariants, places[:4], 64, 32)
    c["jbig2_huffman_refagg_aggregates"] = (
        lambda: R.jbig2_huffman_refagg_encode(
            bases, hvariants, places, 64, 32, aggregates=aggs))
    return c


# --- CCITT ------------------------------------------------------------------

def _ccitt_cases() -> dict:
    rows = _runs(31, 12, 301)
    rows[5] = list(rows[4])
    return {
        "ccitt_g4": lambda: R.ccitt_g4_encode(rows, 301),
        "ccitt_g3_1d": lambda: R.ccitt_g3_1d_encode(rows, 301),
        "ccitt_g3_2d_k2": lambda: R.ccitt_g3_2d_encode(rows, 301, k=2),
        "ccitt_g3_2d_k4": lambda: R.ccitt_g3_2d_encode(rows, 301, k=4),
    }


CASES = {**_jpeg_cases(), **_jbig2_cases(), **_ccitt_cases()}


def _digest(out) -> str:
    """sha256 of an encoder's bytes; JBIG2 writers also return the
    composed page they promise the decoder gives back, pinned with it."""
    h = hashlib.sha256()
    if isinstance(out, tuple):
        stream, page = out
        h.update(stream)
        for row in page:
            h.update(b"|" + bytes(1 if v else 0 for v in row))
    else:
        h.update(out)
    return h.hexdigest()


DIGESTS = {
    "ccitt_g3_1d":
        "662bbbbfcb1cb668d63f2ae9db58c1cf59d1ada02281ef294ae3f5b312f7cc96",
    "ccitt_g3_2d_k2":
        "c2472723a1d11d8697a199371749aa61f2de469896898e60f82fd41bfd8adf1e",
    "ccitt_g3_2d_k4":
        "3f62648d3131857862eabb976689d331ec9bce90804db418ea89fa563d275fee",
    "ccitt_g4":
        "875bf0e4c9853bb77afec8706edce917ffec58e1672e6a27f72c4b44a68d336b",
    "jbig2_generic":
        "35e2a5e47bc44084e25f1c8c8464601abb6b83047f7b28871d1aaa0436d5f858",
    "jbig2_generic_at":
        "451792ae52ed02182dc14407d1eea09189326def999fcd89b8fefa8c946a2013",
    "jbig2_generic_mmr":
        "af0998250831eac01c3f265dc356701d573a1f0b059d3b8531d38dc7f7334fae",
    "jbig2_generic_tpgdon":
        "f938af1fb764203c0cf63aeca17c924f64fa9516d57946b6346594ecfed4efef",
    "jbig2_generic_tpgdon_at":
        "0316ec37849d8608e4febbd71db97b76025c242527610b7a30766b5df9e24add",
    "jbig2_halftone":
        "4868a04b0c954396028357cf643a9f73a737a7dc41d3e7d583b6bc78eb09576e",
    "jbig2_halftone_mmr":
        "d75427f65066861a5e3fbac8d3bf950ad3fd13564a38589d6f5bd7b47d9b6039",
    "jbig2_halftone_skip":
        "7c9978e703fbc227d4f31a5ec7a76130e6afad9bb668338e070e30a7286a00fd",
    "jbig2_huffman_refagg":
        "7bc885367a7615ebdc376d5593a8d78bad6fbec6a65f9c6ed014b148ed429f24",
    "jbig2_huffman_refagg_aggregates":
        "0851dabe62aec3531204a328126f4f1c58833f8ff58bedce03e2f12624441f25",
    "jbig2_huffman_sd_mmr0_dw0":
        "44ebf696659a8f018fcb8a9d839045d51b393c1a7e48d883e663079bf17e101e",
    "jbig2_huffman_sd_mmr0_dw1":
        "f97be54bb41099bcfdbe869a901b6209e38b4c06bb2317fb776a1d9b614af621",
    "jbig2_huffman_sd_mmr1_dw0":
        "cd18c99a6a1ae9a43b0dc2edf01749be3607b60091fcad5129e47b146fafa99d",
    "jbig2_huffman_sd_mmr1_dw1":
        "a4dfedc45e599bca9a1add8e0f86b2b5d8679714c3ee99c6be601c149e9e11f7",
    "jbig2_huffman_textregion_refined":
        "bb3493ad8880ed98056c1030cd4ec4b43f23f150525cb81622e818423f2e0d8b",
    "jbig2_huffman_textregion_refined_s4_c0_t1":
        "cf00abd5ca2e70e1edea13033d24446a7e7d4f2d9c1cc13491f39626a4974b20",
    "jbig2_huffman_textregion_s1":
        "2d4184b497f60b7eda381294e953f99e5073fba4310ada9fa49ec08f84094706",
    "jbig2_huffman_textregion_s4":
        "847f1a97d17bac81586afb21953d44d1674ae141d4895ed011b9893794c0d643",
    "jbig2_huffman_textregion_s4_c3_t1":
        "50b938518255ffe53e02cbb5721aeb6ec6e53635f900ddd61846c4791c408792",
    "jbig2_refagg":
        "ef5f4bdaf5807fd4ce58f32b5469cb9c9f57ef6bed52a954cfb72dd01e03228d",
    "jbig2_refagg_aggregates":
        "03a42d9dd5ebe43446e27ad972a91c1499f9e3fc5499c5ba200abb071c5d3d69",
    "jbig2_refinement_t0_tp0":
        "ab6aa9bca3bd7913c747963851c72a171751b161030b381dd4587f449066fba7",
    "jbig2_refinement_t0_tp1":
        "b8e89a70691e780321b68d9e604b3ccc9b41e64ea95afc59f4df920843811794",
    "jbig2_refinement_t1_tp0":
        "803a124de414fb65a1c30edee67b679d0618a3c41d165f0ff492c5030524cd49",
    "jbig2_refinement_t1_tp1":
        "8864b76d53a004d26a927ecf2662ddc14d2cc5b25689d6366011e817ec1216be",
    "jbig2_text_c0_t0":
        "548a93a88e68655afa4f7f4b4e71b78b973e46d41e83a437e9318cfd6ee66c20",
    "jbig2_text_c0_t1":
        "a7bd0706c7b56aafb3fe66a0a539c7bb810024fd32eb7018c178f00e054072cd",
    "jbig2_text_c1_t0":
        "f36be88b673ddc13d767046cc57537ccc4d9608e20c480f76b2dcff1805cde1f",
    "jbig2_text_c1_t1":
        "bc81f5d8a20b0a3cecd48acb8d43a6f3e040b03d6f6e6bace95b3a5ac55dc82b",
    "jbig2_text_c2_t0":
        "11332c23b862e53540d2d559bc56f4b6e8a1fd71b85f2d8029a8ffc462c83f09",
    "jbig2_text_c2_t1":
        "02aa107f1fad0d420e043be049865ae6cfd7779b68e66841de855cc39a60c8e7",
    "jbig2_text_c3_t0":
        "82fcf8c6c8a85a7816a1a40cc3467ab39a5eed50ab85ea3b1a982fd92cc07308",
    "jbig2_text_c3_t1":
        "7c1be095f22c70d520e1fe89b05e12bb7d66bcf9364490c6a2299fc239192228",
    "jbig2_text_refined_c0_t0":
        "a79fcbce29904bb8c49f2368cc804b9fe3b6db620f45f2d4012b183a64ccdbb4",
    "jbig2_text_refined_c0_t1":
        "8ce1cd05b75c8cba41d7694b035d4263eb030bf1322323918bfc8a7efac5e95c",
    "jbig2_text_refined_c2_t0":
        "52b9e6e644aa34b9e2b822a60c3e4a0681e3e8e588ef46e78e029ebf6092ea86",
    "jbig2_text_refined_c2_t1":
        "37b74a699f44fb59b310a0b0e53dab2135d6401da651dc8a5c5428423d1a90f0",
    "jpeg_411_encode_1x1":
        "9272acfa4063aff78b35e60b0892798523bcc96cdc1b5418c38f89e481bde282",
    "jpeg_411_encode_3x5":
        "1978cba35a8d22adfc9bac5a7a096061bb30f4998c06f4e720c3f4d706245e86",
    "jpeg_411_encode_5x7":
        "2fa3249bb33d506beb1c8ce33b12af9ff4477b64384383255b0e9c67a25b41ee",
    "jpeg_411_encode_9x37":
        "54ca588a75c0ec6cfb4c7d2335954ee18b0e44213a9c80082563da8c8b64dd7d",
    "jpeg_420_encode_17x23":
        "1de2f896439385fd53186374322fec8600563bdc85c6acd6655b6cc620b5aed2",
    "jpeg_420_encode_2x2":
        "9b93a77865ed280e8cefbc055849f6b92462942957c25acbc87b0d1390acc911",
    "jpeg_420_encode_33x18":
        "2ff9867170df1f9ee151f76a1c716af4813d8b37aac8f5f8c40802bcb3c75e8e",
    "jpeg_420_encode_5x7":
        "09f388e8bcfd2eee6bf0e6541634e9a8355ab7c7c1d2455e7220406edd2e954f",
    "jpeg_color_encode_17x23":
        "568639314c57a7d5f958a7aeb5e61404e20153de7959080c16ec14ee2270ad62",
    "jpeg_color_encode_1x1":
        "6b0202d61dbad26954cf14bc50197b75aeceb8ee3915e9871933f89479ae4de6",
    "jpeg_color_encode_5x7":
        "9c62fe9d7f4dc75d0ad66eed128648ee62d2dee04732bf60a3a65600a2cea97e",
    "jpeg_gray_17x23":
        "c095d2e2acac3d2edb6280e6aa57ab916d21c7e29ba9d8eb0b0420a8bfe74ed6",
    "jpeg_gray_1x1":
        "6fb11b33f52715dd86b9787b350a3076959f3365e709d7cf091faa11c0361c13",
    "jpeg_gray_5x7":
        "3809ac0a06eb8314362c4e46f8c813bce6274ba016396ea038298951351b05de",
    "jpeg_gray_8x8":
        "a141314e27e310d201957226b8ad49422c0336513269decdf6570c4a25e74944",
    "jpeg_gray_p12":
        "f96b7c02d4f3a42da4d190cbeee607a76c13abf9e2f1bd520c69211d9dfa905b",
    "jpeg_gray_p12_restart3":
        "88e90ddb5606e1d8d238d5a9c8246000ccd3e83b00bc3420ebaee4669c11fdfb",
    "jpeg_gray_restart1":
        "23cf467578afe1dff1dc18831ed9c80a2a54e43222821733c997f598528298df",
    "jpeg_gray_restart3":
        "4fc97a346cd0730b9b35c23ad0147f206f5eb77887c6894d3bbf140f4bc1d64b",
    "jpeg_lossless_p12_pred4":
        "980592b1a1d7175a3d90ad58484cb6732beff3a19f099263ab7e2473501dabda",
    "jpeg_lossless_p16_pred4":
        "d24489bb44fc42982395d9e231c78a7e6b15c05e480f1f73a90a747dcb79d465",
    "jpeg_lossless_p8_pred1":
        "b4b7f7946efe8d776cc246229f6e2ebfc736fb4250d49af7414b52e0694d0c93",
    "jpeg_lossless_p8_pred2":
        "f661a00be53cee17b482ab6d1c098fab5b19f4a4b8cb49ca7d2573a2ca6587cc",
    "jpeg_lossless_p8_pred3":
        "751ddcbb6a201a0346f194817eca1584b6ca95f9e2a4a0aaed1bd47520aa2b96",
    "jpeg_lossless_p8_pred4":
        "9e63b7c3788f701a026bf24414d93d3f0130ebb28b28a0585a95367889ec64de",
    "jpeg_lossless_p8_pred5":
        "89f32428d09926b6dc2c438d429376fb504d08c1567f24d1dacb8e49dbdbe4fc",
    "jpeg_lossless_p8_pred6":
        "8a6093e2400e2955b2c0984ce5bc3786cb0dbbfec6e67f023d434f01584241be",
    "jpeg_lossless_p8_pred7":
        "15977a2486d1776c2cea9594cc3f2ed804aefc68741c7f10c38e99a47031e47c",
    "jpeg_progressive_17x23":
        "62b24c25005fbaef40da969cd1e82ef1511657b89a8677eb7520a82d48ce2062",
    "jpeg_progressive_24x40":
        "1c404b50efddf4f1adc10e6939d9d198fbd1335494ba792fde444fd8be432bdc",
    "jpeg_progressive_5x7":
        "5f05ebde90a5b66eb4b52646eca3b1d82879edfd607c1f25aef26ac2bc844583",
}


def test_every_case_is_pinned():
    assert sorted(CASES) == sorted(DIGESTS)


@pytest.mark.parametrize("name", sorted(CASES))
def test_encoder_bytes_pinned(name):
    assert _digest(CASES[name]()) == DIGESTS[name], name
