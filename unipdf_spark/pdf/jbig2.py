"""JBIG2 decoder — embedded (PDF) organization, generic-region subset.

Re-expresses the reference's JBIG2 support (unipdf internal/jbig2, ~1600
LoC; decoder entry internal/jbig2/decoder) from the public spec
(ISO/IEC 14492 / ITU-T T.88) for the segments real scanned-PDF streams use:

* segment headers (§7.2): number, type flags, referred-to segments, page
  association, data length;
* page information (type 48) — page bitmap size + default pixel;
* immediate/intermediate GENERIC REGIONS (types 36/38/39, §6.2): MMR=1
  payloads decode through the engine's T.6 decoder (ccitt.py); MMR=0
  payloads decode with the MQ arithmetic coder (Annex E) over the template
  0–3 context models, with TPGDON typical-prediction rows;
* SYMBOL DICTIONARIES (type 0, §6.5): arithmetic height classes,
  SDREFAGG=1 refinement-coded symbols against imported/earlier symbols
  (§6.5.8.2 — both the REFAGGNINST=1 shortcut and >1 aggregate nested
  text regions, referred-dict imports honored), AND SDHUFF=1
  Huffman classes (standard Annex B tables, collective height-class
  bitmaps — uncompressed or MMR — or SDREFAGG=1 per-symbol refinement:
  raw-ID + B.15 RDX/RDY + byte-aligned BMSIZE arithmetic chunks, with
  REFAGGNINST>1 as nested Huffman text regions); TEXT REGIONS (types 4/6/7,
  §6.4, arithmetic, all four REFCORNERs, transposed and untransposed,
  SBREFINE=1 refinement-coded instances per §6.4.11), INCLUDING SBHUFF=1
  Huffman text regions (standard tables B.6–B.15 verified against the
  reference's embedded table data, §7.4.3.1.7 symbol ID runcodes,
  byte-aligned BMSIZE refinement chunks);
* GENERIC REFINEMENT REGIONS (types 40/42/43, §6.3): templates 0/1 with
  TPGRON, refining (replacing) the current page content;
* PATTERN DICTIONARIES (type 16, §6.7: collective generic bitmap, special
  A1 = (−HDPW, 0)) + HALFTONE REGIONS (types 20/22/23, §6.6: Gray-coded
  grayscale bitplanes, MSB first — arithmetic shared-context or HMMR=1
  consecutive T.6 planes in one stream — with ENABLESKIP §6.6.5.1 skip
  bitmaps honored in both coding and composition);
* CUSTOM HUFFMAN TABLE segments (type 53, §7.4.13) consumed by SDHUFF /
  SBHUFF selections in order of use.

Bitmap convention: 1 = black (JBIG2 foreground), rows packed MSB-first —
callers converting to PDF imaging space handle /Decode semantics.

Context bit order: template pixels are scanned in raster order (row y−2,
y−1, y), earlier pixel = higher bit, AT pixels at their nominal positions.
The writer-side encoder (fixtures/render.py) is an independent
transcription of the ENCODER flowcharts against which this decoder is
round-trip fuzzed.
"""

from __future__ import annotations

# MQ-coder probability state table (T.88 Annex E, Table E.1 — shared with
# JPEG2000): (Qe, NMPS, NLPS, SWITCH)
QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]


class MQDecoder:
    """Arithmetic decoder (T.88 Annex E software conventions)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.bp = 0
        b0 = data[0] if data else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000

    def _bytein(self) -> None:
        data, bp = self.data, self.bp
        b = data[bp] if bp < len(data) else 0xFF
        if b == 0xFF:
            b1 = data[bp + 1] if bp + 1 < len(data) else 0xFF
            if b1 > 0x8F:
                self.c += 0xFF00
                self.ct = 8
            else:
                self.bp = bp + 1
                self.c += b1 << 9
                self.ct = 7
        else:
            self.bp = bp + 1
            b1 = data[self.bp] if self.bp < len(data) else 0xFF
            self.c += b1 << 8
            self.ct = 8

    def decode(self, cx: list) -> int:
        """cx = [index, mps] per context (mutated in place)."""
        i, mps = cx
        qe, nmps, nlps, switch = QE[i]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange path
            if self.a < qe:
                d = mps
                cx[0] = nmps
            else:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            self.a = qe
        else:
            self.c = (self.c - (qe << 16)) & 0xFFFFFFFF
            if self.a & 0x8000:
                return mps
            # MPS exchange path
            if self.a < qe:
                d = 1 - mps
                if switch:
                    cx[1] = 1 - mps
                cx[0] = nlps
            else:
                d = mps
                cx[0] = nmps
        while True:  # RENORMD
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break
        return d


# nominal AT pixel positions per template (§6.2.5.3)
NOMINAL_AT = {
    0: [(3, -1), (-3, -1), (2, -2), (-2, -2)],
    1: [(3, -1)],
    2: [(2, -1)],
    3: [(2, -1)],
}

# fixed template pixels (dx, dy), raster order (§6.2.5.7 figures)
_FIXED = {
    0: [(-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)],
    1: [(-1, -2), (0, -2), (1, -2), (2, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1), (2, -1),
        (-3, 0), (-2, 0), (-1, 0)],
    2: [(-1, -2), (0, -2), (1, -2),
        (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-2, 0), (-1, 0)],
    3: [(-3, -1), (-2, -1), (-1, -1), (0, -1), (1, -1),
        (-4, 0), (-3, 0), (-2, 0), (-1, 0)],
}

# TPGDON pseudo-pixel contexts per template (§6.2.5.7), valid for the
# NOMINAL AT positions under raster-sorted bit ordering.
_TPGDON_CTX = {0: 0x9B25, 1: 0x0795, 2: 0x00E5, 3: 0x0195}


def template_pixels(template: int, at: list[tuple[int, int]]):
    """Full template: fixed pixels + AT pixels, sorted raster order (y, x);
    earlier pixel = higher context bit."""
    pts = list(_FIXED[template]) + list(at)
    pts.sort(key=lambda p: (p[1], p[0]))
    return pts


def tpgdon_context(template: int, at: list[tuple[int, int]]) -> int:
    """TPGDON pseudo-pixel context for an arbitrary AT configuration.

    The spec assigns a fixed pseudo VALUE to each template slot (fixed
    pixels and the A-pixels themselves), independent of where the A-pixels
    sit. The published constants encode those values in raster-sorted order
    for the NOMINAL AT positions; with custom AT the sort order permutes, so
    we recover the per-slot values from the nominal layout and re-encode
    them in the actual layout's sort order.
    """
    fixed = _FIXED[template]
    nominal = NOMINAL_AT[template]

    def tagged(at_pts):
        pts = [((p[1], p[0]), ("f", p)) for p in fixed] + [
            ((p[1], p[0]), ("a", i)) for i, p in enumerate(at_pts)
        ]
        pts.sort(key=lambda t: t[0])
        return pts

    nom = tagged(nominal)
    const = _TPGDON_CTX[template]
    n = len(nom)
    slot_val = {tag: (const >> (n - 1 - k)) & 1 for k, (_, tag) in
                enumerate(nom)}
    ctx = 0
    for _, tag in tagged(at):
        ctx = (ctx << 1) | slot_val[tag]
    return ctx


def decode_generic(
    data: bytes, width: int, height: int, template: int = 0,
    at: list[tuple[int, int]] | None = None, tpgdon: bool = False,
) -> list[bytearray]:
    """Generic region decoding procedure (§6.2.5.7) over a fresh decoder.
    Returns rows of 0/1 ints (1 = black)."""
    return decode_generic_with(
        MQDecoder(data), {}, width, height, template, at, tpgdon)


def decode_generic_with(
    dec: MQDecoder, contexts: dict, width: int, height: int,
    template: int = 0, at: list[tuple[int, int]] | None = None,
    tpgdon: bool = False, skip: list | None = None,
) -> list[bytearray]:
    """Generic region decoding sharing an MQ decoder + GB context store —
    the symbol-dictionary procedure (§6.5.5) decodes every symbol bitmap
    through ONE arithmetic decoder with persistent contexts. ``skip``
    (USESKIP, §6.2.5.7 step 3(c)): pixels where the skip bitmap is 1 are
    set to 0 WITHOUT consuming an arithmetic decision (halftone
    ENABLESKIP grid cells wholly outside the region)."""
    at = at if at is not None else NOMINAL_AT[template]
    pts = template_pixels(template, at)
    nbits = len(pts)
    tpgdon_cx = tpgdon_context(template, at) if tpgdon else 0
    bitmap = [bytearray(width) for _ in range(height)]
    ltp = 0

    def px(x: int, y: int) -> int:
        if 0 <= x < width and 0 <= y < height:
            return bitmap[y][x]
        return 0

    for y in range(height):
        if tpgdon:
            cx = contexts.setdefault(tpgdon_cx, [0, 0])
            if dec.decode(cx):
                ltp ^= 1
            if ltp:
                if y > 0:
                    bitmap[y][:] = bitmap[y - 1]
                continue
        row = bitmap[y]
        skiprow = skip[y] if skip is not None else None
        for x in range(width):
            if skiprow is not None and skiprow[x]:
                continue  # row[x] stays 0, no arithmetic decision
            ctx = 0
            for k in range(nbits):
                dx, dy = pts[k]
                ctx = (ctx << 1) | px(x + dx, y + dy)
            cx = contexts.setdefault(ctx, [0, 0])
            row[x] = dec.decode(cx)
    return bitmap


OOB = object()  # out-of-band marker (Annex A integer decoding)


class IntCtx:
    """One integer-arithmetic context set (IADH, IADW, …): a 512-entry
    adaptive context tree (Annex A)."""

    __slots__ = ("cx",)

    def __init__(self) -> None:
        self.cx = [[0, 0] for _ in range(512)]


def decode_int(dec: MQDecoder, ctx: IntCtx):
    """Integer arithmetic decoding procedure (Annex A.2): sign bit + prefix
    class + value bits, all through the adaptive PREV context tree. Returns
    an int or OOB."""
    cx = ctx.cx
    prev = 1

    def bit() -> int:
        nonlocal prev
        b = dec.decode(cx[prev])
        prev = ((prev << 1) | b) if prev < 256 else (
            ((((prev << 1) | b) & 511) | 256))
        return b

    def read(n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | bit()
        return v

    s = bit()
    if not bit():
        v = read(2)
    elif not bit():
        v = read(4) + 4
    elif not bit():
        v = read(6) + 20
    elif not bit():
        v = read(8) + 84
    elif not bit():
        v = read(12) + 340
    else:
        v = read(32) + 4436
    if s:
        if v == 0:
            return OOB
        return -v
    return v


def decode_iaid(dec: MQDecoder, cx: list, symcodelen: int) -> int:
    """IAID decoding procedure (Annex A.3): symcodelen bits through a
    (1 << (symcodelen+1))-entry context tree."""
    prev = 1
    for _ in range(symcodelen):
        b = dec.decode(cx[prev])
        prev = (prev << 1) | b
    return prev - (1 << symcodelen)


# sanity caps for corrupt web-corpus streams: a garbage header must fail
# fast with a typed error, never spin a worker on a 2^32 instance count or
# allocate a multi-GB bitmap (relaxed-mode contract, SURVEY §3.1)
MAX_PIXELS = 1 << 26       # 64M pixels per region/page bitmap
MAX_INSTANCES = 1 << 20    # text-region instances
MAX_SYMBOLS = 1 << 17      # dictionary symbols
MAX_DIM = 1 << 15          # single dimension


def _check_dims(w: int, h: int, what: str) -> None:
    if not (0 <= w <= MAX_DIM and 0 <= h <= MAX_DIM) or w * h > MAX_PIXELS:
        raise Jbig2Error(f"implausible {what} dimensions {w}x{h}")


def _u32(b: bytes, off: int) -> int:
    return int.from_bytes(b[off : off + 4], "big")


class Jbig2Error(Exception):
    pass


class _BitsMSB:
    """MSB-first bit reader over segment data (Huffman-coded fields)."""

    __slots__ = ("data", "pos", "bitpos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.bitpos = 0

    def bit(self) -> int:
        if self.pos >= len(self.data):
            raise Jbig2Error("truncated huffman data")
        b = (self.data[self.pos] >> (7 - self.bitpos)) & 1
        self.bitpos += 1
        if self.bitpos == 8:
            self.bitpos = 0
            self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align(self) -> None:
        if self.bitpos:
            self.bitpos = 0
            self.pos += 1


class HuffTable:
    """Annex B Huffman table: canonical codes over (preflen, rangelen,
    rangelow) lines plus optional lower/upper/OOB lines (B.3 assignment)."""

    def __init__(self, lines, lower=None, upper=None, oob_len: int = 0):
        entries = []  # (preflen, kind, rangelen, rangelow)
        for pl, rl, lo in lines:
            entries.append((pl, "n", rl, lo))
        if lower is not None:
            entries.append((lower[0], "l", 32, lower[1]))
        if upper is not None:
            entries.append((upper[0], "u", 32, upper[1]))
        if oob_len:
            entries.append((oob_len, "o", 0, 0))
        self.lookup: dict[tuple[int, int], tuple[str, int, int]] = {}
        code = 0
        for length in range(1, 33):
            for pl, kind, rl, lo in entries:  # table order within a length
                if pl == length:
                    self.lookup[(length, code)] = (kind, rl, lo)
                    code += 1
            code <<= 1

    def decode(self, br: _BitsMSB):
        code = 0
        for length in range(1, 33):
            code = (code << 1) | br.bit()
            hit = self.lookup.get((length, code))
            if hit is not None:
                kind, rl, lo = hit
                if kind == "o":
                    return OOB
                v = br.bits(rl)
                if kind == "l":
                    return lo - v
                return lo + v
        raise Jbig2Error("invalid huffman code")


def parse_table_segment(seg: bytes) -> "HuffTable":
    """Custom Huffman table segment (type 53, §7.4.13 / B.2 table
    definition): flags (HTOOB, HTPS, HTRS), HTLOW/HTHIGH, then a bit
    stream of (PREFLEN, RANGELEN) line pairs covering [HTLOW, HTHIGH),
    a lower-range line (< HTLOW), an upper-range line (≥ HTHIGH) and an
    optional OOB prefix."""
    flags = seg[0]
    htoob = flags & 1
    htps = ((flags >> 1) & 7) + 1
    htrs = ((flags >> 4) & 7) + 1
    htlow = int.from_bytes(seg[1:5], "big", signed=True)
    hthigh = int.from_bytes(seg[5:9], "big", signed=True)
    br = _BitsMSB(seg, 9)
    lines = []
    cur = htlow
    while cur < hthigh:
        preflen = br.bits(htps)
        rangelen = br.bits(htrs)
        lines.append((preflen, rangelen, cur))
        cur += 1 << rangelen
    low_pl = br.bits(htps)
    up_pl = br.bits(htps)
    oob_pl = br.bits(htps) if htoob else 0
    return HuffTable(
        [ln for ln in lines if ln[0] > 0],
        lower=(low_pl, htlow - 1) if low_pl else None,
        upper=(up_pl, hthigh) if up_pl else None,
        oob_len=oob_pl,
    )


# standard tables (T.88 Annex B)
TABLE_B1 = HuffTable([(1, 4, 0), (2, 8, 16), (3, 16, 272)],
                     upper=(3, 65808))
TABLE_B2 = HuffTable([(1, 0, 0), (2, 0, 1), (3, 0, 2), (4, 3, 3),
                      (5, 6, 11)], upper=(6, 75), oob_len=6)
TABLE_B3 = HuffTable([(8, 8, -256), (1, 0, 0), (2, 0, 1), (3, 0, 2),
                      (4, 3, 3), (5, 6, 11)], lower=(8, -257),
                     upper=(7, 75), oob_len=6)
TABLE_B4 = HuffTable([(1, 0, 1), (2, 0, 2), (3, 0, 3), (4, 3, 4),
                      (5, 6, 12)], upper=(5, 76))
TABLE_B5 = HuffTable([(7, 8, -255), (1, 0, 1), (2, 0, 2), (3, 0, 3),
                      (4, 3, 4), (5, 6, 12)], lower=(7, -256),
                     upper=(6, 76))
# B.6–B.15 (text region FS/DS/DT/RD* selections) transcribed against the
# reference's embedded standard-table data (decoder/huffman/huffman.go,
# `_eded` — B.1–B.5 there match the transcriptions above line for line,
# validating the format before trusting B.6–B.15).
TABLE_B6 = HuffTable([(5, 10, -2048), (4, 9, -1024), (4, 8, -512),
                      (4, 7, -256), (5, 6, -128), (5, 5, -64),
                      (4, 5, -32), (2, 7, 0), (3, 7, 128), (3, 8, 256),
                      (4, 9, 512), (4, 10, 1024)],
                     lower=(6, -2049), upper=(6, 2048))
TABLE_B7 = HuffTable([(4, 9, -1024), (3, 8, -512), (4, 7, -256),
                      (5, 6, -128), (5, 5, -64), (4, 5, -32), (4, 5, 0),
                      (5, 5, 32), (5, 6, 64), (4, 7, 128), (3, 8, 256),
                      (3, 9, 512), (3, 10, 1024)],
                     lower=(5, -1025), upper=(5, 2048))
TABLE_B8 = HuffTable([(8, 3, -15), (9, 1, -7), (8, 1, -5), (9, 0, -3),
                      (7, 0, -2), (4, 0, -1), (2, 1, 0), (5, 0, 2),
                      (6, 0, 3), (3, 4, 4), (6, 1, 20), (4, 4, 22),
                      (4, 5, 38), (5, 6, 70), (5, 7, 134), (6, 7, 262),
                      (7, 8, 390), (6, 10, 646)],
                     lower=(9, -16), upper=(9, 1670), oob_len=2)
TABLE_B9 = HuffTable([(8, 4, -31), (9, 2, -15), (8, 2, -11), (9, 1, -7),
                      (7, 1, -5), (4, 1, -3), (3, 1, -1), (3, 1, 1),
                      (5, 1, 3), (6, 1, 5), (3, 5, 7), (6, 2, 39),
                      (4, 5, 43), (4, 6, 75), (5, 7, 139), (5, 8, 267),
                      (6, 8, 523), (7, 9, 779), (6, 11, 1291)],
                     lower=(9, -32), upper=(9, 3339), oob_len=2)
TABLE_B10 = HuffTable([(7, 4, -21), (8, 0, -5), (7, 0, -4), (5, 0, -3),
                       (2, 2, -2), (5, 0, 2), (6, 0, 3), (7, 0, 4),
                       (8, 0, 5), (2, 6, 6), (5, 5, 70), (6, 5, 102),
                       (6, 6, 134), (6, 7, 198), (6, 8, 326),
                       (6, 9, 582), (6, 10, 1094), (7, 11, 2118)],
                      lower=(8, -22), upper=(8, 4166), oob_len=2)
TABLE_B11 = HuffTable([(1, 0, 1), (2, 1, 2), (4, 0, 4), (4, 1, 5),
                       (5, 1, 7), (5, 2, 9), (6, 2, 13), (7, 2, 17),
                       (7, 3, 21), (7, 4, 29), (7, 5, 45), (7, 6, 77)],
                      upper=(7, 141))
TABLE_B12 = HuffTable([(1, 0, 1), (2, 0, 2), (3, 1, 3), (5, 0, 5),
                       (5, 1, 6), (6, 1, 8), (7, 0, 10), (7, 1, 11),
                       (7, 2, 13), (7, 3, 17), (7, 4, 25), (8, 5, 41)],
                      upper=(8, 73))
TABLE_B13 = HuffTable([(1, 0, 1), (3, 0, 2), (4, 0, 3), (5, 0, 4),
                       (4, 1, 5), (3, 3, 7), (6, 1, 15), (6, 2, 17),
                       (6, 3, 21), (6, 4, 29), (6, 5, 45), (7, 6, 77)],
                      upper=(7, 141))
TABLE_B14 = HuffTable([(3, 0, -2), (3, 0, -1), (1, 0, 0), (3, 0, 1),
                       (3, 0, 2)])
TABLE_B15 = HuffTable([(7, 4, -24), (6, 2, -8), (5, 1, -4), (4, 0, -2),
                       (3, 0, -1), (1, 0, 0), (3, 0, 1), (4, 0, 2),
                       (5, 1, 3), (6, 2, 5), (7, 4, 9)],
                      lower=(7, -25), upper=(7, 25))


def _huffman_symbol_dict(seg: bytes, flags: int, off: int,
                         num_ex: int, num_new: int,
                         custom_tables: list | None = None,
                         input_syms: list | None = None,
                         refagg: bool = False, rtemplate: int = 0,
                         rat=None):
    """SDHUFF=1 symbol dictionary (§6.5.5 Huffman branch).

    SDREFAGG=0: §6.5.9 collective height-class bitmaps (uncompressed when
    BMSIZE=0, MMR/T.6 otherwise). SDREFAGG=1 (verified against the
    reference's huffDecodeRefAggNInst / decodeRefinedSymbol): per-symbol
    REFAGGNINST via B.1 (or the custom table after DH/DW/BMSIZE customs);
    =1 → raw symcodelen-bit ID + RDX/RDY via B.15 (fixed) + BMSIZE via
    B.1 → byte-aligned arithmetic GRR chunk; >1 → nested Huffman text
    region (standard B.6/B.8/B.11/B.14/B.1 tables, raw-bit symbol IDs,
    TL/strip-1/refined). Standard Annex B selections, or custom table
    segments consumed in order of use (DH, DW, BMSIZE, AGG —
    §7.4.3.1.6)."""
    custom = list(custom_tables or [])
    input_syms = input_syms or []

    def pick(sel: int, *std):
        if sel < len(std):
            return std[sel]
        if not custom:
            raise Jbig2Error("custom huffman table segment missing")
        return custom.pop(0)

    dh_sel = (flags >> 2) & 3
    dw_sel = (flags >> 4) & 3
    bm_sel = (flags >> 6) & 1
    ag_sel = (flags >> 7) & 1
    t_dh = pick(dh_sel, TABLE_B4, TABLE_B5)
    t_dw = pick(dw_sel, TABLE_B2, TABLE_B3)
    t_bm = pick(bm_sel, TABLE_B1)
    t_ag = pick(ag_sel, TABLE_B1) if refagg else None
    t_ex = TABLE_B1

    if num_new > MAX_SYMBOLS or num_ex > MAX_SYMBOLS:
        raise Jbig2Error("implausible symbol dictionary size")
    n_total = len(input_syms) + num_new
    # getSbSymCodeLen: ceil(log2(total)), floor 1 in Huffman mode
    symcodelen = max(1, (n_total - 1).bit_length() if n_total > 1 else 1)
    gr_ctx: dict[int, list] = {}  # shared across all refinement chunks
    br = _BitsMSB(seg, off)
    new_syms: list[list[bytearray]] = []
    hcheight = 0
    n_classes = 0
    while len(new_syms) < num_new:
        n_classes += 1
        if n_classes > num_new + 1024:
            raise Jbig2Error("symbol dictionary class decoding diverged")
        dh = t_dh.decode(br)
        if dh is OOB:
            raise Jbig2Error("unexpected OOB in huffman height class")
        hcheight += dh
        symwidth = 0
        if refagg:
            while True:
                dw = t_dw.decode(br)
                if dw is OOB:
                    break
                symwidth += dw
                _check_dims(symwidth, hcheight, "symbol")
                if len(new_syms) >= num_new:
                    raise Jbig2Error("too many symbols")
                pool = input_syms + new_syms
                n_inst = t_ag.decode(br)
                if n_inst is OOB:
                    raise Jbig2Error("unexpected OOB for REFAGGNINST")
                if n_inst == 1:
                    rid = br.bits(symcodelen)
                    rdx = TABLE_B15.decode(br)
                    rdy = TABLE_B15.decode(br)
                    bmsize = TABLE_B1.decode(br)
                    ref = pool[rid] if rid < len(pool) else []
                    ref_h = len(ref)
                    ref_w = len(ref[0]) if ref_h else 0
                    new_syms.append(_huffman_refinement_chunk(
                        br, seg, ref, ref_w, ref_h, symwidth, hcheight,
                        rdx, rdy, rtemplate, rat, gr_ctx, bmsize))
                else:
                    new_syms.append([bytearray(r) for r in
                                     _huffman_text_instances(
                        br, seg, pool, symwidth, hcheight, n_inst,
                        strips=1, log_strips=0, ref_corner=1,
                        transposed=0, ds_offset=0, def_pixel=0,
                        refine=True, rtemplate=rtemplate, rat=rat,
                        t_fs=TABLE_B6, t_ds=TABLE_B8, t_dt=TABLE_B11,
                        t_rdw=TABLE_B14, t_rdh=TABLE_B14,
                        t_rdx=TABLE_B14, t_rdy=TABLE_B14,
                        t_rsize=TABLE_B1,
                        read_id=lambda: br.bits(symcodelen),
                        gr_ctx=gr_ctx)])
            continue
        totwidth = 0
        widths: list[int] = []
        while True:
            dw = t_dw.decode(br)
            if dw is OOB:
                break
            symwidth += dw
            totwidth += symwidth
            _check_dims(symwidth, hcheight, "symbol")
            if totwidth > MAX_DIM * 4:
                raise Jbig2Error("implausible collective bitmap width")
            widths.append(symwidth)
            if len(new_syms) + len(widths) > num_new:
                raise Jbig2Error("too many symbols")
        bmsize = t_bm.decode(br)
        if bmsize is OOB:
            raise Jbig2Error("unexpected OOB for BMSIZE")
        br.align()
        stride = (totwidth + 7) // 8
        if bmsize == 0:  # uncompressed collective bitmap
            size = stride * hcheight
            packed = seg[br.pos : br.pos + size]
            if len(packed) < size:
                raise Jbig2Error("truncated collective bitmap")
            br.pos += size
        else:  # MMR-coded collective bitmap
            from .ccitt import decode_ccitt

            packed = decode_ccitt(
                seg[br.pos : br.pos + bmsize],
                {"K": -1, "Columns": totwidth, "Rows": hcheight,
                 "BlackIs1": True},
            )
            br.pos += bmsize
        # split the collective bitmap into the class's symbols
        x0 = 0
        for wd in widths:
            sym = [
                bytearray(
                    (packed[y * stride + ((x0 + x) >> 3)]
                     >> (7 - ((x0 + x) & 7))) & 1
                    for x in range(wd)
                )
                for y in range(hcheight)
            ]
            new_syms.append(sym)
            x0 += wd
    # export flags: Table B.1 runs, alternating skip/export over
    # SDINSYMS + SDNEWSYMS (§6.5.10)
    all_syms = input_syms + new_syms
    exported: list[list[bytearray]] = []
    i = 0
    cur_export = 0
    while i < len(all_syms) and len(exported) < num_ex:
        run = t_ex.decode(br)
        if run is OOB:
            break
        if cur_export:
            exported.extend(all_syms[i : i + run])
        i += run
        cur_export ^= 1
    return exported


# refinement templates (§6.3.5.3): context pixels in MSB→LSB bit order,
# each entry = (plane, dx, dy) with plane "c" = coding (current) bitmap,
# "r" = reference bitmap (shifted by GRREFERENCEDX/DY). Verified against
# the reference implementation's context formation
# (internal/jbig2/document/segments/segments.go: template0.form =
# (refAbove3<<10)|(refSame3<<7)|(refBelow3<<4)|(codingAbove3<<1)|codingLeft
# with A1 overriding bit 3 and A2 bit 12 in overrideAtTemplate0;
# template1.form = (refAboveCenter<<9)|(refSame3<<6)|(refBelow2<<4)|
# (codingAbove3<<1)|codingLeft), which matches T.88 figures 14–15.
# Template 0's entries [0] and [9] are the AT-substitutable positions
# (A2 in the reference plane, A1 in the coding plane; nominal (−1,−1)).
_REF_TEMPLATES = {
    0: [("r", -1, -1), ("r", 0, -1), ("r", 1, -1),
        ("r", -1, 0), ("r", 0, 0), ("r", 1, 0),
        ("r", -1, 1), ("r", 0, 1), ("r", 1, 1),
        ("c", -1, -1), ("c", 0, -1), ("c", 1, -1), ("c", -1, 0)],
    1: [("r", 0, -1), ("r", -1, 0), ("r", 0, 0), ("r", 1, 0),
        ("r", 0, 1), ("r", 1, 1),
        ("c", -1, -1), ("c", 0, -1), ("c", 1, -1), ("c", -1, 0)],
}
# SLTP pseudo-context = "reference same-row centre pixel set, all else
# clear" (T.88 §6.3.5.6: 0x0100 for GRTEMPLATE 0, 0x0080 for 1; the
# reference's template0.setIndex(0x100)/template1.setIndex(0x080)).
_REF_TPGRON_CTX = {0: 0x0100, 1: 0x0080}
REF_NOMINAL_AT = [(-1, -1), (-1, -1)]


def decode_refinement(dec: MQDecoder, contexts: dict, width: int,
                      height: int, template: int,
                      at: list[tuple[int, int]] | None,
                      ref: list, ref_w: int, ref_h: int,
                      dx: int, dy: int, tpgron: bool = False):
    """Generic refinement region decoding (§6.3.5): each pixel's context
    mixes the already-decoded coding plane with a 3×3 window of the
    reference bitmap shifted by (dx, dy). TPGRON rows decode only the
    non-typical pixels (those whose reference window is not uniform)."""
    at = at if at is not None else REF_NOMINAL_AT
    pixels = list(_REF_TEMPLATES[template])
    if template == 0:
        pixels[0] = ("r", at[1][0], at[1][1])   # A2: reference plane
        pixels[9] = ("c", at[0][0], at[0][1])   # A1: coding plane
    bitmap = [bytearray(width) for _ in range(height)]

    def cpx(x: int, y: int) -> int:
        if 0 <= x < width and 0 <= y < height:
            return bitmap[y][x]
        return 0

    def rpx(x: int, y: int) -> int:
        if 0 <= x < ref_w and 0 <= y < ref_h:
            return ref[y][x]
        return 0

    ltp = 0
    for y in range(height):
        if tpgron:
            cx = contexts.setdefault(_REF_TPGRON_CTX[template], [0, 0])
            ltp ^= dec.decode(cx)
        row = bitmap[y]
        for x in range(width):
            if ltp:
                s = sum(rpx(x - dx + i, y - dy + j)
                        for j in (-1, 0, 1) for i in (-1, 0, 1))
                if s == 0:
                    row[x] = 0
                    continue
                if s == 9:
                    row[x] = 1
                    continue
            ctx = 0
            for plane, ddx, ddy in pixels:
                if plane == "c":
                    ctx = (ctx << 1) | cpx(x + ddx, y + ddy)
                else:
                    ctx = (ctx << 1) | rpx(x + ddx - dx, y + ddy - dy)
            row[x] = dec.decode(contexts.setdefault(ctx, [0, 0]))
    return bitmap


def decode_symbol_dict(seg: bytes,
                       input_syms: list | None = None,
                       custom_tables: list | None = None
                       ) -> list[list[bytearray]]:
    """Symbol dictionary decoding (§6.5): arithmetic height classes —
    generically coded or SDREFAGG=1 refinement-coded against imported/
    earlier symbols (§6.5.8.2, REFAGGNINST=1) — or SDHUFF=1 Huffman
    classes with collective bitmaps (standard Annex B tables).
    ``input_syms`` are the referred-to dictionaries' exports (SDINSYMS).
    REFAGGNINST>1 symbols decode as nested text regions sharing the
    dictionary's contexts."""
    input_syms = input_syms or []
    flags = int.from_bytes(seg[0:2], "big")
    huffman = flags & 1
    refagg = (flags >> 1) & 1
    template = (flags >> 10) & 3
    rtemplate = (flags >> 12) & 1
    if huffman:
        off = 2
        rat = None
        if refagg and rtemplate == 0:
            rat = []
            for _ in range(2):
                rat.append((
                    int.from_bytes(seg[off : off + 1], "big", signed=True),
                    int.from_bytes(seg[off + 1 : off + 2], "big",
                                   signed=True)))
                off += 2
        num_ex = _u32(seg, off)
        num_new = _u32(seg, off + 4)
        return _huffman_symbol_dict(seg, flags, off + 8, num_ex, num_new,
                                    custom_tables, input_syms,
                                    bool(refagg), rtemplate, rat)
    off = 2
    n_at = 4 if template == 0 else 1
    at = []
    for _ in range(n_at):
        at.append((int.from_bytes(seg[off : off + 1], "big", signed=True),
                   int.from_bytes(seg[off + 1 : off + 2], "big", signed=True)))
        off += 2
    rat = None
    if refagg and rtemplate == 0:
        rat = []
        for _ in range(2):
            rat.append((
                int.from_bytes(seg[off : off + 1], "big", signed=True),
                int.from_bytes(seg[off + 1 : off + 2], "big", signed=True)))
            off += 2
    num_ex = _u32(seg, off)
    num_new = _u32(seg, off + 4)
    off += 8
    if num_new > MAX_SYMBOLS or num_ex > MAX_SYMBOLS:
        raise Jbig2Error("implausible symbol dictionary size")

    dec = MQDecoder(seg[off:])
    gb_ctx: dict[int, list] = {}
    iadh, iadw, iaex, iaai = IntCtx(), IntCtx(), IntCtx(), IntCtx()
    n_total = len(input_syms) + num_new
    symcodelen = max(1, (n_total - 1).bit_length() if n_total > 1 else 1)
    tc = TextCtx(symcodelen)  # GR store + IAID shared with aggregates
    agg_tc: TextCtx | None = None  # nested-region stats (lazily created)
    new_syms: list[list[bytearray]] = []
    hcheight = 0
    n_classes = 0
    while len(new_syms) < num_new:
        n_classes += 1
        if n_classes > num_new + 1024:
            raise Jbig2Error("symbol dictionary class decoding diverged")
        dh = decode_int(dec, iadh)
        if dh is OOB:
            raise Jbig2Error("unexpected OOB in height class")
        hcheight += dh
        symwidth = 0
        while True:
            dw = decode_int(dec, iadw)
            if dw is OOB:
                break  # end of height class
            symwidth += dw
            _check_dims(symwidth, hcheight, "symbol")
            if len(new_syms) >= num_new:
                raise Jbig2Error("too many symbols")
            if refagg:
                n_inst = decode_int(dec, iaai)
                pool = input_syms + new_syms
                if n_inst == 1:
                    # single-refinement shortcut (§6.5.8.2.2)
                    rid = decode_iaid(dec, tc.iaid_cx, symcodelen)
                    rdx = decode_int(dec, tc.iardx)
                    rdy = decode_int(dec, tc.iardy)
                    ref = pool[rid] if rid < len(pool) else []
                    ref_h = len(ref)
                    ref_w = len(ref[0]) if ref_h else 0
                    new_syms.append(decode_refinement(
                        dec, tc.gr_ctx, symwidth, hcheight, rtemplate, rat,
                        ref, ref_w, ref_h, rdx, rdy, False))
                else:
                    # aggregate: the symbol is a nested text region over
                    # the pool (§6.5.8.2.1: SBSTRIPS=1, TL corner,
                    # untransposed, SBDEFPIXEL=0, SBDSOFFSET=0,
                    # SBREFINE=1). Context sharing verified against the
                    # reference (segments.go decodeThroughTextRegion /
                    # setContexts): the nested region shares the
                    # dictionary's GR refinement store and IAID tree but
                    # gets its OWN integer-arithmetic stats, created on
                    # first aggregate and reused across aggregates.
                    if agg_tc is None:
                        agg_tc = TextCtx(symcodelen)
                        agg_tc.iaid_cx = tc.iaid_cx
                        agg_tc.gr_ctx = tc.gr_ctx
                    new_syms.append([
                        bytearray(r) for r in decode_text_payload(
                            dec, agg_tc, pool, symwidth, hcheight, n_inst,
                            strips=1, ref_corner=1, transposed=0,
                            ds_offset=0, def_pixel=0, refine=True,
                            rtemplate=rtemplate, rat=rat)
                    ])
            else:
                new_syms.append(
                    decode_generic_with(dec, gb_ctx, symwidth, hcheight,
                                        template, at))
    # export flags: alternating (skip, export) run lengths over
    # SDINSYMS + SDNEWSYMS (§6.5.10)
    all_syms = input_syms + new_syms
    exported: list[list[bytearray]] = []
    i = 0
    cur_export = 0
    while i < len(all_syms) and len(exported) < num_ex:
        run = decode_int(dec, iaex)
        if run is OOB:
            break
        if cur_export:
            exported.extend(all_syms[i : i + run])
        i += run
        cur_export ^= 1
    return exported


def decode_pattern_dict(seg: bytes) -> list[list[bytearray]]:
    """Pattern dictionary decoding (§6.7): one collective generic bitmap of
    (GRAYMAX+1) patterns side by side, special AT per §6.7.5
    (A1 = (−HDPW, 0)); split into HDPW-wide patterns. MMR leg via T.6."""
    flags = seg[0]
    hdmmr = flags & 1
    template = (flags >> 1) & 3
    hdpw, hdph = seg[1], seg[2]
    graymax = _u32(seg, 3)
    if graymax > 4096 or hdpw == 0 or hdph == 0:
        raise Jbig2Error("implausible pattern dictionary")
    width = (graymax + 1) * hdpw
    if hdmmr:
        from .ccitt import decode_ccitt

        packed = decode_ccitt(
            seg[7:], {"K": -1, "Columns": width, "Rows": hdph,
                      "BlackIs1": True})
        stride = (width + 7) // 8
        coll = [
            bytearray((packed[y * stride + (x >> 3)] >> (7 - (x & 7))) & 1
                      for x in range(width))
            for y in range(hdph)
        ]
    else:
        at = [(-hdpw, 0), (-3, -1), (2, -2), (-2, -2)][: 4 if template == 0
                                                       else 1]
        coll = decode_generic(seg[7:], width, hdph, template, at)
    return [
        [row[i * hdpw : (i + 1) * hdpw] for row in coll]
        for i in range(graymax + 1)
    ]


def decode_halftone_region(seg: bytes, patterns: list):
    """Halftone region decoding (§6.6): Gray-coded grayscale bitplanes
    (Annex C, MSB first) index the pattern dictionary; patterns stamp onto
    the region grid at ((HGX + mg·HRY + ng·HRX) >> 8,
    (HGY + mg·HRX − ng·HRY) >> 8) with OR composition. HMMR=1 planes
    decode as consecutive EOFB-terminated T.6 bitmaps from one stream
    (ccitt.decode_t6_planes); ENABLESKIP computes the §6.6.5.1 skip
    bitmap (grid cells wholly outside the region) and generic decoding
    skips those pixels."""
    rw, rh = _u32(seg, 0), _u32(seg, 4)
    rx, ry = _u32(seg, 8), _u32(seg, 12)
    flags = seg[17]
    hmmr = flags & 1
    template = (flags >> 1) & 3
    enableskip = (flags >> 3) & 1
    def_pixel = (flags >> 7) & 1
    hgw, hgh = _u32(seg, 18), _u32(seg, 22)
    hgx = int.from_bytes(seg[26:30], "big", signed=True)
    hgy = int.from_bytes(seg[30:34], "big", signed=True)
    hrx = int.from_bytes(seg[34:36], "big")
    hry = int.from_bytes(seg[36:38], "big")
    _check_dims(rw, rh, "halftone region")
    _check_dims(hgw, hgh, "halftone grid")
    npats = len(patterns)
    if npats == 0:
        raise Jbig2Error("halftone region without pattern dictionary")
    pat_h0 = len(patterns[0])
    pat_w0 = len(patterns[0][0]) if pat_h0 else 0
    bpp = max(1, (npats - 1).bit_length())
    skipmap = None
    if enableskip and not hmmr:
        # §6.6.5.1: skip a grid cell whose pattern stamp cannot touch the
        # region (x + HPW ≤ 0, x ≥ HBW, y + HPH ≤ 0, or y ≥ HBH)
        skipmap = [bytearray(hgw) for _ in range(hgh)]
        for mg in range(hgh):
            for ng in range(hgw):
                x = (hgx + mg * hry + ng * hrx) >> 8
                y = (hgy + mg * hrx - ng * hry) >> 8
                if (x + pat_w0 <= 0 or x >= rw
                        or y + pat_h0 <= 0 or y >= rh):
                    skipmap[mg][ng] = 1
    gray = [[0] * hgw for _ in range(hgh)]
    prev = [[0] * hgw for _ in range(hgh)]
    if hmmr:
        from .ccitt import decode_t6_planes

        stride = (hgw + 7) // 8
        packed = decode_t6_planes(seg[38:], hgw, hgh, bpp)

        def plane_rows(j: int):
            p = packed[bpp - 1 - j]  # planes coded MSB first
            return [
                bytearray(
                    (p[y * stride + (x >> 3)] >> (7 - (x & 7))) & 1
                    for x in range(hgw)
                )
                for y in range(hgh)
            ]
    else:
        dec = MQDecoder(seg[38:])
        contexts: dict[int, list] = {}
        at = NOMINAL_AT[template]

        def plane_rows(j: int):
            return decode_generic_with(dec, contexts, hgw, hgh, template,
                                       at, skip=skipmap)
    for j in range(bpp - 1, -1, -1):  # MSB plane first (Annex C.5)
        plane = plane_rows(j)
        for y in range(hgh):
            gr = gray[y]
            pr = prev[y]
            pl = plane[y]
            for x in range(hgw):
                bit = pl[x] ^ pr[x]  # Gray decode vs more-significant bit
                gr[x] = (gr[x] << 1) | bit
                pr[x] = bit
    bitmap = [bytearray([def_pixel] * rw) for _ in range(rh)]
    pat_h = len(patterns[0])
    pat_w = len(patterns[0][0]) if pat_h else 0
    for mg in range(hgh):
        for ng in range(hgw):
            gi = gray[mg][ng]
            pat = patterns[gi if gi < npats else npats - 1]
            x0 = (hgx + mg * hry + ng * hrx) >> 8
            y0 = (hgy + mg * hrx - ng * hry) >> 8
            for yy in range(pat_h):
                py = y0 + yy
                if 0 <= py < rh:
                    row = bitmap[py]
                    prow = pat[yy]
                    for xx in range(pat_w):
                        px = x0 + xx
                        if 0 <= px < rw and prow[xx]:
                            row[px] = 1
    return bitmap, rw, rh, rx, ry


def decode_text_region(seg: bytes, symbols: list[list[bytearray]],
                       custom_tables: list | None = None):
    """Text region decoding (§6.4): arithmetic or SBHUFF=1 Huffman.
    SBREFINE=1 instances are refinement-coded deltas of their dictionary
    symbol (RI flag + RDW/RDH/RDX/RDY + GRR decode, §6.4.11; in Huffman
    mode RI is one raw bit and the GRR data is a byte-aligned
    BMSIZE-delimited arithmetic chunk). ``custom_tables`` are referred
    type-53 table segments, consumed in field order FS, DS, DT, RDW,
    RDH, RDX, RDY, RSIZE for selections == 3 (1 for RSIZE).
    Returns (region rows, rw, rh, rx, ry)."""
    rw, rh = _u32(seg, 0), _u32(seg, 4)
    rx, ry = _u32(seg, 8), _u32(seg, 12)
    flags = int.from_bytes(seg[17:19], "big")
    huffman = flags & 1
    refine = (flags >> 1) & 1
    log_strips = (flags >> 2) & 3
    strips = 1 << log_strips
    # T.88 §7.4.3.1.1 text region segment flags layout:
    # bit0 SBHUFF, bit1 SBREFINE, bits2-3 LOGSBSTRIPS, bits4-5 REFCORNER,
    # bit6 TRANSPOSED, bits7-8 SBCOMBOP, bit9 SBDEFPIXEL, bits10-14 SBDSOFFSET
    ref_corner = (flags >> 4) & 3  # 0=BL 1=TL 2=BR 3=TR
    transposed = (flags >> 6) & 1
    comb_op = (flags >> 7) & 3
    def_pixel = (flags >> 9) & 1
    ds_offset = (flags << 17) & 0xFFFFFFFF
    ds_offset = (ds_offset >> 27) - 32 if (ds_offset >> 27) > 15 else (
        ds_offset >> 27)
    rtemplate = (flags >> 15) & 1
    off = 19
    hflags = 0
    if huffman:
        # §7.4.3.1.2 text region Huffman flags (big-endian 16-bit)
        hflags = int.from_bytes(seg[19:21], "big")
        off = 21
    rat = None
    if refine and rtemplate == 0:
        rat = []
        for _ in range(2):
            rat.append((
                int.from_bytes(seg[off : off + 1], "big", signed=True),
                int.from_bytes(seg[off + 1 : off + 2], "big", signed=True)))
            off += 2
    num_instances = _u32(seg, off)
    off += 4

    if huffman:
        bitmap = _huffman_text_region(
            seg, off, hflags, symbols, rw, rh, num_instances, strips,
            log_strips, ref_corner, transposed, ds_offset, def_pixel,
            bool(refine), rtemplate, rat, custom_tables)
        return bitmap, rw, rh, rx, ry

    n_syms = len(symbols)
    symcodelen = max(1, (n_syms - 1).bit_length() if n_syms > 1 else 1)
    dec = MQDecoder(seg[off:])
    tc = TextCtx(symcodelen)
    bitmap = decode_text_payload(
        dec, tc, symbols, rw, rh, num_instances, strips, ref_corner,
        transposed, ds_offset, def_pixel, bool(refine), rtemplate, rat)
    return bitmap, rw, rh, rx, ry


def _symbol_id_codes(br: "_BitsMSB", n_syms: int) -> "HuffTable":
    """Symbol ID code assignment (§7.4.3.1.7): 35 four-bit runcode
    lengths → canonical runcode table → per-symbol code lengths via
    runcodes (0–31 literal, 32 = repeat previous 3–6×, 33 = 3–10 zeros,
    34 = 11–138 zeros) → canonical symbol code table. The reader is
    byte-aligned afterwards (reference: symbolIDCodeLengths → Align)."""
    runlines = []
    for rc in range(35):
        pl = br.bits(4)
        if pl > 0:
            runlines.append((pl, 0, rc))
    runtab = HuffTable(runlines)
    lengths: list[int] = []
    prev = 0
    while len(lengths) < n_syms:
        code = runtab.decode(br)
        if code is OOB:
            raise Jbig2Error("unexpected OOB in symbol ID code lengths")
        if code < 32:
            lengths.append(code)
            # T.88 §7.4.3.1.7 / reference symbolIDCodeLengths: prev is
            # updated for EVERY literal code including 0 — runcode 32
            # after a literal 0 repeats the zero, not the last nonzero.
            prev = code
        elif code == 32:
            # runcode 32 with NO prior literal: the reference's
            # symbolIDCodeLengths tolerates it (repeat value stays 0, the
            # symbol counter still advances) — extend with zeros instead
            # of failing the whole decode (r6 ADVICE).
            rep = br.bits(2) + 3
            lengths.extend([prev] * rep)
        elif code == 33:
            lengths.extend([0] * (br.bits(3) + 3))
        else:  # 34
            lengths.extend([0] * (br.bits(7) + 11))
    br.align()
    symlines = [(ln, 0, i) for i, ln in enumerate(lengths[:n_syms])
                if ln > 0]
    if not symlines:
        raise Jbig2Error("no symbol ID codes assigned")
    return HuffTable(symlines)


def _huffman_text_region(seg: bytes, off: int, hflags: int, symbols: list,
                         rw: int, rh: int, num_instances: int,
                         strips: int, log_strips: int, ref_corner: int,
                         transposed: int, ds_offset: int, def_pixel: int,
                         refine: bool, rtemplate: int, rat,
                         custom_tables: list | None):
    """SBHUFF=1 text region instance decoding (§6.4 Huffman branch).
    Table selections (verified against the reference's readHuffmanFlags /
    decodeDfs/decodeIds/decodeStripT/decodeRdw): FS → B.6/B.7, DS →
    B.8–B.10, DT → B.11–B.13, RDW/RDH/RDX/RDY → B.14/B.15, RSIZE → B.1;
    selection 3 (1 for RSIZE) takes the next referred custom table in
    field order. CURT is LOGSBSTRIPS raw bits; RI is one raw bit; each
    refined instance's GRR data is a byte-aligned BMSIZE arithmetic chunk
    sharing one GR context store across the region."""
    custom = list(custom_tables or [])

    def pick(sel: int, *std):
        if sel < len(std):
            return std[sel]
        if not custom:
            raise Jbig2Error("custom huffman table segment missing")
        return custom.pop(0)

    t_fs = pick(hflags & 3, TABLE_B6, TABLE_B7)
    t_ds = pick((hflags >> 2) & 3, TABLE_B8, TABLE_B9, TABLE_B10)
    t_dt = pick((hflags >> 4) & 3, TABLE_B11, TABLE_B12, TABLE_B13)
    t_rdw = pick((hflags >> 6) & 3, TABLE_B14, TABLE_B15)
    t_rdh = pick((hflags >> 8) & 3, TABLE_B14, TABLE_B15)
    t_rdx = pick((hflags >> 10) & 3, TABLE_B14, TABLE_B15)
    t_rdy = pick((hflags >> 12) & 3, TABLE_B14, TABLE_B15)
    t_rsize = pick((hflags >> 14) & 1, TABLE_B1)

    _check_dims(rw, rh, "text region")
    n_syms = len(symbols)
    br = _BitsMSB(seg, off)
    symcodes = _symbol_id_codes(br, n_syms)
    return _huffman_text_instances(
        br, seg, symbols, rw, rh, num_instances, strips, log_strips,
        ref_corner, transposed, ds_offset, def_pixel, refine, rtemplate,
        rat, t_fs, t_ds, t_dt, t_rdw, t_rdh, t_rdx, t_rdy, t_rsize,
        read_id=lambda: symcodes.decode(br), gr_ctx={})


def _huffman_refinement_chunk(br: "_BitsMSB", seg: bytes, ref, ref_w: int,
                              ref_h: int, wi: int, hi: int, dx: int,
                              dy: int, rtemplate: int, rat,
                              gr_ctx: dict, bmsize: int):
    """Byte-aligned BMSIZE-delimited arithmetic GRR chunk inside a
    Huffman-coded stream (§6.4.11 / §6.5.8.2.2 Huffman branches): the
    bit reader aligns, a fresh MQ decoder consumes exactly ``bmsize``
    bytes (GR context store shared across the region/dictionary), and
    reading resumes byte-aligned after the chunk. ``dx``/``dy`` are the
    final GRREFERENCEDX/DY: text-region instances add floor(RDW/2) per
    §6.4.11; symbol-dictionary refined symbols pass RDX/RDY directly
    (reference decodeNewSymbols semantics)."""
    _check_dims(wi, hi, "refined symbol")
    br.align()
    if bmsize:
        end = br.pos + bmsize
        mq = MQDecoder(seg[br.pos:end])
        out = decode_refinement(
            mq, gr_ctx, wi, hi, rtemplate, rat, ref, ref_w, ref_h,
            dx, dy, False)
        br.pos = end
    else:
        # BMSIZE=0: the chunk length is not delimited — the reference
        # decodes from the shared reader and merely re-aligns, so later
        # instances in the same stream must survive. Decode from the
        # current aligned position and advance by the bytes the MQ
        # decoder actually loaded (bp indexes the last byte read).
        mq = MQDecoder(seg[br.pos:])
        out = decode_refinement(
            mq, gr_ctx, wi, hi, rtemplate, rat, ref, ref_w, ref_h,
            dx, dy, False)
        br.pos = min(len(seg), br.pos + mq.bp + 1)
    br.bitpos = 0
    return out


def _huffman_text_instances(br: "_BitsMSB", seg: bytes, symbols: list,
                            rw: int, rh: int, num_instances: int,
                            strips: int, log_strips: int, ref_corner: int,
                            transposed: int, ds_offset: int,
                            def_pixel: int, refine: bool, rtemplate: int,
                            rat, t_fs, t_ds, t_dt, t_rdw, t_rdh, t_rdx,
                            t_rdy, t_rsize, read_id, gr_ctx: dict):
    """Huffman text-region instance loop (§6.4 Huffman branch), shared by
    SBHUFF=1 text region segments (canonical symbol ID codes) and
    SDHUFF=1 aggregate symbol coding (raw symcodelen-bit IDs — the
    reference's decodeID falls back to raw bits when no symbol code
    table was built)."""
    n_syms = len(symbols)
    if num_instances > MAX_INSTANCES:
        raise Jbig2Error("implausible text-region instance count")
    bitmap = [bytearray([def_pixel] * rw) for _ in range(rh)]

    first_dt = t_dt.decode(br)
    if first_dt is OOB:
        raise Jbig2Error("unexpected OOB for STRIPT")
    stript = -first_dt * strips
    firsts = 0
    n_inst = 0
    n_strips = 0
    while n_inst < num_instances:
        n_strips += 1
        if n_strips > num_instances + 4096:
            raise Jbig2Error("text region strip decoding diverged")
        dt = t_dt.decode(br)
        if dt is OOB:
            raise Jbig2Error("unexpected OOB for DT")
        stript += dt * strips
        first = True
        curs = 0
        while True:
            if first:
                dfs = t_fs.decode(br)
                if dfs is OOB:
                    raise Jbig2Error("unexpected OOB for DFS")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = t_ds.decode(br)
                if ids is OOB:
                    break  # end of strip
                curs += ids + ds_offset
            curt = br.bits(log_strips) if strips != 1 else 0
            t = stript + curt
            sym_id = read_id()
            sym = symbols[sym_id] if sym_id < n_syms else []
            if refine and br.bit():
                rdw = t_rdw.decode(br)
                rdh = t_rdh.decode(br)
                rdx = t_rdx.decode(br)
                rdy = t_rdy.decode(br)
                bmsize = t_rsize.decode(br)
                for v in (rdw, rdh, rdx, rdy, bmsize):
                    if v is OOB:
                        raise Jbig2Error("unexpected OOB in refinement")
                sh = len(sym)
                sw = len(sym[0]) if sh else 0
                sym = _huffman_refinement_chunk(
                    br, seg, sym, sw, sh, sw + rdw, sh + rdh,
                    (rdw >> 1) + rdx, (rdh >> 1) + rdy,
                    rtemplate, rat, gr_ctx, bmsize)
            curs += _place_instance(bitmap, sym, t, curs, ref_corner,
                                    transposed, rw, rh)
            n_inst += 1
            if n_inst >= num_instances:
                break
    return bitmap


def _place_instance(bitmap, sym, t, curs, ref_corner, transposed,
                    rw, rh) -> int:
    """Instance placement (T.88 §6.4.5), shared by the arithmetic and
    Huffman decode loops: S always spans CURS..CURS+len-1 along its axis
    (x untransposed, y transposed); the corner only moves the T edge
    (top/bottom row untransposed, left/right column transposed). Returns
    the CURS advance (span length − 1); composition is OR."""
    sh = len(sym)
    sw = len(sym[0]) if sh else 0
    if transposed:
        x0 = t if ref_corner in (0, 1) else t - sw + 1  # TL/BL
        y0 = curs
    else:
        y0 = t if ref_corner in (1, 3) else t - sh + 1  # TL/TR
        x0 = curs
    for yy in range(sh):
        py = y0 + yy
        if 0 <= py < rh:
            row = bitmap[py]
            srow = sym[yy]
            for xx in range(sw):
                px = x0 + xx
                if 0 <= px < rw and srow[xx]:
                    row[px] = 1  # OR composition
    return (sh if transposed else sw) - 1


class TextCtx:
    """Context bundle for text-region instance decoding — owned per
    region, or shared with a symbol dictionary for REFAGGNINST>1
    aggregate coding (§6.5.8.2.1)."""

    __slots__ = ("iadt", "iafs", "iads", "iait", "iari", "iardw", "iardh",
                 "iardx", "iardy", "iaid_cx", "gr_ctx", "symcodelen")

    def __init__(self, symcodelen: int) -> None:
        self.symcodelen = symcodelen
        for name in ("iadt", "iafs", "iads", "iait", "iari", "iardw",
                     "iardh", "iardx", "iardy"):
            setattr(self, name, IntCtx())
        self.iaid_cx = [[0, 0] for _ in range(1 << (symcodelen + 1))]
        self.gr_ctx: dict[int, list] = {}


def decode_text_payload(dec: MQDecoder, tc: TextCtx, symbols: list,
                        rw: int, rh: int, num_instances: int,
                        strips: int = 1, ref_corner: int = 1,
                        transposed: int = 0, ds_offset: int = 0,
                        def_pixel: int = 0, refine: bool = False,
                        rtemplate: int = 0, rat=None):
    """Strip/instance decoding core of §6.4 over an EXISTING decoder and
    context bundle; returns the composed (rh × rw) bitmap."""
    n_syms = len(symbols)
    symcodelen = tc.symcodelen
    _check_dims(rw, rh, "text region")
    if num_instances > MAX_INSTANCES:
        raise Jbig2Error("implausible text-region instance count")
    bitmap = [bytearray([def_pixel] * rw) for _ in range(rh)]
    stript = -(decode_int(dec, tc.iadt) or 0) * strips
    firsts = 0
    n_inst = 0
    n_strips = 0
    while n_inst < num_instances:
        n_strips += 1
        if n_strips > num_instances + 4096:
            # corrupt stream: strips keep ending without instances
            raise Jbig2Error("text region strip decoding diverged")
        dt = decode_int(dec, tc.iadt)
        if dt is OOB:
            raise Jbig2Error("unexpected OOB for DT")
        stript += dt * strips
        first = True
        curs = 0
        while True:
            if first:
                dfs = decode_int(dec, tc.iafs)
                if dfs is OOB:
                    raise Jbig2Error("unexpected OOB for DFS")
                firsts += dfs
                curs = firsts
                first = False
            else:
                ids = decode_int(dec, tc.iads)
                if ids is OOB:
                    break  # end of strip
                curs += ids + ds_offset
            curt = 0 if strips == 1 else decode_int(dec, tc.iait)
            t = stript + curt
            sym_id = decode_iaid(dec, tc.iaid_cx, symcodelen)
            sym = symbols[sym_id] if sym_id < n_syms else []
            sh = len(sym)
            sw = len(sym[0]) if sh else 0
            if refine and decode_int(dec, tc.iari):
                # refinement-coded instance (§6.4.11): the placed bitmap
                # is a GRR refinement of the dictionary symbol
                rdw = decode_int(dec, tc.iardw)
                rdh = decode_int(dec, tc.iardh)
                rdx = decode_int(dec, tc.iardx)
                rdy = decode_int(dec, tc.iardy)
                wi, hi = sw + rdw, sh + rdh
                _check_dims(wi, hi, "refined instance")
                sym = decode_refinement(
                    dec, tc.gr_ctx, wi, hi, rtemplate, rat, sym, sw, sh,
                    (rdw >> 1) + rdx, (rdh >> 1) + rdy, False)
                sh, sw = hi, wi
            curs += _place_instance(bitmap, sym, t, curs, ref_corner,
                                    transposed, rw, rh)
            n_inst += 1
            if n_inst >= num_instances:
                break
    return bitmap


def decode_embedded(data: bytes, width_hint: int = 0, height_hint: int = 0):
    """Decode a PDF-embedded JBIG2 stream (no file header). Returns
    (rows_of_0_1, width, height) of the page bitmap composited from its
    generic, text, halftone and refinement regions. Raises Jbig2Error on
    malformed segments and when no page bitmap results."""
    pos = 0
    n = len(data)
    page_w, page_h = width_hint, height_hint
    page: list[bytearray] | None = None
    sym_dicts: dict[int, list] = {}  # segment number → exported symbols
    pat_dicts: dict[int, list] = {}  # segment number → pattern bitmaps
    huff_tables: dict[int, HuffTable] = {}  # segment number → custom table

    def place(rows, rx: int, ry: int, rw: int, rh: int,
              replace: bool = False) -> None:
        """Compose a decoded region into the page, clipped to it: OR by
        default, REPLACE for refinement (§6.3.2). Without a page info
        segment, the first region sizes the page."""
        nonlocal page, page_w, page_h
        if page is None:
            page_w, page_h = max(page_w, rx + rw), max(page_h, ry + rh)
            page = [bytearray(page_w) for _ in range(page_h)]
        for y in range(min(rh, len(page) - ry)):
            prow = page[ry + y]
            row = rows[y]
            if replace:
                for x in range(min(rw, len(prow) - rx)):
                    prow[rx + x] = row[x]
            else:
                for x in range(min(rw, len(prow) - rx)):
                    prow[rx + x] |= row[x]

    while pos + 11 <= n:
        # --- segment header (§7.2) ---
        seg_number = _u32(data, pos)
        pos += 4
        flags = data[pos]
        pos += 1
        seg_type = flags & 0x3F
        page_assoc_4 = bool(flags & 0x40)
        rt = data[pos]
        count = rt >> 5
        if count == 7:
            count = _u32(data, pos) & 0x1FFFFFFF
            if count > 4096:
                raise Jbig2Error("implausible referred-to segment count")
            pos += 4 + (count + 8) // 8  # long form + retain bits
        else:
            pos += 1
        # referred-to segment number size follows THIS segment's number
        ref_size = 4 if seg_number > 65536 else 2 if seg_number > 256 else 1
        referred = [
            int.from_bytes(data[pos + i * ref_size : pos + (i + 1) * ref_size],
                           "big")
            for i in range(count)
        ]
        pos += count * ref_size
        pos += 4 if page_assoc_4 else 1
        dlen = _u32(data, pos)
        pos += 4
        if dlen == 0xFFFFFFFF:
            raise Jbig2Error("unknown segment length unsupported")
        seg = data[pos : pos + dlen]
        pos += dlen

        if seg_type == 48:  # page info
            page_w, page_h = _u32(seg, 0), _u32(seg, 4)
            if page_h == 0xFFFFFFFF:
                page_h = height_hint
            _check_dims(page_w, page_h, "page")
            default = (seg[16] >> 2) & 1 if len(seg) > 16 else 0
            page = [bytearray([default] * page_w) for _ in range(page_h)]
        elif seg_type in (36, 38, 39):  # generic region
            if len(seg) < 18:
                continue
            rw, rh = _u32(seg, 0), _u32(seg, 4)
            rx, ry = _u32(seg, 8), _u32(seg, 12)
            _check_dims(rw, rh, "generic region")
            gflags = seg[17]
            mmr = gflags & 1
            template = (gflags >> 1) & 3
            tpgdon = bool(gflags & 8)
            off = 18
            at: list[tuple[int, int]] = []
            if not mmr:
                n_at = 4 if template == 0 else 1
                for _ in range(n_at):
                    ax = int.from_bytes(seg[off : off + 1], "big", signed=True)
                    ay = int.from_bytes(
                        seg[off + 1 : off + 2], "big", signed=True)
                    at.append((ax, ay))
                    off += 2
            body = seg[off:]
            if mmr:
                from .ccitt import decode_ccitt

                packed = decode_ccitt(
                    body, {"K": -1, "Columns": rw, "Rows": rh,
                           "BlackIs1": True})
                stride = (rw + 7) // 8
                rows = [
                    bytearray(
                        (packed[y * stride + (x >> 3)] >> (7 - (x & 7))) & 1
                        for x in range(rw)
                    )
                    for y in range(rh)
                ]
            else:
                rows = decode_generic(body, rw, rh, template, at, tpgdon)
            place(rows, rx, ry, rw, rh)
        elif seg_type == 0:  # symbol dictionary
            in_syms: list = []
            in_tables: list = []
            for r in referred:
                in_syms.extend(sym_dicts.get(r, []))
                if r in huff_tables:
                    in_tables.append(huff_tables[r])
            sym_dicts[seg_number] = decode_symbol_dict(seg, in_syms,
                                                       in_tables)
        elif seg_type in (4, 6, 7):  # text region (intermediate/immediate)
            symbols: list = []
            tr_tables: list = []
            for r in referred:
                symbols.extend(sym_dicts.get(r, []))
                if r in huff_tables:
                    tr_tables.append(huff_tables[r])
            rows, rw, rh, rx, ry = decode_text_region(seg, symbols,
                                                      tr_tables)
            place(rows, rx, ry, rw, rh)
        elif seg_type in (40, 42, 43):  # generic refinement region (§7.4.7)
            rw, rh = _u32(seg, 0), _u32(seg, 4)
            rx, ry = _u32(seg, 8), _u32(seg, 12)
            _check_dims(rw, rh, "refinement region")
            rflags = seg[17]
            template = rflags & 1
            tpgron = bool(rflags & 2)
            off = 18
            at = None
            if template == 0:
                at = []
                for _ in range(2):
                    at.append((
                        int.from_bytes(seg[off : off + 1], "big",
                                       signed=True),
                        int.from_bytes(seg[off + 1 : off + 2], "big",
                                       signed=True),
                    ))
                    off += 2
            # reference = the page region being refined (no intermediate
            # buffers in this subset; before the first region the page is
            # all zeros); result REPLACES it (§6.3.2)
            ref = []
            for y in range(rh):
                row = (page[ry + y][rx : rx + rw]
                       if page is not None and ry + y < len(page) else b"")
                ref.append(bytearray(row) + bytearray(rw - len(row)))
            rows = decode_refinement(
                MQDecoder(seg[off:]), {}, rw, rh, template, at,
                ref, rw, rh, 0, 0, tpgron)
            place(rows, rx, ry, rw, rh, replace=True)
        elif seg_type == 53:  # custom Huffman table definition
            huff_tables[seg_number] = parse_table_segment(seg)
        elif seg_type == 16:  # pattern dictionary
            pat_dicts[seg_number] = decode_pattern_dict(seg)
        elif seg_type in (20, 22, 23):  # halftone region
            patterns: list = []
            for r in referred:
                patterns.extend(pat_dicts.get(r, []))
            rows, rw, rh, rx, ry = decode_halftone_region(seg, patterns)
            place(rows, rx, ry, rw, rh)
        # 49/50/51/62: end-of-* and extension segments — nothing to do

    if page is None:
        raise Jbig2Error("no page bitmap")
    return page, page_w, page_h


def decode_jbig2_packed(data: bytes, width_hint: int = 0,
                        height_hint: int = 0) -> tuple[bytes, int, int]:
    """Page bitmap packed MSB-first, 1 = black (JBIG2 convention)."""
    rows, w, h = decode_embedded(data, width_hint, height_hint)
    stride = (w + 7) // 8
    out = bytearray(stride * h)
    for y, row in enumerate(rows):
        base = y * stride
        for x in range(w):
            if row[x]:
                out[base + (x >> 3)] |= 0x80 >> (x & 7)
    return bytes(out), w, h
