"""Content-stream interpreter: operations → positioned text marks + media marks.

Re-expresses unipdf's processor + extractor switch:

* graphics-state machine with q/Q stack and CTM composition — native handler
  set of ``ContentStreamProcessor.Process`` (contentstream/contentstream.go:805,
  GraphicsState :413, stack :516);
* text object/state/positioning/showing dispatch — the extractor switch at
  extractor/extractor.go:966–1050 (BT :980, TJ :988, Do :1016);
* glyph advance math — ``renderText`` (extractor/extractor.go:356):
  Trm = [Tfs·Th 0; 0 Tfs; 0 Ts] · Tm · CTM; per-glyph
  dx = (w·Tfs + Tc + Tw[space]) · Th; Tm ← T(dx)·Tm; glyph ratio 1/1000
  (Type3: 1); orientation = baseline angle snapped (newTextMark e:712);
  NUL runes skipped;
* Form XObject recursion with per-name memoized parse (e:625 ``_gd``);
  image ``Do``/``BI`` → media marks in operator order (e:949/:687 semantics,
  identity hash instead of pixel decode);
* BDC/EMC ActualText override (e:977 block) — a direct /ActualText
  property, or the struct tree's ActualText for the region's /MCID:
  ``mcid_actual_text`` is this page's MCID → text map, built by the one
  struct-tree walk in ``extract.py``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import NamedTuple

from .. import schema
from .content import InlineImage, Operation, parse_content
from .cos import PdfDict, Ref, Stream, text_string
from . import fonts as fonts_mod

Matrix = tuple[float, float, float, float, float, float]
IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def mmul(m: Matrix, n: Matrix) -> Matrix:
    """Row-vector composition: apply m first, then n."""
    ma, mb, mc, md, me, mf = m
    na, nb, nc, nd, ne, nf = n
    return (
        ma * na + mb * nc,
        ma * nb + mb * nd,
        mc * na + md * nc,
        mc * nb + md * nd,
        me * na + mf * nc + ne,
        me * nb + mf * nd + nf,
    )


def mapply(m: Matrix, x: float, y: float) -> tuple[float, float]:
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


def translation(tx: float, ty: float) -> Matrix:
    return (1.0, 0.0, 0.0, 1.0, tx, ty)

def _placed_box(ctm: Matrix) -> tuple[float, float, float, float]:
    """Page-space bbox of the unit square under `ctm` (image placement)."""
    a, b, c, d, e, f = ctm
    xs = (e, a + e, c + e, a + c + e)
    ys = (f, b + f, d + f, b + d + f)
    return min(xs), min(ys), max(xs), max(ys)



class TextMark(NamedTuple):
    """One positioned glyph-cluster (textMark, extractor/extractor.go:815).

    Marks are PLAIN TUPLES at runtime: the per-glyph constructor is the
    single hottest allocation in span extraction (~1 mark per visible
    glyph), and a tuple literal builds ~10x faster than any class with an
    ``__init__`` (dataclass or NamedTuple alike).  This NamedTuple only
    documents the layout and serves hand-built marks in tests — consumers
    index/unpack by position (``M_TEXT`` .. ``M_RMODE`` below)."""

    text: str
    x0: float
    y0: float
    x1: float
    y1: float
    fontsize: float
    orientation: int
    op_index: int
    missed: bool = False
    mcid: int = -1  # enclosing marked-content id (struct-tree addressing)
    # per-mark paint metadata (reference records fill/stroke per mark,
    # extractor/extractor.go:1018): enables invisible-text filtering
    # (render mode 3 / white-on-white) in downstream cleanup
    fill_rgb: tuple = (0.0, 0.0, 0.0)
    render_mode: int = 0


# positional indices into a mark tuple, for consumers outside hot loops
(M_TEXT, M_X0, M_Y0, M_X1, M_Y1, M_FS, M_ORIENT, M_OP,
 M_MISSED, M_MCID, M_RGB, M_RMODE) = range(12)


@dataclass(slots=True)
class MediaMark:
    """Reference ImageMark analog (extractor/extractor.go:345): the
    placed page-space bounding box comes from pushing the unit square
    through the CTM (Do/BI paint the image into the unit square)."""

    media_ref: str
    x: float
    y: float
    op_index: int
    x1: float = 0.0
    y1: float = 0.0


@dataclass(slots=True)
class Ruling:
    """Thin stroked/filled line (rulings feed paragraph blocking + table
    detection — extractor/extractor.go:235 `_gfbgf`/`_fcfg`; thinness
    threshold `_cdgf`=4.0)."""

    kind: str  # 'h' | 'v'
    pos: float  # y for horizontal, x for vertical (device coords)
    lo: float
    hi: float


RULING_THICKNESS = 4.0  # _cdgf (extractor/extractor.go:16)
RULING_MIN_LEN = 8.0


@dataclass(slots=True)
class _TextState:
    """textState (extractor/extractor.go:836)."""

    tc: float = 0.0  # char spacing
    tw: float = 0.0  # word spacing
    th: float = 1.0  # horizontal scale (Tz/100)
    tl: float = 0.0  # leading
    ts: float = 0.0  # rise
    tmode: int = 0  # render mode
    tfs: float = 0.0  # font size
    font: fonts_mod.Font | None = None


@dataclass
class _GState:
    ctm: Matrix = IDENTITY
    text: _TextState = field(default_factory=_TextState)
    fill_rgb: tuple = (0.0, 0.0, 0.0)
    stroke_rgb: tuple = (0.0, 0.0, 0.0)

    def clone(self) -> "_GState":
        t = self.text
        return _GState(
            self.ctm,
            _TextState(t.tc, t.tw, t.th, t.tl, t.ts, t.tmode, t.tfs, t.font),
            self.fill_rgb,
            self.stroke_rgb,
        )


class Interpreter:
    """Single-document interpreter; one instance per (doc, page)."""

    MAX_FORM_DEPTH = 10  # form recursion level cap (extractFormImages e:601)

    def __init__(self, doc, page, mcid_actual_text: dict[int, str] | None = None):
        self.doc = doc
        self.page = page
        self.resources = doc.page_resources(page)
        self.marks: list[TextMark] = []
        self.media: list[MediaMark] = []
        self.rulings: list[Ruling] = []
        # ExtractStrokePaths analog (e:758 family): every stroked path's
        # page-space points + stroke color, in paint order
        self.stroke_paths: list[tuple[tuple, list[tuple[float, float]]]] = []
        self._path_pts: list[tuple[float, float]] = []
        self._path_rects: list[tuple[float, float, float, float]] = []
        self.n_misses = 0
        self.fonts_used: set[tuple[str, str]] = set()  # PageFonts (e:536)
        self.cur_mcid: int = -1  # innermost /MCID (struct-tree lists e:495)
        self._mcid_stack: list[int] = []
        self._font_cache: dict[object, fonts_mod.Font] = {}
        self._form_ops_cache: dict[int, list[Operation]] = {}
        # per-resources-dict subdict caches (Tf/Do re-resolve /Font and
        # /XObject on every operator otherwise). Keyed by id(); the tuple
        # holds the resources dict itself so the id cannot be reused.
        self._res_fonts: dict[int, tuple[PdfDict, dict]] = {}
        self._res_xobjects: dict[int, tuple[PdfDict, dict]] = {}
        self._op_index = 0
        self.mcid_actual_text = mcid_actual_text or {}
        llx, lly, urx, ury = doc.media_box(page)
        self.page_box = (llx, lly, urx, ury)

    # -- public -------------------------------------------------------------
    def run(self) -> None:
        content = self.doc.page_content(self.page)
        ops = parse_content(content)
        self._exec(ops, _GState(), self.resources, 0)
        self._run_annotations()

    def _run_annotations(self) -> None:
        """Annotation appearance streams appended after page content
        (extractor/extractor.go:1022 block, IncludeAnnotations): the /AP /N
        form is interpreted with its BBox anchored at /Rect."""
        doc = self.doc
        annots = doc.resolve(self.page.get("Annots")) or []
        for a in annots:
            try:
                ad = doc.resolve(a)
                if not isinstance(ad, dict):
                    continue
                flags = int(doc.resolve(ad.get("F")) or 0)
                if flags & 2:  # hidden
                    continue
                ap = doc.resolve(ad.get("AP"))
                n = doc.resolve(ap.get("N")) if isinstance(ap, dict) else None
                if not isinstance(n, Stream):
                    continue
                rect = [
                    float(doc.resolve(v))
                    for v in (doc.resolve(ad.get("Rect")) or [0, 0, 0, 0])
                ]
                bbox = doc.resolve(n.dict.get("BBox")) or [0, 0, 0, 0]
                tx = min(rect[0], rect[2]) - float(doc.resolve(bbox[0]))
                ty = min(rect[1], rect[3]) - float(doc.resolve(bbox[1]))
                gs = _GState(ctm=translation(tx, ty))
                fm = doc.resolve(n.dict.get("Matrix"))
                if isinstance(fm, list) and len(fm) == 6:
                    gs.ctm = mmul(tuple(float(v) for v in fm), gs.ctm)
                res = doc.resolve(n.dict.get("Resources")) or self.resources
                ops = parse_content(n.decoded(doc.resolve))
                self._exec(ops, gs, res, 1)
            except Exception:
                continue  # relaxed: a bad annotation never kills the page

    # -- helpers ------------------------------------------------------------
    def _get_font(self, name: str, resources: PdfDict) -> fonts_mod.Font:
        ent = self._res_fonts.get(id(resources))
        if ent is None or ent[0] is not resources:
            fonts_dict = self.doc.resolve(resources.get("Font")) or {}
            self._res_fonts[id(resources)] = (resources, fonts_dict)
        else:
            fonts_dict = ent[1]
        ref = fonts_dict.get(name)
        if isinstance(ref, Ref):
            # document-level memo: the same font object feeds many pages
            cache = self.doc._font_cache
            key = (ref.num, ref.gen)
        else:
            cache = self._font_cache  # direct dict: page-scoped by name
            key = name
        f = cache.get(key)
        if f is None:
            f = fonts_mod.load_font(self.doc, ref)
            cache[key] = f
        if f.name or f.subtype:
            self.fonts_used.add((f.name, f.subtype))
        return f

    def _xobject(self, name: str, resources: PdfDict):
        ent = self._res_xobjects.get(id(resources))
        if ent is None or ent[0] is not resources:
            xd = self.doc.resolve(resources.get("XObject")) or {}
            self._res_xobjects[id(resources)] = (resources, xd)
        else:
            xd = ent[1]
        return self.doc.resolve(xd.get(name))

    # -- execution ----------------------------------------------------------
    def _exec(self, ops: list[Operation], gs: _GState, resources: PdfDict, depth: int):
        stack: list[_GState] = []
        tm: Matrix = IDENTITY
        tlm: Matrix = IDENTITY
        in_text = False
        actual_text: str | None = None
        actual_consumed = False
        mc_depth_at_actual = 0
        mc_depth = 0

        for op in ops:
            o = op.op
            p = op.params
            self._op_index += 1
            oi = self._op_index
            try:
                # chain ordered by measured op frequency (TJ/Tj/Tm/BT/Tf/ET/
                # TL/T* carry ~85% of ops in the corpus mix); branches are
                # disjoint on `o`, so ordering is behavior-neutral
                if o == "TJ" and p and isinstance(p[0], list):
                    for item in p[0]:
                        if isinstance(item, bytes):
                            tm = self._show(
                                item, gs, tm, oi,
                                actual_text if not actual_consumed else ("" if actual_text is not None else None),
                            )
                            if actual_text is not None:
                                actual_consumed = True
                        elif isinstance(item, (int, float)):
                            # TJ kerning: move by -v/1000·Tfs·Th (e:806);
                            # mmul(translation(dx, 0), tm) inlined with the
                            # identical flop sequence (incl. the 0.0* terms,
                            # which keep -0.0/NaN propagation bit-exact)
                            dx = -float(item) / 1000.0 * gs.text.tfs * gs.text.th
                            na, nb, nc, nd, ne, nf = tm
                            tm = (1.0 * na + 0.0 * nc, 1.0 * nb + 0.0 * nd,
                                  0.0 * na + 1.0 * nc, 0.0 * nb + 1.0 * nd,
                                  dx * na + 0.0 * nc + ne,
                                  dx * nb + 0.0 * nd + nf)
                elif o in ("Tj", "'", '"'):
                    if o == '"' and len(p) == 3:
                        gs.text.tw = float(p[0])
                        gs.text.tc = float(p[1])
                        s = p[2]
                    else:
                        s = p[0] if p else b""
                    if o in ("'", '"'):
                        tlm = mmul(translation(0.0, -gs.text.tl), tlm)
                        tm = tlm
                    if isinstance(s, bytes):
                        tm = self._show(
                            s, gs, tm, oi,
                            actual_text if not actual_consumed else ("" if actual_text is not None else None),
                        )
                        if actual_text is not None:
                            actual_consumed = True
                elif o == "Tm" and len(p) == 6:
                    tlm = tuple(float(v) for v in p)
                    tm = tlm
                elif o == "Td" and len(p) == 2:
                    tlm = mmul(translation(float(p[0]), float(p[1])), tlm)
                    tm = tlm
                elif o == "TD" and len(p) == 2:
                    gs.text.tl = -float(p[1])
                    tlm = mmul(translation(float(p[0]), float(p[1])), tlm)
                    tm = tlm
                elif o == "T*":
                    tlm = mmul(translation(0.0, -gs.text.tl), tlm)
                    tm = tlm
                elif o == "q":
                    stack.append(gs.clone())
                elif o == "Q":
                    if stack:
                        gs = stack.pop()
                elif o == "cm" and len(p) == 6:
                    m = tuple(float(v) for v in p)
                    gs.ctm = mmul(m, gs.ctm)
                elif o == "BT":
                    in_text = True
                    tm = IDENTITY
                    tlm = IDENTITY
                elif o == "ET":
                    in_text = False
                elif o == "Tf" and len(p) == 2:
                    gs.text.font = self._get_font(str(p[0]), resources)
                    gs.text.tfs = float(p[1])
                elif o == "Tc" and p:
                    gs.text.tc = float(p[0])
                elif o == "Tw" and p:
                    gs.text.tw = float(p[0])
                elif o == "Tz" and p:
                    gs.text.th = float(p[0]) / 100.0
                elif o == "TL" and p:
                    gs.text.tl = float(p[0])
                elif o == "Ts" and p:
                    gs.text.ts = float(p[0])
                elif o == "Tr" and p:
                    gs.text.tmode = int(p[0])
                elif o in ("g", "G") and p:
                    v = float(p[0])
                    rgb = (v, v, v)
                    if o == "g":
                        gs.fill_rgb = rgb
                    else:
                        gs.stroke_rgb = rgb
                elif o in ("rg", "RG") and len(p) == 3:
                    rgb = tuple(float(v) for v in p)
                    if o == "rg":
                        gs.fill_rgb = rgb
                    else:
                        gs.stroke_rgb = rgb
                elif o in ("k", "K") and len(p) == 4:
                    c_, m_, y_, k_ = (float(v) for v in p)
                    rgb = ((1 - c_) * (1 - k_), (1 - m_) * (1 - k_),
                           (1 - y_) * (1 - k_))
                    if o == "k":
                        gs.fill_rgb = rgb
                    else:
                        gs.stroke_rgb = rgb
                elif o in ("sc", "scn", "SC", "SCN") and p:
                    nums = [float(v) for v in p if isinstance(v, (int, float))]
                    rgb = None
                    if len(nums) == 1:
                        rgb = (nums[0],) * 3  # DeviceGray / CalGray / Indexed≈
                    elif len(nums) == 3:
                        rgb = tuple(nums)
                    elif len(nums) == 4:
                        c_, m_, y_, k_ = nums
                        rgb = ((1 - c_) * (1 - k_), (1 - m_) * (1 - k_),
                               (1 - y_) * (1 - k_))
                    if rgb is not None:
                        if o in ("sc", "scn"):
                            gs.fill_rgb = rgb
                        else:
                            gs.stroke_rgb = rgb
                elif o == "Do" and p:
                    self._do_xobject(str(p[0]), gs, resources, oi, depth)
                elif o == "BI" and p and isinstance(p[0], InlineImage):
                    img = p[0]
                    bx0, by0, bx1, by1 = _placed_box(gs.ctm)
                    self.media.append(
                        MediaMark(schema.media_ref_for(img.data), bx0, by0,
                                  oi, bx1, by1)
                    )
                elif o == "BDC" and len(p) >= 2:
                    mc_depth += 1
                    self._mcid_stack.append(self.cur_mcid)
                    props = p[1]
                    if isinstance(props, str):
                        props = self.doc.resolve(
                            (self.doc.resolve(resources.get("Properties")) or {}).get(
                                str(props)
                            )
                        )
                    at = None
                    if isinstance(props, dict):
                        at = props.get("ActualText")
                        if at is None and "MCID" in props:
                            at = self.mcid_actual_text.get(int(props["MCID"]))
                    if isinstance(props, dict) and "MCID" in props:
                        self.cur_mcid = int(props["MCID"])
                    if at is not None:
                        actual_text = text_string(at)
                        actual_consumed = False
                        mc_depth_at_actual = mc_depth
                elif o == "m" and len(p) == 2:
                    self._path_pts.append(
                        mapply(gs.ctm, float(p[0]), float(p[1]))
                    )
                elif o == "l" and len(p) == 2:
                    self._path_pts.append(
                        mapply(gs.ctm, float(p[0]), float(p[1]))
                    )
                elif o in ("c", "v", "y") and len(p) >= 2:
                    # curves: endpoint only (rulings are straight lines)
                    self._path_pts.append(
                        mapply(gs.ctm, float(p[-2]), float(p[-1]))
                    )
                elif o == "re" and len(p) == 4:
                    x, y, w_, h_ = (float(v) for v in p)
                    pts = [
                        mapply(gs.ctm, x, y),
                        mapply(gs.ctm, x + w_, y),
                        mapply(gs.ctm, x + w_, y + h_),
                        mapply(gs.ctm, x, y + h_),
                    ]
                    xs = [q[0] for q in pts]
                    ys = [q[1] for q in pts]
                    self._path_rects.append((min(xs), min(ys), max(xs), max(ys)))
                elif o in ("S", "s", "f", "F", "f*", "B", "B*", "b", "b*"):
                    self._flush_path(
                        paint=True,
                        stroke_rgb=(gs.stroke_rgb
                                    if o in ("S", "s", "B", "B*", "b", "b*")
                                    else None))
                elif o == "n":
                    self._flush_path(paint=False)
                elif o == "BMC":
                    mc_depth += 1
                    self._mcid_stack.append(self.cur_mcid)
                elif o == "EMC":
                    if actual_text is not None and mc_depth == mc_depth_at_actual:
                        actual_text = None
                        actual_consumed = False
                    mc_depth = max(0, mc_depth - 1)
                    if self._mcid_stack:
                        self.cur_mcid = self._mcid_stack.pop()
            except Exception:
                # relaxed mode: log-and-continue philosophy (c:575)
                continue

    def _flush_path(self, paint: bool, stroke_rgb: tuple | None = None
                    ) -> None:
        """Painted thin rects / axis-aligned segments become rulings
        (derivation from stroke/fill paths, getParagraphs e:235); stroked
        paths additionally record (color, flattened page-space points) —
        the ExtractStrokePaths output (reference collects per-path Color +
        concatenated subpath points)."""
        if paint:
            if stroke_rgb is not None and (self._path_pts or self._path_rects):
                points = list(self._path_pts)
                for x0, y0, x1, y1 in self._path_rects:
                    points.extend([(x0, y0), (x1, y0), (x1, y1), (x0, y1),
                                   (x0, y0)])
                self.stroke_paths.append((stroke_rgb, points))
            for x0, y0, x1, y1 in self._path_rects:
                w_, h_ = x1 - x0, y1 - y0
                if h_ <= RULING_THICKNESS and w_ >= RULING_MIN_LEN:
                    self.rulings.append(Ruling("h", (y0 + y1) / 2, x0, x1))
                elif w_ <= RULING_THICKNESS and h_ >= RULING_MIN_LEN:
                    self.rulings.append(Ruling("v", (x0 + x1) / 2, y0, y1))
            pts = self._path_pts
            for (ax, ay), (bx, by) in zip(pts, pts[1:]):
                if abs(ay - by) <= RULING_THICKNESS and abs(bx - ax) >= RULING_MIN_LEN:
                    self.rulings.append(
                        Ruling("h", (ay + by) / 2, min(ax, bx), max(ax, bx))
                    )
                elif abs(ax - bx) <= RULING_THICKNESS and abs(by - ay) >= RULING_MIN_LEN:
                    self.rulings.append(
                        Ruling("v", (ax + bx) / 2, min(ay, by), max(ay, by))
                    )
        self._path_pts = []
        self._path_rects = []

    def _do_xobject(self, name, gs, resources, op_index, depth):
        xo = self._xobject(name, resources)
        if not isinstance(xo, Stream):
            return
        st = self.doc.resolve(xo.dict.get("Subtype"))
        if st == "Image":
            bx0, by0, bx1, by1 = _placed_box(gs.ctm)
            self.media.append(MediaMark(schema.media_ref_for(xo.raw), bx0,
                                        by0, op_index, bx1, by1))
        elif st == "Form" and depth < self.MAX_FORM_DEPTH:
            key = id(xo)
            ops = self._form_ops_cache.get(key)
            if ops is None:
                ops = parse_content(xo.decoded(self.doc.resolve))
                self._form_ops_cache[key] = ops
            inner = gs.clone()
            fm = self.doc.resolve(xo.dict.get("Matrix"))
            if isinstance(fm, list) and len(fm) == 6:
                inner.ctm = mmul(tuple(float(v) for v in fm), inner.ctm)
            res = self.doc.resolve(xo.dict.get("Resources")) or resources
            self._exec(ops, inner, res, depth + 1)

    # -- text showing ---------------------------------------------------------
    def _show(
        self, raw: bytes, gs: _GState, tm: Matrix, op_index: int,
        actual_text: str | None,
    ) -> Matrix:
        """Glyph advance math (renderText, e:356), incremental form: within a
        show op, Tm changes only by text-space x-translation, so the device
        transform is hoisted and each glyph costs a handful of scalar ops."""
        ts = gs.text
        font = ts.font
        if font is None:
            return tm
        codes = font.bytes_to_charcodes(raw)
        texts = None
        if actual_text is not None:
            # ActualText overrides the region's decoded glyphs (e:977):
            # the first show op gets the full string, later ones empty.
            texts = [
                (actual_text if i == 0 else "", False) for i in range(len(codes))
            ]
        elif font.wmode == 1:
            c2u = font.charcode_to_unicode  # memoized; expands ligatures
            texts = [c2u(c) for c in codes]
        # the common (horizontal, no-ActualText) path decodes through the
        # fused per-charcode (width·ratio, unicode, missed) memo instead —
        # one dict probe per glyph replaces two method calls

        ratio = font.font_matrix_scale  # 1/1000, Type3: 1 (e:356)
        pb0, pb1, pb2, pb3 = self.page_box
        tfs, tc, tw, th, rise = ts.tfs, ts.tc, ts.tw, ts.th, ts.ts
        fh = tfs * th
        # M = tm · ctm; trm_k = (fh,0,0,tfs,cum,rise) · M
        ma, mb, mc, md, me, mf = mmul(tm, gs.ctm)
        A, B = fh * ma, fh * mb
        C, D = tfs * mc, tfs * md
        E0 = rise * mc + me
        F0 = rise * md + mf
        ang = math.degrees(math.atan2(B, A))
        orient = (round((round(ang / 10.0) * 10) / 90.0) * 90) % 360
        fsize = math.hypot(C, D)
        minC, maxC = (C, 0.0) if C < 0 else (0.0, C)
        minD, maxD = (D, 0.0) if D < 0 else (0.0, D)
        is_cid = font.is_cid
        widths = font.charcode_width
        marks_append = self.marks.append

        if font.wmode == 1:
            # vertical writing (WMode 1, cmap.go:17; PDF 32000 §9.7.4.3):
            # the pen advances DOWN the text-space y axis by the glyph's
            # vertical displacement (w1 from /DW2 default or the /W2 array)
            # + Tc per glyph; the glyph's horizontal origin is the pen minus
            # the position vector v (per-CID from /W2; defaults vx = w0/2 —
            # centering on the vertical baseline — and vy = DW2[0]).
            from .fonts import vadvance_em, vorigin_em

            cum_y = 0.0
            for c, (u, missed) in zip(codes, texts):
                w = widths(c) * ratio
                v_x, v_y = vorigin_em(font, c, w)
                dy = vadvance_em(font, c) * tfs + tc
                if missed:
                    self.n_misses += 1
                if u and u != "\x00":
                    e = cum_y * mc + E0 - v_x * A - v_y * C
                    f = cum_y * md + F0 - v_x * B - v_y * D
                    if pb0 - 10 <= e <= pb2 + 10 and pb1 - 10 <= f <= pb3 + 10:
                        wa, wb = w * A, w * B
                        vx, vy = -dy * mc, -dy * md
                        x0 = e + min(0.0, wa) + min(0.0, vx)
                        x1 = e + max(0.0, wa) + max(0.0, vx)
                        y0 = f + min(0.0, wb) + min(0.0, vy)
                        y1 = f + max(0.0, wb) + max(0.0, vy)
                        marks_append(
                            (u, x0, y0, x1, y1, fsize, orient,
                             op_index, missed, self.cur_mcid,
                             gs.fill_rgb, ts.tmode)
                        )
                cum_y -= dy
            return mmul(translation(0.0, cum_y), tm)

        cum = 0.0
        cur_mcid = self.cur_mcid
        fill_rgb = gs.fill_rgb
        tmode = ts.tmode
        n_misses = 0
        if texts is not None:
            # generic path (ActualText override)
            for c, (u, missed) in zip(codes, texts):
                w = widths(c) * ratio
                dx = (w * tfs + tc
                      + (tw if (not is_cid and c == 32) else 0.0)) * th
                if missed:
                    n_misses += 1
                if u and u != "\x00":
                    e = cum * ma + E0
                    f = cum * mb + F0
                    # page-bounds check (newTextMark e:712) on glyph origin
                    if pb0 - 10 <= e <= pb2 + 10 and pb1 - 10 <= f <= pb3 + 10:
                        # w is the advance in em units for all font kinds
                        # (Type3 widths are FontMatrix-scaled at load time)
                        wa, wb = w * A, w * B
                        x0 = e + (wa if wa < 0 else 0.0) + minC
                        x1 = e + (wa if wa > 0 else 0.0) + maxC
                        y0 = f + (wb if wb < 0 else 0.0) + minD
                        y1 = f + (wb if wb > 0 else 0.0) + maxD
                        marks_append(
                            (u, x0, y0, x1, y1, fsize, orient,
                             op_index, missed, cur_mcid, fill_rgb,
                             tmode)
                        )
                cum += dx
            self.n_misses += n_misses
            return mmul(translation(cum, 0.0), tm)

        # fused fast path: same math, decode via the per-font memo
        wu = font._wu_cache
        wu_get = wu.get
        c2u = font.charcode_to_unicode
        # loop-invariant hoists, bit-identical: the bound margins are the
        # same four subtractions the per-glyph check performed, and
        # space_code folds the (not is_cid and c == 32) pair into one
        # comparison (CID charcodes never take the Tw adjustment, e:356)
        pb0m, pb1m = pb0 - 10, pb1 - 10
        pb2p, pb3p = pb2 + 10, pb3 + 10
        space_code = -1 if is_cid else 32
        for c in codes:
            hit = wu_get(c)
            if hit is None:
                u, missed = c2u(c)
                hit = (widths(c) * ratio, u, missed)
                wu[c] = hit
            w, u, missed = hit
            dx = (w * tfs + tc + (tw if c == space_code else 0.0)) * th
            if missed:
                n_misses += 1
            if u and u != "\x00":
                e = cum * ma + E0
                f = cum * mb + F0
                # page-bounds check (newTextMark e:712) on the glyph origin
                if pb0m <= e <= pb2p and pb1m <= f <= pb3p:
                    # w is the advance in em units for all font kinds (Type3
                    # widths are FontMatrix-scaled at load time)
                    wa, wb = w * A, w * B
                    x0 = e + (wa if wa < 0 else 0.0) + minC
                    x1 = e + (wa if wa > 0 else 0.0) + maxC
                    y0 = f + (wb if wb < 0 else 0.0) + minD
                    y1 = f + (wb if wb > 0 else 0.0) + maxD
                    marks_append(
                        (u, x0, y0, x1, y1, fsize, orient, op_index,
                         missed, cur_mcid, fill_rgb, tmode)
                    )
            cum += dx
        self.n_misses += n_misses
        return mmul(translation(cum, 0.0), tm)
