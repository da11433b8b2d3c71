"""Top-level per-document extraction: pdf_bytes → interleaved spans, tables,
lists and a structural profile.

Mirrors the lifecycle of ``extractor.New(page).ExtractPageText()``
(SURVEY §3.1; unipdf extractor/extractor.go:520 → :966) fused with the image
path (``ExtractPageImages``, e:698) into a single pass — one interpretation of
the operator stream yields text and media marks in operator order, then the
layout stage assembles reading-ordered spans.

Every entry point reads a document the same way (SURVEY §3.2 'one
interpretation'): ``_Document`` parses it once, walks its struct tree once
and interprets each page once with the struct tree's ActualText applied, so
spans, tables, lists and the profile all see the same marks. Each entry
point keeps its own relaxed-mode boundary (core ParserOpts core/core.go:389):
per-document errors are reported or degrade to partial results, never
raised — at corpus scale one bad document must not fail a task (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

from .cos import PdfDocument, PdfError, text_string
from .interp import (M_MCID, M_OP, M_ORIENT, M_RGB, M_RMODE, M_TEXT,
                     M_X0, M_X1, M_Y0, M_Y1, Interpreter)
from .layout import assemble_spans


@dataclass
class ExtractResult:
    spans: list[dict]
    n_chars: int
    n_misses: int
    error: str | None = None


_PgMcid = tuple[int | None, int]
_ListItems = list[tuple[list[_PgMcid], list[_PgMcid]]]


class _Document:
    """One parse of a PDF for every entry point: its pages, its struct tree
    (StructTreeRoot, model/model.go:3710) walked once, and one
    interpretation per page on demand.

    The walk fills two views:

    - ``actual_text``: (page, MCID) → ActualText (consumed at
      extractor/extractor.go:977). An element's ActualText covers every
      MCID under its /K (ints, MCR dicts, nested elements): the first
      carries the text and the rest read empty, as an in-stream ActualText
      region does. An enclosing element's ActualText wins over those
      inside it.
    - ``lists``: /L list elements → [(label MCIDs, body MCIDs)] per list
      (PageText.List, e:495: L → LI → Lbl + LBody). A list inside a list
      belongs to the outer list's items only.

    MCIDs are page-scoped (ParentTree semantics, e:977): an element's own
    /Pg, else the enclosing element's, else None, which matches any page
    (legacy documents omitting /Pg keep the document-wide behavior).
    Object resolution is cached per document, so a /Pg resolves to the SAME
    dict instance as its pages() entry. Depth is capped at 64; an
    unresolvable object ends the walk with what it found so far."""

    def __init__(self, pdf_bytes: bytes):
        self.doc = PdfDocument(pdf_bytes, relaxed=True)
        self.pages = self.doc.pages()
        self._page_of = {id(p): i for i, p in enumerate(self.pages)}
        self.actual_text: dict[_PgMcid, str] = {}
        self.lists: list[_ListItems] = []
        try:
            self._walk(self.doc.resolve(
                self.doc.catalog().get("StructTreeRoot")), None, 0, False)
        except PdfError:
            pass

    def interpreted(self) -> Iterator[tuple[int, Interpreter]]:
        """(page index, interpreter after ``run()``) in page order. A page
        that fails raises to the caller after the earlier pages were
        yielded, so a caller can keep what it finished."""
        for page_idx, page in enumerate(self.pages):
            # page-scoped MCID view: /Pg-qualified entries for THIS page,
            # plus unqualified (legacy) entries that match any page
            page_at = {
                mcid: txt
                for (pg, mcid), txt in self.actual_text.items()
                if pg is None or pg == page_idx
            }
            interp = Interpreter(self.doc, page, mcid_actual_text=page_at)
            interp.run()
            yield page_idx, interp

    def _page(self, node: dict, inherited: int | None) -> int | None:
        pg = self.doc.resolve(node.get("Pg"))
        if isinstance(pg, dict):
            return self._page_of.get(id(pg), inherited)
        return inherited

    def _kids(self, node: dict) -> list:
        k = self.doc.resolve(node.get("K"))
        return [self.doc.resolve(kid)
                for kid in (k if isinstance(k, list) else [k])]

    def _mcids(self, k, pg: int | None, depth: int) -> list[_PgMcid]:
        if depth > 64:
            return []
        k = self.doc.resolve(k)
        if isinstance(k, (int, float)):
            return [(pg, int(k))]
        if isinstance(k, list):
            return [m for kid in k for m in self._mcids(kid, pg, depth + 1)]
        if not isinstance(k, dict):
            return []
        pg = self._page(k, pg)
        if str(k.get("Type") or "") == "MCR":
            mcid = self.doc.resolve(k.get("MCID"))
            return [(pg, int(mcid))] if isinstance(mcid, (int, float)) else []
        return self._mcids(k.get("K"), pg, depth + 1)

    def _list_items(self, node: dict, pg: int | None,
                    depth: int) -> _ListItems:
        items: _ListItems = []
        for li in self._kids(node):
            if not isinstance(li, dict) or str(li.get("S") or "") != "LI":
                continue
            li_pg = self._page(li, pg)
            lbl: list[_PgMcid] = []
            body: list[_PgMcid] = []
            for part in self._kids(li):
                if not isinstance(part, dict):
                    continue
                s = str(part.get("S") or "")
                if s in ("Lbl", "LBody"):
                    (lbl if s == "Lbl" else body).extend(self._mcids(
                        part.get("K"), self._page(part, li_pg), depth))
            if lbl or body:
                items.append((lbl, body))
        return items

    def _walk(self, node, pg: int | None, depth: int, in_list: bool) -> None:
        if depth > 64 or not isinstance(node, dict):
            return
        pg = self._page(node, pg)
        at = node.get("ActualText")
        if at is not None:
            text = text_string(self.doc.resolve(at))
            for i, key in enumerate(self._mcids(node.get("K"), pg, depth + 1)):
                self.actual_text.setdefault(key, text if i == 0 else "")
        if not in_list and str(node.get("S") or "") == "L":
            items = self._list_items(node, pg, depth + 1)
            if items:
                self.lists.append(items)
            in_list = True
        for kid in self._kids(node):
            self._walk(kid, pg, depth + 1, in_list)


def extract_spans(pdf_bytes: bytes,
                  area: tuple[float, float, float, float] | None = None
                  ) -> ExtractResult:
    """Extract the interleaved span sequence from a (possibly multi-page) PDF.

    ``area`` (x0, y0, x1, y1, page space) restricts extraction to marks and
    media whose boxes intersect it — the reference's ``ApplyArea`` (e:886)
    reduces the page's marks to an area and rebuilds the text the same way.

    Relaxed: any failure comes back as the result's ``error``, with no
    spans."""
    try:
        d = _Document(pdf_bytes)
        if not d.pages:
            return ExtractResult([], 0, 0, "no pages")
        all_spans: list[dict] = []
        n_misses = 0
        offset_base = 0
        for _, interp in d.interpreted():
            marks, media = interp.marks, interp.media
            if area is not None:
                ax0, ay0, ax1, ay1 = area

                def _hits(x0, y0, x1, y1):
                    return x0 <= ax1 and ax0 <= x1 and y0 <= ay1 and ay0 <= y1

                marks = [m for m in marks
                         if _hits(m[M_X0], m[M_Y0], m[M_X1], m[M_Y1])]
                media = [m for m in media
                         if _hits(min(m.x, m.x1), min(m.y, m.y1),
                                  max(m.x, m.x1), max(m.y, m.y1))]
            spans = assemble_spans(marks, media, rulings=interp.rulings)
            for s in spans:
                s["offset"] += offset_base
            if spans:
                last_text = sum(len(s["text"]) for s in spans)
                offset_base += last_text
            all_spans.extend(spans)
            n_misses += interp.n_misses
        n_chars = sum(len(s["text"]) for s in all_spans)
        return ExtractResult(all_spans, n_chars, n_misses, None)
    except Exception as e:  # noqa: BLE001 — relaxed mode boundary
        return ExtractResult([], 0, 0, f"{type(e).__name__}: {e}")


def _term_boxes_for_page(marks: list, terms: list[str],
                         page_idx: int) -> list[dict]:
    """Positional term matches over one page's marks (Editor.Search/Match
    analog, e:82): case-sensitive term hits within line text (all four
    orientation groups, logical order incl. RTL runs), each reporting the
    page-space union box of the words overlapping the matched range."""
    from .layout import _is_rtl_word as _is_rtl_word_text
    from .layout import make_lines, make_words

    out: list[dict] = []
    for orientation in (0, 90, 180, 270):
        group = [m for m in marks if m[M_ORIENT] == orientation]
        if not group:
            continue
        for line in make_lines(make_words(group, orientation)):
            pairs = line.logical_words()
            # per-rune boxes aligned to the line's logical text (reference
            # refines Search/Match boxes to per-rune TextMark granularity,
            # e:82): a term matching part of a word gets the exact
            # sub-word box. RTL words arrive char-reversed, so their box
            # lists reverse with them. None slots (spaces, hand-built
            # words) fall back to the word union box.
            rune_boxes: list = []
            pos = 0
            for t, w in pairs:
                cb = w.char_boxes
                if cb is not None and _is_rtl_word_text(t):
                    cb = cb[::-1]
                if cb is None or len(cb) != len(t):
                    cb = [(w.x0, w.y0, w.x1, w.y1)] * len(t)
                rune_boxes.extend(cb)
                rune_boxes.append(None)  # inter-word space
                pos += len(t) + 1
            text = " ".join(t for t, _ in pairs)
            for term in terms:
                start = 0
                while True:
                    i = text.find(term, start)
                    if i < 0:
                        break
                    j = i + len(term)
                    bs = [b for b in rune_boxes[i:j] if b is not None]
                    if bs:
                        out.append({
                            "page": page_idx,
                            "term": term,
                            "line_offset": i,
                            "x0": min(b[0] for b in bs),
                            "y0": min(b[1] for b in bs),
                            "x1": max(b[2] for b in bs),
                            "y1": max(b[3] for b in bs),
                        })
                    start = i + 1
    return out


def extract_document_profile(pdf_bytes: bytes,
                             terms: list[str] | None = None) -> dict:
    """One interpreter pass per page feeding every structural inventory
    (r5 VERDICT 'What's wrong' #2 had doc_inventory re-parsing per feature
    family):

    - ``pages``: per-page font/image inventories (PageFonts/PageImages,
      e:536/:510),
    - ``placements``: placed image boxes (ExtractPageImages ImageMark,
      e:345 — unit square under the CTM at paint time),
    - ``term_boxes``: positional term matches (Editor.Search/Match, e:82),
    - ``strokes``: stroked paths with color + page-space points
      (ExtractStrokePaths, e:758 family),
    - ``n_chars``/``n_invisible``: invisible-text statistics (render mode
      3 / white fill, e:1018).

    Relaxed: a mid-document failure keeps the pages already profiled."""
    pages_out: list[dict] = []
    placements: list[dict] = []
    term_boxes: list[dict] = []
    strokes: list[dict] = []
    n_chars = n_invisible = 0
    try:
        for page_idx, interp in _Document(pdf_bytes).interpreted():
            for rgb, points in interp.stroke_paths:
                strokes.append({"page": page_idx, "color": rgb,
                                "points": points})
            pages_out.append({
                "page": page_idx,
                "fonts": sorted(interp.fonts_used),
                "images": [m.media_ref for m in interp.media],
            })
            for m in sorted(interp.media, key=lambda m: m.op_index):
                placements.append({
                    "page": page_idx,
                    "media_ref": m.media_ref,
                    "x0": m.x, "y0": m.y, "x1": m.x1, "y1": m.y1,
                })
            for m in interp.marks:
                n = len(m[M_TEXT])
                n_chars += n
                if m[M_RMODE] == 3 or min(m[M_RGB]) >= 0.99:
                    n_invisible += n
            if terms:
                term_boxes.extend(
                    _term_boxes_for_page(interp.marks, terms, page_idx))
    except Exception:  # noqa: BLE001 — relaxed mode boundary: fall
        pass  # through with whatever pages completed before the failure
    return {"pages": pages_out, "placements": placements,
            "term_boxes": term_boxes, "strokes": strokes,
            "n_chars": n_chars, "n_invisible": n_invisible}


def extract_stroke_paths(pdf_bytes: bytes) -> list[dict]:
    """``ExtractStrokePaths`` analog (reference: Extractor.
    ExtractStrokePaths — per stroked path its Color and the concatenated
    page-space subpath points) — thin wrapper over
    :func:`extract_document_profile`."""
    return extract_document_profile(pdf_bytes)["strokes"]


def extract_image_placements(pdf_bytes: bytes) -> list[dict]:
    """``ExtractPageImages`` analog (e:345) — thin wrapper over
    :func:`extract_document_profile`."""
    return extract_document_profile(pdf_bytes)["placements"]


def extract_tables(pdf_bytes: bytes) -> list[dict]:
    """Structured table extraction: the TextTable / TableCell API analog
    (extractor/extractor.go:35 `TextTable`, :899 `TableCell`). Returns one
    dict per detected table: {page, n_rows, n_cols, cells} with the full
    (row, col)-addressable cell-text matrix (empty string for empty cells),
    independent of the row-major serialization in the span stream.

    Relaxed: a failure returns the tables found before it."""
    out: list[dict] = []
    try:
        for page_idx, interp in _Document(pdf_bytes).interpreted():
            tables: list = []
            assemble_spans(interp.marks, interp.media, rulings=interp.rulings,
                           tables_out=tables)
            for t in tables:
                out.append(
                    {
                        "page": page_idx,
                        "n_rows": t.n_rows,
                        "n_cols": t.n_cols,
                        "cells": t.cells,
                    }
                )
    except Exception:  # noqa: BLE001 — relaxed mode boundary
        pass
    return out


def extract_text_visibility(pdf_bytes: bytes) -> dict:
    """Per-document invisible-text statistics from the per-mark paint
    metadata (fill color + render mode, extractor/extractor.go:1018):
    a mark is invisible when its render mode is 3 (no paint) or its fill
    is ~white on the (white) page. The span stream still INCLUDES invisible
    text (reference parity — PageText carries it); this feature column is
    what a training-data cleanup uses to drop white-on-white keyword spam.
    Thin wrapper over :func:`extract_document_profile`."""
    p = extract_document_profile(pdf_bytes)
    return {"n_chars": p["n_chars"], "n_invisible": p["n_invisible"]}


def extract_lists(pdf_bytes: bytes) -> list[dict]:
    """Structured list extraction (PageText.List, extractor/extractor.go:495):
    struct-tree L/LI/Lbl/LBody elements resolved to their marked-content
    text. Returns one dict per list: {items: [{label, body}]}. The span
    stream is unchanged (list text flows through reading order as usual).

    MCIDs are /Pg-qualified (ParentTree semantics, e:977): documents that
    reuse MCID numbers on different pages resolve correctly; elements
    without /Pg keep the legacy any-page behavior.

    Relaxed: a failure returns the lists completed before it (none when
    a page fails to interpret)."""
    out: list[dict] = []
    try:
        d = _Document(pdf_bytes)
        if not d.lists:
            return out
        mcid_text: dict[tuple[int, int], str] = {}
        for page_idx, interp in d.interpreted():
            for m in sorted(interp.marks, key=lambda m: m[M_OP]):
                if m[M_MCID] >= 0:
                    key = (page_idx, m[M_MCID])
                    mcid_text[key] = mcid_text.get(key, "") + m[M_TEXT]

        def text_of(mcids: list[_PgMcid]) -> str:
            parts: list[str] = []
            for pg, i in mcids:
                if pg is not None:
                    parts.append(mcid_text.get((pg, i), ""))
                else:  # unqualified: concatenate across pages in order
                    parts.append("".join(
                        mcid_text.get((p, i), "")
                        for p in range(len(d.pages))))
            return "".join(parts).strip()

        for items in d.lists:
            out.append(
                {
                    "items": [
                        {"label": text_of(lbl), "body": text_of(body)}
                        for lbl, body in items
                    ]
                }
            )
    except Exception:  # noqa: BLE001 — relaxed mode boundary
        pass
    return out
