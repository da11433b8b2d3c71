"""Per-layer engine spans, timed from outside the engine.

``EngineTrace.installed()`` wraps the public calls that ``extract_spans``
makes into each layer and accumulates their time and counts:

- ``pdf.cos``: ``PdfDocument(...)`` plus ``pages()``;
- ``pdf.content``: ``parse_content`` (every call is made from inside
  ``Interpreter.run``: page content, annotation and form streams);
- ``pdf.interp``: ``Interpreter.run`` minus the lexing inside it;
- ``pdf.layout``: ``assemble_spans``;
- ``pdf.extract``: the whole ``extract_spans`` call; ``other`` is what the
  four layers above leave of it (struct tree, per-page setup, offsets).

Nothing inside ``unipdf_spark`` is modified; the wrappers are removed when
the context exits.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from unipdf_spark.pdf import cos, extract, interp

_now = time.perf_counter


@dataclass
class LayerTotals:
    docs: int = 0
    open_s: float = 0.0
    pages: int = 0
    lex_s: float = 0.0
    ops: int = 0
    run_s: float = 0.0
    marks: int = 0
    misses: int = 0
    layout_s: float = 0.0
    spans: int = 0
    extract_s: float = 0.0

    @property
    def interp_self_s(self) -> float:
        return self.run_s - self.lex_s

    @property
    def other_s(self) -> float:
        return (self.extract_s - self.open_s - self.lex_s
                - self.interp_self_s - self.layout_s)

    def metrics(self) -> dict[str, tuple[float, str]]:
        ms = 1000.0
        return {
            "pdf.cos.open_ms": (self.open_s * ms, "ms"),
            "pdf.cos.pages": (self.pages, "count"),
            "pdf.content.lex_ms": (self.lex_s * ms, "ms"),
            "pdf.content.ops": (self.ops, "count"),
            "pdf.interp.self_ms": (self.interp_self_s * ms, "ms"),
            "pdf.interp.marks": (self.marks, "count"),
            "pdf.interp.misses": (self.misses, "count"),
            "pdf.layout.ms": (self.layout_s * ms, "ms"),
            "pdf.layout.spans": (self.spans, "count"),
            "pdf.extract.ms": (self.extract_s * ms, "ms"),
            "pdf.extract.other_ms": (self.other_s * ms, "ms"),
        }


class EngineTrace:
    def __init__(self) -> None:
        self.totals = LayerTotals()

    @contextmanager
    def installed(self):
        t = self.totals
        real_doc = extract.PdfDocument
        real_pages = cos.PdfDocument.pages
        real_lex = interp.parse_content
        real_run = interp.Interpreter.run
        real_layout = extract.assemble_spans

        def open_doc(*args, **kwargs):
            t0 = _now()
            try:
                return real_doc(*args, **kwargs)
            finally:
                t.open_s += _now() - t0

        def pages(doc):
            t0 = _now()
            try:
                out = real_pages(doc)
                t.pages += len(out)
                return out
            finally:
                t.open_s += _now() - t0

        def lex(data):
            t0 = _now()
            try:
                ops = real_lex(data)
                t.ops += len(ops)
                return ops
            finally:
                t.lex_s += _now() - t0

        def run(self_, *args, **kwargs):
            t0 = _now()
            try:
                return real_run(self_, *args, **kwargs)
            finally:
                t.run_s += _now() - t0
                t.marks += len(self_.marks)
                t.misses += self_.n_misses

        def layout(*args, **kwargs):
            t0 = _now()
            try:
                spans = real_layout(*args, **kwargs)
                t.spans += len(spans)
                return spans
            finally:
                t.layout_s += _now() - t0

        extract.PdfDocument = open_doc
        cos.PdfDocument.pages = pages
        interp.parse_content = lex
        interp.Interpreter.run = run
        extract.assemble_spans = layout
        try:
            yield self
        finally:
            extract.PdfDocument = real_doc
            cos.PdfDocument.pages = real_pages
            interp.parse_content = real_lex
            interp.Interpreter.run = real_run
            extract.assemble_spans = real_layout

    def extract(self, pdf_bytes: bytes):
        t0 = _now()
        res = extract.extract_spans(pdf_bytes)
        self.totals.extract_s += _now() - t0
        self.totals.docs += 1
        return res


def reset_shared_caches() -> None:
    """Empty the engine's cross-document object cache, so that every pass
    over a sample starts from the same state."""
    cache = getattr(cos, "_OBJ_CACHE", None)
    if cache is not None:
        cache.clear()


def timed_pass(warm_docs: list[bytes], docs: list[bytes],
               trace: EngineTrace | None) -> float:
    """Extract ``warm_docs`` untimed, then ``docs`` timed; traced when
    ``trace`` is given. Returns the timed seconds."""
    reset_shared_caches()
    for pdf in warm_docs:
        extract.extract_spans(pdf)
    t0 = _now()
    if trace is None:
        for pdf in docs:
            extract.extract_spans(pdf)
    else:
        with trace.installed():
            for pdf in docs:
                trace.extract(pdf)
    return _now() - t0


def trace_sample(warm_docs: list[bytes], docs: list[bytes],
                 rounds: int = 3) -> tuple[LayerTotals, float]:
    """Alternate plain and traced passes; return the last traced pass's
    layer totals and the tracing overhead in percent (best traced pass
    against best plain pass)."""
    plain, traced = [], []
    trace = EngineTrace()
    for _ in range(rounds):
        plain.append(timed_pass(warm_docs, docs, None))
        trace = EngineTrace()
        traced.append(timed_pass(warm_docs, docs, trace))
    overhead = (min(traced) - min(plain)) / min(plain) * 100.0
    return trace.totals, overhead
