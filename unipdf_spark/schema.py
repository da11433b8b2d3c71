"""Span schema + conventions shared by generator, engine, and pipeline.

This is the ONLY module the fixture generator and the extractor are allowed to
share (FIXTURES.md: "Generator and extractor share only the span schema").
Kept import-light: pyspark is imported lazily so the pure-Python PDF core can
use `media_ref_for` inside Arrow workers without driver-side baggage.

Schema (authoritative, BASELINE.json input_hint):
    docs(doc_id: string,
         spans: array<struct<kind:string, text:string, media_ref:string,
                             offset:int>>)

Conventions (documented contract, implemented independently on both sides):

* ``kind`` is ``'text'`` or ``'media'``.
* ``text`` is the UTF-8 text for text spans ('' for media). Line wraps inside
  a paragraph appear as ``'\\n'``; a dehyphenated wrap contributes nothing.
* ``media_ref`` is ``'img_' + sha256(raw_stream_bytes)[:16]`` where
  ``raw_stream_bytes`` are the *encoded* bytes of the image XObject stream as
  stored in the file; for inline images (BI..ID..EI) they are the inline data
  bytes between ID and EI. ('' for text spans.)
* ``offset`` is the cumulative length of all *prior text spans' text* in the
  document (media spans carry the running total at their position). Paragraph
  joiners are NOT counted.
* Span order is document (content-stream operator) order; for text that is the
  reading order produced by the layout clustering, which fixture layouts keep
  consistent with operator order.

Reference spans this mirrors: unipdf ``TextMark.Offset`` semantics
(extractor/extractor.go:120) and ``ImageMark`` (extractor/extractor.go:345).
"""

from __future__ import annotations

import hashlib

KIND_TEXT = "text"
KIND_MEDIA = "media"

SPANS_OUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_chars int, n_misses int, partition_id int, elapsed_ms double, "
    "error string"
)

DOCS_PDF_DDL = "doc_id string, pdf_bytes binary, n_spans int, fixture_class string"

DOCS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def media_ref_for(raw_stream_bytes: bytes) -> str:
    """Deterministic media reference for an image payload (see module doc)."""
    return "img_" + hashlib.sha256(raw_stream_bytes).hexdigest()[:16]
