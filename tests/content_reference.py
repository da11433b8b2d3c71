"""Reference content-stream lexer for tests: the pre-r11 per-token Lexer
implementation of ``pdf.content.parse_content``. Tests A/B the fast
single-regex tokenizer against it (byte-identical Operation lists)."""

from __future__ import annotations

import re

from unipdf_spark.pdf.content import Operation, _parse_inline_image
from unipdf_spark.pdf.cos import Lexer, PdfError

_OPRE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


def parse_content_reference(data: bytes) -> list[Operation]:
    """Pre-r11 per-token Lexer implementation, kept as the behavioral
    reference: tests A/B the fast tokenizer against this over the full
    fixture-class corpus (byte-identical Operation lists required)."""
    ops: list[Operation] = []
    lx = Lexer(data, 0)
    params: list = []
    n = len(data)
    while True:
        lx.skip_ws()
        if lx.pos >= n:
            break
        c = data[lx.pos]
        try:
            if c == 0x2F or c == 0x28 or c == 0x5B or c in b"+-.0123456789":
                params.append(_parse_operand(lx))
                continue
            if c == 0x3C:
                if data.startswith(b"<<", lx.pos):
                    d = lx.parse_dict()
                    params.append(d)
                else:
                    params.append(lx.parse_hex_string())
                continue
        except PdfError:
            # relaxed: skip one byte and continue
            lx.pos += 1
            continue
        m = _OPRE.match(data, lx.pos)
        if not m:
            lx.pos += 1  # stray delimiter — skip
            continue
        op = m.group().decode("latin-1")
        lx.pos = m.end()
        if op == "BI":
            img = _parse_inline_image(lx)
            ops.append(Operation("BI", [img]))
            params = []
            continue
        if op in ("true", "false", "null"):
            params.append(None if op == "null" else op == "true")
            continue
        ops.append(Operation(op, params))
        params = []
    return ops


def _parse_operand(lx: Lexer):
    c = lx.data[lx.pos]
    if c == 0x2F:
        return lx.parse_name()
    if c == 0x28:
        return lx.parse_literal_string()
    if c == 0x5B:
        # content-stream arrays contain no indirect refs — reuse cos parser
        return lx.parse_array()
    m = _NUM_RE.match(lx.data, lx.pos)
    if not m:
        raise PdfError(f"bad operand at {lx.pos}")
    tok = m.group()
    lx.pos = m.end()
    return float(tok) if b"." in tok else int(tok)
