"""COS object model, lexer/parser, xref, and document loader.

From-scratch Python re-expression of the reference's decode layer:

* object lexer/parser — semantics of unipdf ``parseObject`` (core/core.go:129)
  and its per-type parsers (parseString core/core.go:1076, parseHexString
  core/core.go:964, parseName core/core.go:1229, ParseDict core/core.go:279,
  parseArray core/core.go:1932, parseNumber core/core.go:544);
* xref load — ``loadXrefs`` (core/core.go:329): table (core/core.go:1199) and
  stream (core/core.go:870) forms, ``/Prev`` chains, later revisions win;
* repair — full-file scan for ``N G obj`` markers, semantics of
  ``repairRebuildXrefsTopDown`` (core/core.go:532);
* object streams — ``lookupObjectViaOS`` (core/core.go:1034);
* lazy resolution — ``Resolve``/``TraceToDirectObject`` (core/core.go:1139).

Values map to Python natives: dict → ``PdfDict``, array → ``list``, name →
``Name`` (str subclass), string → ``bytes``, numbers → int/float, null →
``None``. Indirect references are ``Ref``; streams are ``Stream``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from . import filters as _filters

WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"


class PdfError(Exception):
    pass


class Name(str):
    """Interned-symbol analog of PdfObjectName (core/core.go:828)."""

    __slots__ = ()


@dataclass(frozen=True)
class Ref:
    num: int
    gen: int = 0


class PdfDict(dict):
    """Name-keyed dictionary (string keys, Name-compatible)."""

    __slots__ = ()


def text_string(obj) -> str:
    """A PDF text string as str (ISO 32000-1 §7.9.2.2): UTF-16BE after a
    byte order mark (strict: a malformed body raises), else one byte per
    character read as Latin-1; a non-string object goes through str()."""
    if isinstance(obj, bytes):
        if obj.startswith(b"\xfe\xff"):
            return obj[2:].decode("utf-16-be")
        return obj.decode("latin-1")
    return str(obj)


class Stream:
    __slots__ = ("dict", "raw", "_decoded")

    def __init__(self, d: PdfDict, raw: bytes):
        self.dict = d
        self.raw = raw
        self._decoded: bytes | None = None

    def filters(self, resolve) -> tuple[list[str], list[dict]]:
        f = resolve(self.dict.get("Filter"))
        if f is None:
            names: list[str] = []
        elif isinstance(f, str):
            names = [str(f)]
        else:
            names = [str(resolve(x)) for x in f]
        p = resolve(self.dict.get("DecodeParms") or self.dict.get("DP"))
        if p is None:
            parms: list[dict] = []
        elif isinstance(p, dict):
            parms = [{k: resolve(v) for k, v in p.items()}]
        else:
            parms = [
                {k: resolve(v) for k, v in (resolve(x) or {}).items()} for x in p
            ]
        return names, parms

    def decoded(self, resolve=lambda o: o) -> bytes:
        if self._decoded is None:
            names, parms = self.filters(resolve)
            self._decoded = _filters.decode_stream(self.raw, names, parms)
        return self._decoded


_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")

# parse_array fast path: leading whitespace (comments excluded — they force
# the generic path) then one of: 1=']', (2,3)='N G R' indirect reference
# (R must be followed by whitespace/delimiter/EOF, exactly as
# parse_number_or_ref checks), 4=real, 5=integer.  The two negative
# lookaheads on the integer alternative reject any element where a '%'
# comment could hide a reference's generation number or R keyword — the
# generic path treats comments as whitespace there (ISO 32000 §7.2.4), so
# those runs must keep taking it.
_ARR_FAST_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*+"
    rb"(?:(\])"
    rb"|([+-]?\d++)[\x00\t\n\x0c\r ]*+([+-]?\d++)(?!\.)[\x00\t\n\x0c\r ]*+R"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|([+-]?(?:\d+\.\d*|\.\d+))"
    rb"|([+-]?\d++)(?!\.)(?![\x00\t\n\x0c\r ]*+%)"
    rb"(?![\x00\t\n\x0c\r ]*+[+-]?\d++(?![.\d])[\x00\t\n\x0c\r ]*+%)"
    rb")"
)

# parse_dict fast path: one C-level match per `/Key value` pair (or `>>`),
# for keys without '#' escapes and simple values — the same reference /
# real / integer alternatives as _ARR_FAST_RE (same lookahead discipline),
# plus a name value (no '#') and the three keyword literals.  Everything
# else — comments anywhere in the pair, escaped names, strings, nested
# containers — leaves the pair to the generic route unconsumed.
_DICT_FAST_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]*+"
    rb"(?:(>>)"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%#]*+)[\x00\t\n\x0c\r ]*+"
    rb"(?:"
    rb"([+-]?\d++)[\x00\t\n\x0c\r ]*+([+-]?\d++)(?!\.)[\x00\t\n\x0c\r ]*+R"
    rb"(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|([+-]?(?:\d+\.\d*|\.\d+))"
    rb"|([+-]?\d++)(?!\.)(?![\x00\t\n\x0c\r ]*+%)"
    rb"(?![\x00\t\n\x0c\r ]*+[+-]?\d++(?![.\d])[\x00\t\n\x0c\r ]*+%)"
    rb"|/([^\x00\t\n\x0c\r ()<>\[\]{}/%#]*+)(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|(true|false|null)(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb")"
    rb")"
)
_DICT_KEYWORDS = {b"true": True, b"false": False, b"null": None}


class Lexer:
    """Positioned tokenizer over the raw file bytes."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    # -- low-level ---------------------------------------------------------
    def skip_ws(self) -> None:
        data, n = self.data, len(self.data)
        i = self.pos
        while i < n:
            c = data[i]
            if c in WHITESPACE:
                i += 1
            elif c == 0x25:  # '%' comment to EOL (core/core.go:904)
                while i < n and data[i] not in b"\r\n":
                    i += 1
            else:
                break
        self.pos = i

    def peek(self, k: int = 1) -> bytes:
        return self.data[self.pos : self.pos + k]

    def expect(self, tok: bytes) -> None:
        self.skip_ws()
        if not self.data.startswith(tok, self.pos):
            ctx = self.data[self.pos : self.pos + 24]
            raise PdfError(f"expected {tok!r} at {self.pos}, got {ctx!r}")
        self.pos += len(tok)

    def read_keyword(self) -> bytes:
        self.skip_ws()
        data, n = self.data, len(self.data)
        i = self.pos
        while i < n and data[i] not in WHITESPACE and data[i] not in DELIMITERS:
            i += 1
        kw = data[self.pos : i]
        self.pos = i
        return kw

    # -- object parsers ----------------------------------------------------
    def parse_object(self):
        self.skip_ws()
        data = self.data
        i = self.pos
        if i >= len(data):
            raise PdfError("EOF while parsing object")
        c = data[i]
        if c == 0x2F:  # /
            return self.parse_name()
        if c == 0x28:  # (
            return self.parse_literal_string()
        if c == 0x3C:  # <
            if data.startswith(b"<<", i):
                return self.parse_dict_or_stream()
            return self.parse_hex_string()
        if c == 0x5B:  # [
            return self.parse_array()
        if c in b"+-.0123456789":
            return self.parse_number_or_ref()
        kw = self.read_keyword()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        raise PdfError(f"unexpected token {kw!r} at {i}")

    def parse_name(self) -> Name:
        data, n = self.data, len(self.data)
        if data[self.pos] != 0x2F:
            # reachable from parse_dict on corrupt bytes (a dict key that
            # is not a name): must be the TYPED parse error, not an assert
            raise PdfError(f"expected name at {self.pos}")
        i = self.pos + 1
        out = bytearray()
        while i < n:
            c = data[i]
            if c in WHITESPACE or c in DELIMITERS:
                break
            if c == 0x23 and i + 2 < n:  # #XX hex escape
                try:
                    out.append(int(data[i + 1 : i + 3], 16))
                    i += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            i += 1
        self.pos = i
        return Name(out.decode("latin-1"))

    def parse_literal_string(self) -> bytes:
        data, n = self.data, len(self.data)
        i = self.pos + 1
        depth = 1
        out = bytearray()
        while i < n:
            c = data[i]
            if c == 0x5C:  # backslash escape
                i += 1
                if i >= n:
                    break
                e = data[i]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    i += 1
                elif e in b"()\\":
                    out.append(e)
                    i += 1
                elif e in b"01234567":  # octal, up to 3 digits
                    o = 0
                    k = 0
                    while k < 3 and i < n and data[i] in b"01234567":
                        o = o * 8 + (data[i] - 48)
                        i += 1
                        k += 1
                    out.append(o & 0xFF)
                elif e in b"\r\n":  # line continuation
                    i += 1
                    if e == 13 and i < n and data[i] == 10:
                        i += 1
                else:
                    out.append(e)
                    i += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                i += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    i += 1
                    break
                out.append(c)
                i += 1
            else:
                out.append(c)
                i += 1
        self.pos = i
        return bytes(out)

    def parse_hex_string(self) -> bytes:
        data, n = self.data, len(self.data)
        i = self.pos + 1
        hexchars = bytearray()
        while i < n and data[i] != 0x3E:
            c = data[i]
            if c not in WHITESPACE:
                hexchars.append(c)
            i += 1
        self.pos = i + 1
        if len(hexchars) % 2:
            hexchars.append(0x30)
        try:
            return bytes.fromhex(hexchars.decode("ascii"))
        except ValueError as e:
            raise PdfError(f"bad hex string at {i}: {e}") from None

    def parse_array(self) -> list:
        self.pos += 1  # [
        out = []
        append = out.append
        data = self.data
        fast = _ARR_FAST_RE.match
        while True:
            # fast path: one C-level match per numeric element / reference /
            # close bracket — /Widths, /W and kerning arrays are long runs of
            # plain numbers, and the generic per-element route costs four
            # calls and two regex matches each.  The pattern is exact w.r.t.
            # the generic path (incl. the "N G R" lookahead); any element it
            # cannot prove unambiguous (comments near a potential reference,
            # strings, names, nested containers) falls through unconsumed.
            m = fast(data, self.pos)
            if m is not None:
                self.pos = m.end()
                li = m.lastindex
                if li == 5:  # plain integer
                    append(int(m.group(5)))
                    continue
                if li == 4:  # real
                    append(float(m.group(4)))
                    continue
                if li == 1:  # ]
                    return out
                append(Ref(int(m.group(2)), int(m.group(3))))  # indirect ref
                continue
            self.skip_ws()
            if self.peek() == b"]":
                self.pos += 1
                return out
            if self.pos >= len(self.data):
                raise PdfError("EOF in array")
            append(self.parse_object())

    def parse_dict_or_stream(self):
        d = self.parse_dict()
        save = self.pos
        self.skip_ws()
        if self.data.startswith(b"stream", self.pos):
            self.pos += 6
            # EOL after 'stream' keyword: CRLF or LF
            if self.data.startswith(b"\r\n", self.pos):
                self.pos += 2
            elif self.data.startswith(b"\n", self.pos) or self.data.startswith(
                b"\r", self.pos
            ):
                self.pos += 1
            return d, self.pos  # caller (document) reads Length bytes
        self.pos = save
        return d

    def parse_dict(self) -> PdfDict:
        self.expect(b"<<")
        d = PdfDict()
        data = self.data
        fast = _DICT_FAST_RE.match
        while True:
            m = fast(data, self.pos)
            if m is not None:
                self.pos = m.end()
                li = m.lastindex
                if li == 1:  # >>
                    return d
                key = m.group(2).decode("latin-1")
                if li == 6:  # plain integer
                    d[key] = int(m.group(6))
                elif li == 4:  # indirect reference
                    d[key] = Ref(int(m.group(3)), int(m.group(4)))
                elif li == 7:  # name
                    d[key] = Name(m.group(7).decode("latin-1"))
                elif li == 5:  # real
                    d[key] = float(m.group(5))
                else:  # true / false / null
                    d[key] = _DICT_KEYWORDS[m.group(8)]
                continue
            self.skip_ws()
            if self.data.startswith(b">>", self.pos):
                self.pos += 2
                return d
            if self.pos >= len(self.data):
                raise PdfError("EOF in dict")
            key = self.parse_name()
            val = self.parse_object()
            if isinstance(val, tuple):  # nested dict never yields stream marker
                val = val[0]
            d[str(key)] = val

    def parse_number_or_ref(self):
        m = _NUM_RE.match(self.data, self.pos)
        if not m:
            raise PdfError(f"bad number at {self.pos}")
        tok = m.group()
        self.pos = m.end()
        if b"." in tok:
            return float(tok)
        val = int(tok)
        # lookahead for "G R" (reference) or "G obj" handled by caller
        save = self.pos
        self.skip_ws()
        m2 = _NUM_RE.match(self.data, self.pos)
        if m2 and b"." not in m2.group():
            p2 = m2.end()
            j = p2
            data, n = self.data, len(self.data)
            # comments are whitespace-equivalent anywhere outside strings
            # and streams (ISO 32000 §7.2.4) — a '% ...' line may sit
            # between the generation number and the R keyword
            while j < n and (data[j] in WHITESPACE or data[j] == 0x25):
                if data[j] == 0x25:
                    while j < n and data[j] not in b"\r\n":
                        j += 1
                else:
                    j += 1
            if data.startswith(b"R", j) and (
                j + 1 >= n or data[j + 1] in WHITESPACE or data[j + 1] in DELIMITERS
            ):
                self.pos = j + 1
                return Ref(val, int(m2.group()))
        self.pos = save
        return val


_OBJ_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")
_EOF_TAIL = 2048

# At most a short EOL/whitespace run may sit between the declared stream
# extent and the endstream keyword (ISO 32000 §7.3.8: a single EOL; a few
# producers pad with spaces/NULs — bounded so a truncating /Length cannot
# skip real payload bytes to reach the keyword).
_ENDSTREAM_ADJ_RE = re.compile(rb"[ \t\r\n\x0c\x00]{0,4}endstream")
# a clean top-level NON-stream parse is followed by `endobj` (whitespace
# apart). Cached spans end exactly where the parse stopped, so this is the
# discriminator that a span is the WHOLE object: without it, a dict cached
# from a doc truncated/corrupted right after the dict (its `stream` keyword
# gone) is a strict byte-prefix of an intact doc's stream object and would
# serve that doc a plain dict where a Stream lives.
_ENDOBJ_ADJ_RE = re.compile(rb"[ \t\r\n\x0c\x00]{0,8}endobj")


def _strip_one_eol(raw: bytes) -> bytes:
    """Strip the single EOL that separates payload from endstream (repair
    path only). rstrip(b"\\r\\n") would also eat payload bytes that happen
    to end in CR/LF — e.g. a Flate stream whose last compressed byte is
    0x0a — corrupting the recovered stream."""
    if raw.endswith(b"\r\n"):
        return raw[:-2]
    if raw.endswith(b"\n") or raw.endswith(b"\r"):
        return raw[:-1]
    return raw

# Cross-document identical-object cache (the corpus-scale analog of the
# reference's per-page font/form caches, extractor/extractor.go:622/:625 —
# fonts and shared resources repeat heavily across a corpus). Keyed by a
# probe prefix + full-span digest; parsed objects are treated as immutable.
_OBJ_CACHE: dict[bytes, list] = {}
_OBJ_CACHE_MAX = 4096
_PROBE_LEN = 96


def _contains_ref(obj) -> bool:
    """True if any Ref occurs anywhere inside a parsed object tree."""
    if isinstance(obj, Ref):
        return True
    if isinstance(obj, dict):
        return any(_contains_ref(v) for v in obj.values())
    if isinstance(obj, list):
        return any(_contains_ref(v) for v in obj)
    return False


def _obj_cache_lookup(data: bytes, start: int):
    import hashlib as _h

    probe = data[start : start + _PROBE_LEN]
    for digest, span_len, obj in _OBJ_CACHE.get(probe, ()):
        if _h.md5(data[start : start + span_len]).digest() == digest:
            # a cached Stream's extent is only valid where the clean-path
            # invariant holds in THIS document too (endstream adjacent to
            # the span end); a doc truncated/corrupted just past a shared
            # span prefix must fall through to its own parse + repair
            if isinstance(obj, Stream) and not _ENDSTREAM_ADJ_RE.match(
                    data, start + span_len):
                continue
            # a non-stream entry is only valid where its span is the whole
            # object in THIS document too (endobj adjacent); see
            # _ENDOBJ_ADJ_RE. Both sides guard: insert refuses such spans,
            # and lookup re-checks against the consuming document's bytes.
            if not isinstance(obj, Stream) and not _ENDOBJ_ADJ_RE.match(
                    data, start + span_len):
                continue
            # container objects are returned as SHALLOW COPIES: consumers
            # key per-document state by instance identity (pages() cycle
            # set, extract's id(page)->index map), so two byte-identical
            # objects at DIFFERENT slots of the same document must stay
            # distinct instances — sharing one collapsed a duplicated page
            # out of pages(). Per-doc instance stability is preserved by
            # PdfDocument._cache[num], which memoizes the copy per slot.
            # Streams stay shared: the memoized _decoded is the cache's
            # perf win and no consumer keys per-slot state on stream id.
            if isinstance(obj, PdfDict):
                return PdfDict(obj)
            if isinstance(obj, list):
                return list(obj)
            return obj
    return None


def _obj_cache_insert(data: bytes, start: int, end: int, obj) -> None:
    import hashlib as _h

    if len(_OBJ_CACHE) >= _OBJ_CACHE_MAX:
        _OBJ_CACHE.clear()
    probe = data[start : start + _PROBE_LEN]
    digest = _h.md5(data[start:end]).digest()
    _OBJ_CACHE.setdefault(probe, []).append((digest, end - start, obj))


def _parse_objstm_pairs(content: bytes, n: int,
                        stm_num: int) -> list[tuple[int, int]]:
    """Parse the N (objnum, offset) header pairs of a decoded ObjStm
    payload. Corrupt /N or decoded garbage must surface as the TYPED
    error (r9 cross-fuzz contract)."""
    hdr = Lexer(content, 0)
    pairs: list[tuple[int, int]] = []
    for _ in range(n):
        hdr.skip_ws()
        m1 = _NUM_RE.match(content, hdr.pos)
        if m1 is None:
            raise PdfError(f"objstm {stm_num}: bad header pair")
        hdr.pos = m1.end()
        hdr.skip_ws()
        m2 = _NUM_RE.match(content, hdr.pos)
        if m2 is None:
            raise PdfError(f"objstm {stm_num}: bad header pair")
        hdr.pos = m2.end()
        pairs.append((int(m1.group()), int(m2.group())))
    return pairs


class PdfDocument:
    """Parsed PDF with lazy object fetch (xref point reads, not full scans —
    the per-document analog of storage-index pruning, SURVEY §4)."""

    def __init__(self, data: bytes, relaxed: bool = True):
        self.data = data
        self.relaxed = relaxed
        self.xref: dict[int, tuple] = {}  # num -> ('f', offset) | ('o', objstm, idx)
        self.trailer = PdfDict()
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        # loaded-Font memo, (num, gen)-keyed, shared by every page's
        # interpreter (fonts repeat across pages; sound per-document
        # because object numbers are document-unique)
        self._font_cache: dict[tuple, object] = {}
        self._len_in_progress: set[int] = set()
        self._crypt = None
        self._encrypt_num = -1
        self._rebuilt = False  # top-down rebuild already ran (do it once)
        self._crypt_ready = False  # _init_crypt has run (gates ObjStm index)
        self._load()
        self._init_crypt()
        self._crypt_ready = True
        if self._rebuilt:
            # a rebuild that ran during _load couldn't index encrypted
            # ObjStm members yet (no crypt handler), and _recover_trailer's
            # object scan cached pre-decryption streams — drop those before
            # indexing or the ciphertext fails to decode
            self._cache.clear()
            self._objstm_cache.clear()
            self._index_objstm_members()

    # -- xref loading -------------------------------------------------------
    def _load(self) -> None:
        # Leading junk before the %PDF- header (HTTP/mail wrappers prepended
        # by a transport): transport writers usually store offsets relative
        # to the header, but a spec-conformant producer whose file merely
        # begins with whitespace stores FILE-START-relative offsets — both
        # exist in the wild, so try the offsets as written first and only
        # rebase (slice at the header position found within the first 1 KiB)
        # when that load fails (the reference repairs such files by
        # re-locating objects, core/core.go:532; rebasing keeps the fast
        # xref point-read path instead of a full top-down rebuild). Strict
        # mode gets the rebase retry too — it is offset arithmetic, not a
        # structural repair — but never the top-down rebuild.
        rebase = 0
        if not self.data.startswith(b"%PDF-"):
            h = self.data.find(b"%PDF-", 0, 1024)
            if h > 0:
                rebase = h
            elif h < 0 and not self.relaxed:
                raise PdfError("missing %PDF header")
        try:
            start = self._find_startxref()
            self._load_xrefs_from(start)
            if not self.xref:
                raise PdfError("empty xref")
            if rebase:
                # An as-written load can SPURIOUSLY succeed: with
                # header-relative offsets the startxref value may land on a
                # *different but valid* object header in unshifted
                # coordinates (seen with hybrid /XRefStm layouts, where the
                # shifted startxref hits the xref-stream object's own `N G
                # obj` line), so the xref parses but every recorded offset
                # is off by the junk length and the failure only surfaces
                # at first lazy fetch. Before accepting an as-written load
                # with a rebase candidate pending, probe a few entries: each
                # must have an `N G obj` header with the MATCHING object
                # number at its recorded offset (the reference validates
                # repaired offsets the same way, core/core.go:532).
                self._validate_xref_offsets()
        except Exception:
            recovered = False
            if rebase:
                self.data = self.data[rebase:]
                self.xref.clear()
                self.trailer = PdfDict()
                # the failed as-written attempt may have resolved objects
                # (e.g. an indirect xref-stream /Length) at offsets that
                # mean something different after the slice — drop them
                self._cache.clear()
                self._objstm_cache.clear()
                try:
                    start = self._find_startxref()
                    self._load_xrefs_from(start)
                    recovered = bool(self.xref)
                except Exception:
                    recovered = False
            if not recovered:
                if not self.relaxed:
                    raise
                self.xref.clear()
                self.trailer = PdfDict()
                self._cache.clear()
                self._objstm_cache.clear()
                self._rebuilt = True
                self._rebuild_xref_topdown()
        if "Root" not in self.trailer:
            self._recover_trailer()

    def _validate_xref_offsets(self, max_probe: int = 4) -> None:
        """Probe up to `max_probe` direct xref entries: each recorded offset
        must point at an `N G obj` header whose object number matches the
        entry (whitespace-tolerant, same leniency as _parse_at). Raises the
        typed PdfError on the first mismatch so _load's rebase retry runs."""
        probed = 0
        for num, ent in self.xref.items():
            if ent[0] != "f":
                continue
            off = ent[1]
            m = _OBJ_RE.match(self.data, off) if 0 <= off < len(
                self.data) else None
            if m is None and 0 <= off < len(self.data):
                lx = Lexer(self.data, off)
                lx.skip_ws()
                m = _OBJ_RE.match(self.data, lx.pos)
            if m is None or int(m.group(1)) != num:
                raise PdfError(
                    f"xref offset validation: obj {num} not at {off}")
            probed += 1
            if probed >= max_probe:
                return

    def _find_startxref(self) -> int:
        tail = self.data[-_EOF_TAIL:]
        idx = tail.rfind(b"startxref")
        if idx < 0:
            raise PdfError("startxref not found")
        lx = Lexer(tail, idx + len(b"startxref"))
        lx.skip_ws()
        m = _NUM_RE.match(tail, lx.pos)
        if not m:
            raise PdfError("bad startxref value")
        return int(m.group())

    def _load_xrefs_from(self, offset: int) -> None:
        seen = set()
        while offset is not None and offset not in seen:
            seen.add(offset)
            if offset < 0 or offset >= len(self.data):
                raise PdfError(f"xref offset {offset} out of range")
            lx = Lexer(self.data, offset)
            lx.skip_ws()
            if self.data.startswith(b"xref", lx.pos):
                # table entries land in a staging dict first: in HYBRID files
                # the table marks stream-compressed objects free while the
                # /XRefStm supplies the real entries — the stream must claim
                # slots BEFORE the same revision's free entries do (spec
                # 7.5.8.4), while still shadowing older revisions
                staged: dict[int, tuple] = {}
                trailer = self._parse_xref_table(lx, staged)
                xs = trailer.get("XRefStm")
                if isinstance(xs, (int, float)) and int(xs) not in seen:
                    seen.add(int(xs))
                    st = self._parse_xref_stream(Lexer(self.data, int(xs)))
                    for k, v in st.items():
                        self.trailer.setdefault(k, v)
                for num, ent in staged.items():
                    self.xref.setdefault(num, ent)
            else:
                trailer = self._parse_xref_stream(lx)
            # earlier revisions must not override later ones
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            offset = int(prev) if isinstance(prev, (int, float)) else None

    def _parse_xref_table(self, lx: Lexer, out: dict | None = None) -> PdfDict:
        lx.expect(b"xref")
        while True:
            lx.skip_ws()
            if self.data.startswith(b"trailer", lx.pos):
                lx.pos += len(b"trailer")
                return lx.parse_dict()
            m = _NUM_RE.match(self.data, lx.pos)
            if not m:
                # tableless (broken) — stop with empty trailer
                return PdfDict()
            first = int(m.group())
            lx.pos = m.end()
            lx.skip_ws()
            m = _NUM_RE.match(self.data, lx.pos)
            if not m:
                raise PdfError(f"xref subsection: bad count at {lx.pos}")
            count = int(m.group())
            lx.pos = m.end()
            lx.skip_ws()
            for i in range(count):
                row = self.data[lx.pos : lx.pos + 20]
                parts = row.split()
                if len(parts) >= 3:
                    try:
                        off, _gen = int(parts[0]), int(parts[1])
                    except ValueError as e:
                        # corrupt row bytes must surface as the TYPED
                        # parse error in strict mode (r9 cross-fuzz)
                        raise PdfError(f"bad xref row at {lx.pos}") from e
                    typ = parts[2][:1]
                    num = first + i
                    # record free ("z") entries too: the Prev chain is walked
                    # newest-first, so a newer free entry must shadow an older
                    # revision's in-use entry (no object resurrection)
                    dst = self.xref if out is None else out
                    if num not in dst:
                        dst[num] = ("f", off) if typ == b"n" else ("z",)
                # rows are 20 bytes, but be tolerant of 19/18-byte rows
                nl = self.data.find(b"\n", lx.pos, lx.pos + 21)
                lx.pos = nl + 1 if nl >= 0 else lx.pos + 20

    def _parse_xref_stream(self, lx: Lexer) -> PdfDict:
        m = _OBJ_RE.match(self.data, lx.pos)
        if not m:
            raise PdfError("xref stream: no obj header")
        lx.pos = m.end()
        obj = lx.parse_object()
        if not (isinstance(obj, tuple) and isinstance(obj[0], PdfDict)):
            raise PdfError("xref stream: not a stream")
        d, data_start = obj
        try:
            # corrupt /Length, /W, /Size, /Index values (wrong type, not
            # numeric, missing) must surface as the TYPED parse error, not
            # raw ValueError/TypeError/KeyError (r9 cross-fuzz)
            length = d.get("Length")
            if isinstance(length, Ref):
                length = self._fetch_direct(length)
            raw = self.data[data_start : data_start + int(length)]
            st = Stream(d, raw)
            content = st.decoded(self.resolve)
            w = [int(x) for x in d["W"]]
            size = int(d.get("Size", 0))
            index = d.get("Index") or [0, size]
            index = [int(x) for x in index]
        except PdfError:
            raise
        except (ValueError, TypeError, KeyError) as e:
            raise PdfError(f"xref stream: bad dict ({e})") from e
        if len(index) % 2 and not self.relaxed:
            # same typed-error contract as every other corrupt xref-stream
            # field; relaxed mode silently drops the dangling value (the
            # len-1 loop bound below)
            raise PdfError("xref stream: odd /Index")
        rw = sum(w)
        pos = 0
        # len-1 bound: a corrupt odd-length /Index must not IndexError
        for k in range(0, len(index) - 1, 2):
            first, count = index[k], index[k + 1]
            for i in range(count):
                row = content[pos : pos + rw]
                pos += rw
                if len(row) < rw:
                    break
                fields = []
                o = 0
                for width in w:
                    fields.append(int.from_bytes(row[o : o + width], "big") if width else None)
                    o += width
                typ = fields[0] if w[0] else 1
                num = first + i
                if num in self.xref:
                    continue
                if typ == 1:
                    self.xref[num] = ("f", fields[1])
                elif typ == 2:
                    self.xref[num] = ("o", fields[1], fields[2])
                else:  # type 0: free — shadow older in-use entries
                    self.xref[num] = ("z",)
        return d

    def _rebuild_xref_topdown(self) -> None:
        """Full-file scan for `N G obj` markers (repair path,
        core/core.go:532). Later occurrences win (incremental updates).
        Objects living only inside object streams (type-2 entries) are
        invisible to the marker scan; `_index_objstm_members` recovers
        them — called here when decryption is already initialized, else
        deferred to `__init__` right after `_init_crypt` (an encrypted
        ObjStm payload can't be decoded before the crypt handler exists)."""
        self.xref.clear()
        for m in _OBJ_RE.finditer(self.data):
            self.xref[int(m.group(1))] = ("f", m.start())
        if self._crypt_ready:
            self._index_objstm_members()

    def _index_objstm_members(self) -> None:
        """Add ("o", stm_num, idx) entries for every member of every
        object stream found by the top-down scan. A member entry loses to
        a DIRECT occurrence of the same number at a later byte position
        than its container (same later-revision-wins rule as the scan);
        between two containers, the later one wins. Corrupt containers
        are skipped — repair keeps whatever it can prove."""
        direct = {num: ent[1] for num, ent in self.xref.items()
                  if ent[0] == "f"}
        # Fixpoint: an ObjStm's indirect /Length (or its /N) may itself live
        # in ANOTHER ObjStm, so a container undecodable in pass 1 can become
        # decodable once pass 1's members are visible. Caches are dropped
        # between passes because streams parsed while their /Length was
        # unresolvable carry probe-derived (possibly wrong) raw extents.
        # No byte-level "/ObjStm" pre-filter — name escapes (#4F etc.) make
        # the literal spelling unreliable; this is the repair path, the full
        # parse is affordable.
        for _pass in range(4):
            added = False
            for num, p in sorted(direct.items(), key=lambda kv: kv[1]):
                try:
                    st = self.get_object(num)
                    if not (isinstance(st, Stream)
                            and self.resolve(st.dict.get("Type")) == "ObjStm"):
                        continue
                    content = st.decoded(self.resolve)
                    n = int(self.resolve(st.dict.get("N", 0)))
                    pairs = _parse_objstm_pairs(content, n, num)
                except Exception:
                    continue
                for idx, (onum, _ooff) in enumerate(pairs):
                    dp = direct.get(onum)
                    if dp is None or dp < p:
                        ent = ("o", num, idx)
                        if self.xref.get(onum) != ent:
                            self.xref[onum] = ent
                            added = True
            if not added:
                return
            self._cache.clear()
            self._objstm_cache.clear()

    def _init_crypt(self) -> None:
        """Standard security handler init (PdfCrypt, core/core.go:1916) —
        relaxed empty-user-password path. Strings/streams are decrypted at
        object fetch; the Encrypt dict itself and xref streams never are."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        try:
            if isinstance(enc_ref, Ref):
                self._encrypt_num = enc_ref.num
                enc = self._fetch_direct(enc_ref)
            else:
                enc = enc_ref
            if not isinstance(enc, dict):
                return
            if str(enc.get("Filter", "Standard")) != "Standard":
                return  # unsupported handler: leave data as-is (relaxed)
            fid = b""
            idarr = self.trailer.get("ID")
            if isinstance(idarr, list) and idarr:
                first = idarr[0]
                if isinstance(first, bytes):
                    fid = first
            from .crypt import StdSecurityHandler

            self._crypt = StdSecurityHandler(enc, fid, self.resolve)
        except (PdfError, RecursionError):
            # typed already / a cycle bug that must stay visible to fuzzing
            if not self.relaxed:
                raise
        except Exception as e:
            # corrupt /Encrypt dicts surface handler-internal ValueErrors
            # (e.g. R6 password validation); strict mode's contract is the
            # TYPED document error (r9 cross-fuzz)
            if not self.relaxed:
                raise PdfError(f"encryption init failed: {e}") from e

    def _decrypt_obj(self, obj, num: int, gen: int):
        """Deep-copy decrypt: fresh containers so shared cached objects are
        never mutated."""
        if isinstance(obj, bytes):
            return self._crypt.decrypt(num, gen, obj, kind="string")
        if isinstance(obj, list):
            return [self._decrypt_obj(v, num, gen) for v in obj]
        if isinstance(obj, Stream):
            d = PdfDict(
                {k: self._decrypt_obj(v, num, gen) for k, v in obj.dict.items()}
            )
            return Stream(d, self._crypt.decrypt(num, gen, obj.raw, kind="stream"))
        if isinstance(obj, dict):
            return PdfDict(
                {k: self._decrypt_obj(v, num, gen) for k, v in obj.items()}
            )
        return obj

    def _recover_trailer(self) -> None:
        """Rebuild the trailer from every fragment the bytes still carry:
        classic `trailer` dicts AND /Type/XRef stream dicts (a modern
        container has no `trailer` keyword — the xref stream's dict IS the
        trailer, ISO 32000 §7.5.8). Fragments merge newest-byte-position
        first, so a late incremental trailer that only carries Size/Root/
        /Prev still inherits /Encrypt and /ID from the base revision's
        fragment — losing /Encrypt silently yields ciphertext text. Last
        resort: point /Root at any /Type/Catalog object found by scan."""
        frags: list[tuple[int, dict]] = []
        idx = self.data.rfind(b"trailer")
        while idx >= 0:
            try:
                lx = Lexer(self.data, idx + len(b"trailer"))
                frags.append((idx, lx.parse_dict()))
            except PdfError:
                pass
            idx = self.data.rfind(b"trailer", 0, idx)
        cat_num = None
        for num, ent in sorted(self.xref.items()):
            try:
                obj = self.get_object(num)
            except PdfError:
                continue
            d = obj.dict if isinstance(obj, Stream) else obj
            if not isinstance(d, dict):
                continue
            t = d.get("Type")
            if t == "XRef" and ent[0] == "f":
                frags.append((ent[1], d))
            elif t == "Catalog" and cat_num is None:
                cat_num = num
        for _, d in sorted(frags, key=lambda x: -x[0]):
            for k in ("Root", "Encrypt", "Info", "ID", "Size"):
                if k in d:
                    self.trailer.setdefault(k, d[k])
        if "Root" not in self.trailer and cat_num is not None:
            self.trailer["Root"] = Ref(cat_num, 0)
        if "Root" not in self.trailer:
            raise PdfError("no document catalog found")

    # -- object fetch --------------------------------------------------------
    def _fetch_direct(self, ref: Ref):
        ent = self.xref.get(ref.num)
        if ent is None or ent[0] != "f":
            raise PdfError(f"no direct entry for obj {ref.num}")
        return self._parse_at(ent[1], ref.num)

    def _resolve_length(self, ref: Ref):
        """Resolve a stream's indirect /Length. Usually a direct top-level
        object, but spec-legal files may pack the target inside an object
        STREAM — the reference resolves /Length through its full xref
        either way (core/core.go:1181 traces the extent lazily). Only the
        XREF stream's own /Length must be direct (§7.5.8.2: it is needed
        before any xref exists), which keeps using _fetch_direct. An
        in-progress guard breaks crafted /Length -> ObjStm -> /Length
        cycles instead of recursing forever."""
        ent = self.xref.get(ref.num)
        if ent is None or ent[0] not in ("f", "o"):
            raise PdfError(f"no entry for /Length obj {ref.num}")
        # the guard covers BOTH branches: direct cycles ("2 0 obj with
        # /Length 3 0 R" <-> "3 0 obj with /Length 2 0 R") recurse
        # through _parse_at just like ObjStm ones do through get_object
        if ref.num in self._len_in_progress:
            raise PdfError(f"cyclic /Length (obj {ref.num})")
        self._len_in_progress.add(ref.num)
        try:
            if ent[0] == "f":
                return self._parse_at(ent[1], ref.num)
            return self.get_object(ref.num)
        finally:
            self._len_in_progress.discard(ref.num)

    def _parse_at(self, offset: int, expect_num: int):
        m = _OBJ_RE.match(self.data, offset)
        if not m:
            # tolerate whitespace before marker
            lx0 = Lexer(self.data, offset)
            lx0.skip_ws()
            m = _OBJ_RE.match(self.data, lx0.pos)
            if not m:
                raise PdfError(f"no obj header at {offset}")
        if self._crypt is None:
            cached = _obj_cache_lookup(self.data, m.end())
            if cached is not None:
                return cached
        lx = Lexer(self.data, m.end())
        obj = lx.parse_object()
        if isinstance(obj, tuple):
            d, data_start = obj
            length = d.get("Length")
            # Never cache a stream whose dict references other objects
            # (/Length, /Filter, /DecodeParms, ...): the referenced content
            # lives outside the hashed span, so two byte-identical stream
            # objects in different documents could resolve differently —
            # and Stream memoizes _decoded with the first resolver it sees.
            cacheable = not _contains_ref(d)
            repaired = True  # flipped off only on the clean declared path
            if isinstance(length, Ref):
                try:
                    length = self._resolve_length(length)
                except (PdfError, RecursionError):
                    if not self.relaxed:
                        raise
                    length = None  # degrade to the endstream re-scan below
            if isinstance(length, (int, float)) and int(length) >= 0:
                raw = self.data[data_start : data_start + int(length)]
                endpos = data_start + int(length)
                # validate ADJACENT endstream (at most an EOL/padding run
                # between the declared extent and the keyword); else re-scan
                # (stream-length repair, core/core.go:1181). A substring
                # probe over a slack window would silently accept a /Length
                # short by up to the window size — truncating the payload —
                # because the real endstream still falls inside the window.
                if _ENDSTREAM_ADJ_RE.match(self.data, endpos):
                    repaired = False
                else:
                    # keep the declared extent when only a whitespace run
                    # (longer than the adjacency window) separates it from
                    # the keyword — the length was right, the producer
                    # over-padded. The pad probe must scan from ENDPOS, not
                    # data_start: a binary payload may itself contain the
                    # bytes "endstream", and probing from data_start would
                    # judge padding against that in-payload hit and truncate
                    # a correctly-declared stream mid-payload (r9 fix).
                    e_after = self.data.find(b"endstream", endpos)
                    pad_only = (
                        e_after >= 0
                        and not self.data[endpos:e_after].strip(
                            b" \t\r\n\x0c\x00")
                    )
                    if not pad_only:
                        # declared length is wrong in one direction or the
                        # other; repair to the first keyword occurrence from
                        # the stream start (handles too-LARGE declarations,
                        # whose true terminator lies before endpos)
                        e = self.data.find(b"endstream", data_start)
                        if e >= 0:
                            raw = _strip_one_eol(self.data[data_start:e])
            else:
                e = self.data.find(b"endstream", data_start)
                raw = _strip_one_eol(
                    self.data[data_start : e if e >= 0 else len(self.data)]
                )
            st = Stream(d, raw)
            # repair-path streams are NEVER cached: their extent was derived
            # from bytes OUTSIDE the hashed span (the endstream re-scan), so
            # the same span prefix in another document may have a different
            # true extent — caching one poisons the other (r8: a corrupted
            # doc's truncated stream leaked into the intact doc's parse)
            if cacheable and not repaired and self._crypt is None:
                _obj_cache_insert(self.data, m.end(), data_start + len(raw), st)
            return st
        if self._crypt is None and _ENDOBJ_ADJ_RE.match(self.data, lx.pos):
            _obj_cache_insert(self.data, m.end(), lx.pos, obj)
        return obj

    def get_object(self, num: int, gen: int = 0):
        if num in self._cache:
            return self._cache[num]
        ent = self.xref.get(num)
        if ent is None:
            if self.relaxed:
                return None
            raise PdfError(f"object {num} not in xref")
        if ent[0] == "z":  # freed in the newest revision that mentions it
            return None
        try:
            obj = self._fetch_entry(ent, num)
        except PdfError:
            # Deferred repair (relaxed only): an xref load that passed the
            # offset probes can still carry wrong offsets for unprobed
            # entries — the failure surfaces here, at lazy fetch. Fall back
            # to the top-down rebuild (repairRebuildXrefsTopDown,
            # core/core.go:532) once instead of surfacing a doc error.
            if not self.relaxed or self._rebuilt:
                raise
            self._lazy_rebuild()
            ent = self.xref.get(num)
            if ent is None or ent[0] == "z":
                return None
            obj = self._fetch_entry(ent, num)
        self._cache[num] = obj
        return obj

    def _fetch_entry(self, ent: tuple, num: int):
        if ent[0] == "f":
            obj = self._parse_at(ent[1], num)
            if self._crypt is not None and num != self._encrypt_num:
                obj = self._decrypt_obj(obj, num, 0)
            return obj
        # objects inside object streams are NOT individually encrypted
        # (the containing ObjStm stream already was)
        return self._get_from_objstm(ent[1], ent[2], num)

    def _lazy_rebuild(self) -> None:
        """Relaxed-mode fallback when a lazy fetch fails after a load that
        looked clean: rebuild the xref by full scan (offsets recorded at
        their TRUE byte positions, so any leading junk is irrelevant) and
        re-derive the trailer if the catalog pointer was lost."""
        self._rebuilt = True
        self._cache.clear()
        self._objstm_cache.clear()
        self._rebuild_xref_topdown()
        if "Root" not in self.trailer:
            try:
                self._recover_trailer()
            except PdfError:
                pass

    def _get_from_objstm(self, stm_num: int, idx: int, want_num: int):
        objs = self._objstm_cache.get(stm_num)
        if objs is None:
            st = self.get_object(stm_num)
            if not isinstance(st, Stream):
                raise PdfError(f"objstm {stm_num} is not a stream")
            content = st.decoded(self.resolve)
            try:
                # corrupt /N, /First, or header pairs (decoded garbage)
                # must surface as the TYPED error (r9 cross-fuzz)
                n = int(self.resolve(st.dict.get("N", 0)))
                first = int(self.resolve(st.dict.get("First", 0)))
            except (ValueError, TypeError) as e:
                raise PdfError(f"objstm {stm_num}: bad dict ({e})") from e
            pairs = _parse_objstm_pairs(content, n, stm_num)
            objs = {}
            for onum, ooff in pairs:
                lx = Lexer(content, first + ooff)
                try:
                    o = lx.parse_object()
                except PdfError:
                    o = None
                objs[onum] = o[0] if isinstance(o, tuple) else o
            self._objstm_cache[stm_num] = objs
        return objs.get(want_num)

    def resolve(self, obj):
        """Chase references to a direct object (TraceToDirectObject,
        core/core.go:1139 semantics, cycle-guarded)."""
        seen = 0
        while isinstance(obj, Ref):
            obj = self.get_object(obj.num, obj.gen)
            seen += 1
            if seen > 64:
                raise PdfError("reference cycle")
        return obj

    # -- document model ------------------------------------------------------
    def catalog(self) -> PdfDict:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("no /Root catalog")
        return root

    def pages(self) -> list[PdfDict]:
        """Recursive Kids walk with cycle detection (buildPageList,
        model/model.go:2547)."""
        cat = self.catalog()
        root = self.resolve(cat.get("Pages"))
        out: list[PdfDict] = []
        seen: set[int] = set()

        def walk(node):
            if not isinstance(node, dict):
                return
            nid = id(node)
            if nid in seen:
                return
            seen.add(nid)
            t = node.get("Type")
            if t == "Page":
                out.append(node)
                return
            kids = self.resolve(node.get("Kids")) or []
            for k in kids:
                walk(self.resolve(k))

        walk(root)
        if not out and self.relaxed:
            # repair: any dict object with Type=Page
            for num in sorted(self.xref):
                try:
                    o = self.get_object(num)
                except PdfError:
                    continue
                if isinstance(o, dict) and o.get("Type") == "Page":
                    out.append(o)
        return out

    def page_content(self, page: PdfDict) -> bytes:
        """Concatenated content streams (GetAllContentStreams,
        model/model.go:2640)."""
        c = self.resolve(page.get("Contents"))
        parts: list[bytes] = []
        if isinstance(c, Stream):
            parts.append(c.decoded(self.resolve))
        elif isinstance(c, list):
            for item in c:
                s = self.resolve(item)
                if isinstance(s, Stream):
                    parts.append(s.decoded(self.resolve))
        return b"\n".join(parts)

    def page_resources(self, page: PdfDict) -> PdfDict:
        r = self.resolve(page.get("Resources"))
        if isinstance(r, dict):
            return r
        # inheritable via Parent
        parent = page.get("Parent")
        depth = 0
        while isinstance(parent, Ref) and depth < 64:
            p = self.resolve(parent)
            if not isinstance(p, dict):
                break
            r = self.resolve(p.get("Resources"))
            if isinstance(r, dict):
                return r
            parent = p.get("Parent")
            depth += 1
        return PdfDict()

    def media_box(self, page: PdfDict) -> tuple[float, float, float, float]:
        mb = self.resolve(page.get("MediaBox"))
        node = page
        depth = 0
        while not isinstance(mb, list) and depth < 64:
            node = self.resolve(node.get("Parent"))
            if not isinstance(node, dict):
                break
            mb = self.resolve(node.get("MediaBox"))
            depth += 1
        if not isinstance(mb, list) or len(mb) != 4:
            return (0.0, 0.0, 612.0, 792.0)
        vals = [float(self.resolve(v)) for v in mb]
        llx, lly, urx, ury = vals
        if llx > urx:
            llx, urx = urx, llx
        if lly > ury:
            lly, ury = ury, lly
        return (llx, lly, urx, ury)
