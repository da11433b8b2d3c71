import pytest

from unipdf_spark.fixtures import make_doc
from unipdf_spark.pdf.cos import Lexer, Name, PdfDocument, PdfError, Ref


def lex(b: bytes):
    return Lexer(b, 0).parse_object()


def test_scalars():
    assert lex(b"true") is True
    assert lex(b"false") is False
    assert lex(b"null") is None
    assert lex(b"42") == 42
    assert lex(b"-3.25") == -3.25
    assert lex(b"+.5") == 0.5


def test_name_with_hex_escape():
    assert lex(b"/Foo#20Bar") == Name("Foo Bar")


def test_literal_string_escapes():
    assert lex(rb"(a\(b\)c)") == b"a(b)c"
    assert lex(rb"(line\nnext)") == b"line\nnext"
    assert lex(rb"(\101\102)") == b"AB"
    assert lex(b"(nested (parens) ok)") == b"nested (parens) ok"


def test_hex_string():
    assert lex(b"<48656C6C6F>") == b"Hello"
    assert lex(b"<48 65 6>") == b"He`"  # odd digit padded with 0


def test_array_and_dict():
    assert lex(b"[1 2 /X (s) [3]]") == [1, 2, Name("X"), b"s", [3]]
    d = lex(b"<< /A 1 /B [2 3] /C << /D /E >> >>")
    assert d["A"] == 1 and d["B"] == [2, 3] and d["C"]["D"] == Name("E")


def test_reference_lookahead():
    assert lex(b"12 0 R") == Ref(12, 0)
    # not a reference: plain numbers in an array
    assert lex(b"[12 0 13]") == [12, 0, 13]
    assert lex(b"[12 0 R 13]") == [Ref(12, 0), 13]


def test_comment_skipped():
    assert lex(b"% comment\n7") == 7


def test_document_load_and_pages():
    _, pdf = make_doc("doc_cos_test", "simple")
    doc = PdfDocument(pdf)
    assert doc.trailer.get("Root") is not None
    pages = doc.pages()
    assert len(pages) == 1
    content = doc.page_content(pages[0])
    assert b"BT" in content and b"Tj" in content
    assert doc.media_box(pages[0]) == (0.0, 0.0, 612.0, 792.0)


def test_xref_repair_on_corrupt_startxref():
    _, pdf = make_doc("doc_cos_repair", "malformed")
    doc = PdfDocument(pdf)  # startxref points at offset 1 → repair scan
    assert len(doc.pages()) == 1


def test_strict_mode_raises_on_garbage():
    with pytest.raises(PdfError):
        PdfDocument(b"not a pdf at all", relaxed=False)


def _mini_pdf(extra_objs: dict[int, bytes] | None = None,
              trailer_extra: bytes = b"",
              prefix: bytes = b"") -> bytes:
    """Hand-assembled minimal PDF: 1=Catalog 2=Pages 3=Page, plus extras.
    `prefix` bytes go BEFORE %PDF- but are included in the stored offsets
    (file-start-relative, the spec-conformant convention)."""
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
    }
    objs.update(extra_objs or {})
    out = bytearray(prefix + b"%PDF-1.7\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += str(num).encode() + b" 0 obj\n" + objs[num] + b"\nendobj\n"
    xref_pos = len(out)
    n = max(objs) + 1
    out += b"xref\n0 " + str(n).encode() + b"\n0000000000 65535 f \n"
    for num in range(1, n):
        if num in offsets:
            out += ("%010d 00000 n \n" % offsets[num]).encode()
        else:
            out += b"0000000000 65535 f \n"
    out += (b"trailer\n<< /Size " + str(n).encode() + b" /Root 1 0 R"
            + trailer_extra + b" >>\nstartxref\n" + str(xref_pos).encode()
            + b"\n%%EOF\n")
    return bytes(out)


def test_freed_object_shadows_older_revision():
    # revision 2 frees object 4: the older revision's value must NOT resurrect
    base = _mini_pdf({4: b"(stale secret)"})
    prev = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    out = bytearray(base)
    xref_pos = len(out)
    out += (b"xref\n4 1\n0000000000 65535 f \ntrailer\n"
            b"<< /Size 5 /Root 1 0 R /Prev " + str(prev).encode()
            + b" >>\nstartxref\n" + str(xref_pos).encode() + b"\n%%EOF\n")
    doc = PdfDocument(bytes(out))
    assert doc.get_object(4) is None
    # and the un-freed base document still returns it
    assert PdfDocument(base).get_object(4) == b"stale secret"


def test_stream_cache_not_shared_across_filter_targets():
    # two docs with byte-identical stream objects (obj 5) whose /DecodeParms
    # is an indirect ref resolving to DIFFERENT predictors — decoded output
    # must be per-document, not served from a cross-document cache
    import zlib

    plain = b"\x00AAAAAAAAA"  # 1 PNG filter-type byte + 9 payload bytes
    raw = zlib.compress(plain, 6)
    # /Length is DIRECT (so the old cacheable guard passed) but /DecodeParms
    # is indirect — the hashed span excludes the referenced parms object
    stream_obj = (b"<< /Length " + str(len(raw)).encode()
                  + b" /Filter /FlateDecode /DecodeParms 7 0 R >>\n"
                  b"stream\n" + raw + b"\nendstream")
    doc_a = PdfDocument(_mini_pdf({5: stream_obj, 7: b"<< >>"}))
    doc_b = PdfDocument(_mini_pdf({
        5: stream_obj, 7: b"<< /Predictor 12 /Columns 9 >>"}))
    out_a = doc_a.get_object(5).decoded(doc_a.resolve)
    out_b = doc_b.get_object(5).decoded(doc_b.resolve)
    assert out_a == plain
    assert out_b == b"AAAAAAAAA"  # PNG up-predictor applied


def test_identity_crypt_filter_is_noop():
    # V4 Encrypt dict with StmF/StrF absent => Identity (PDF 32000-1 §7.6.5):
    # plaintext strings/streams must come back unchanged, not RC4-garbled
    enc = (b"<< /Filter /Standard /V 4 /R 4 /Length 128 /P -44 "
           b"/O <" + b"00" * 32 + b"> /U <" + b"00" * 32 + b"> "
           b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> >>")
    pdf = _mini_pdf({4: b"(plain text)", 5: enc},
                    trailer_extra=b" /Encrypt 5 0 R /ID [ <0011> <0011> ]")
    doc = PdfDocument(pdf)
    assert doc.get_object(4) == b"plain text"


def test_crypt_stmf_strf_tracked_separately():
    from unipdf_spark.pdf.crypt import StdSecurityHandler

    enc = {
        "Filter": "Standard", "V": 4, "R": 4, "Length": 128, "P": -44,
        "O": b"\x00" * 32, "U": b"\x00" * 32,
        "CF": {"StdCF": {"CFM": "AESV2", "Length": 16}},
        "StmF": "StdCF",  # streams AES, strings default Identity
    }
    h = StdSecurityHandler(enc, b"\x00\x11")
    assert h.stm_cfm == "AESV2"
    assert h.str_cfm == "Identity"
    assert h.decrypt(4, 0, b"plain", kind="string") == b"plain"


def test_content_null_operand_is_none():
    from unipdf_spark.pdf.content import parse_content

    ops = parse_content(b"null false true sc")
    assert ops[-1].op == "sc"
    assert ops[-1].params == [None, False, True]


def test_hybrid_xrefstm_wins_over_table_free_entry():
    """Hybrid-reference file (spec 7.5.8.4): the table marks object 4 free
    while the /XRefStm supplies its real (type-1) entry — the stream entry
    must win within the same revision; free recording must not shadow it."""
    import zlib

    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
        4: b"(hybrid value)",
    }
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += str(num).encode() + b" 0 obj\n" + objs[num] + b"\nendobj\n"
    # xref STREAM (object 5) holding the real entry for object 4
    rows = b""
    for num in range(6):
        if num == 0:
            rows += b"\x00" + (0).to_bytes(4, "big")
        elif num in offsets:
            rows += b"\x01" + offsets[num].to_bytes(4, "big")
        elif num == 5:
            rows += b"\x01" + (0).to_bytes(4, "big")  # patched below
        else:
            rows += b"\x00" + (0).to_bytes(4, "big")
    xs_off = len(out)
    rows = (rows[: 5 * 5] + b"\x01" + xs_off.to_bytes(4, "big"))
    comp = zlib.compress(bytes(rows))
    out += (b"5 0 obj\n<< /Type /XRef /W [1 4 0] /Size 6 /Index [0 6] "
            b"/Filter /FlateDecode /Root 1 0 R /Length "
            + str(len(comp)).encode() + b" >>\nstream\n" + comp
            + b"\nendstream\nendobj\n")
    # xref TABLE of the same revision: objects 1-3 in use, 4 FREE, /XRefStm
    xref_pos = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    for num in (1, 2, 3):
        out += ("%010d 00000 n \n" % offsets[num]).encode()
    out += b"0000000000 65535 f \n"  # object 4: free in the table
    out += (b"trailer\n<< /Size 6 /Root 1 0 R /XRefStm " + str(xs_off).encode()
            + b" >>\nstartxref\n" + str(xref_pos).encode() + b"\n%%EOF\n")
    doc = PdfDocument(bytes(out))
    assert doc.get_object(4) == b"hybrid value"


def _spec_hash2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """Third, structurally independent Algorithm 2.B transcription
    (ISO 32000-2 §7.6.4.3.4, step-by-step as written in the spec text).
    Exists so an engine/fixture-writer bug pair can't cancel out."""
    import hashlib as H
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    digest = H.sha256(pw + salt + udata).digest()  # step a: K = SHA-256 input hash
    round_no = 0
    while True:
        round_no += 1
        # step b.1: K1 = 64 repetitions of (password || K || udata)
        k1 = b"".join([pw + digest + udata for _ in range(64)])
        # step b.2: E = AES-128-CBC-NoPad(key=K[0:16], iv=K[16:32], K1)
        enc = Cipher(algorithms.AES(digest[:16]), modes.CBC(digest[16:32])).encryptor()
        e_bytes = enc.update(k1) + enc.finalize()
        # step b.3: modulo-3 of the first 16 bytes of E picks the next hash
        remainder = sum(e_bytes[0:16]) % 3
        if remainder == 0:
            digest = H.sha256(e_bytes).digest()
        elif remainder == 1:
            digest = H.sha384(e_bytes).digest()
        else:
            digest = H.sha512(e_bytes).digest()
        # step c: repeat until round >= 64 AND last byte of E <= round - 32
        if round_no >= 64 and e_bytes[len(e_bytes) - 1] <= round_no - 32:
            return digest[:32]


def test_hash2b_engine_writer_and_spec_transcription_agree():
    from unipdf_spark.pdf.crypt import hash_2b, hash_r
    from unipdf_spark.fixtures.render import _w_hash2b

    cases = [
        (b"", bytes(range(8)), b""),
        (b"user", b"saltsalt", b"U" * 48),
        (b"\xf0\x9f\x94\x92", b"\x00" * 8, b"x" * 48),
    ]
    for pw, salt, ud in cases:
        spec = _spec_hash2b(pw, salt, ud)
        assert hash_2b(pw, salt, ud) == spec
        assert _w_hash2b(pw, salt, ud) == spec
    # Frozen known-answer regression anchors (computed from the spec
    # transcription above; any future drift in either implementation fails):
    assert hash_2b(b"", bytes(range(8)), b"").hex() == (
        "1403c04eb647d2e60452dfc4eb0a5e0cf322e8a83a759eabbd17d498a93ba041")
    assert hash_2b(b"user", b"saltsalt", b"U" * 48).hex() == (
        "f964f8f205307d93e9a83aef323e6fc81f1e0ecf36b979c68cec08927a66af59")
    # R5 KDF is a single SHA-256, not the iterated 2.B (reference alg2b R==5).
    import hashlib
    assert hash_r(b"", b"saltsalt", b"", 5) == hashlib.sha256(b"saltsalt").digest()
    assert hash_r(b"", b"saltsalt", b"", 6) == hash_2b(b"", b"saltsalt", b"")


def test_r5_document_decrypts_with_single_sha256_kdf():
    # Build R5 handler params writer-side with the single-SHA-256 KDF and
    # check StdSecurityHandler validates /U and unwraps the file key.
    import hashlib
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from unipdf_spark.pdf.crypt import StdSecurityHandler

    file_key = hashlib.sha256(b"r5-file-key").digest()
    vs_u, ks_u = b"VALSALT!", b"KEYSALT!"
    u = hashlib.sha256(b"" + vs_u).digest() + vs_u + ks_u
    inter = hashlib.sha256(b"" + ks_u).digest()
    enc = Cipher(algorithms.AES(inter), modes.CBC(b"\x00" * 16)).encryptor()
    ue = enc.update(file_key) + enc.finalize()
    h = StdSecurityHandler(
        {"V": 5, "R": 5, "Length": 256, "U": u, "UE": ue, "O": b"", "OE": b"",
         "P": -44, "StmF": "StdCF", "StrF": "StdCF",
         "CF": {"StdCF": {"CFM": "AESV3", "Length": 32}}},
        b"")
    assert h.key == file_key


def test_fetch_standards_verify_machinery(tmp_path, monkeypatch):
    """The vendoring tool's --verify leg, exercised against a synthetic
    cmap-resources checkout (fixture-grade CMaps written as real files):
    dir scan, parse, usecmap chain resolution. With a real Adobe checkout
    in UNIPDF_SPARK_CMAP_DIR the same code verifies UniGB/UniJIS."""
    import importlib
    import sys

    sys.path.insert(0, "tools")
    fsd = importlib.import_module("fetch_standards_data")
    from unipdf_spark.pdf import cmap_resources as cr

    d = tmp_path / "Adobe-Fixture" / "CMap"
    d.mkdir(parents=True)
    (d / "DiskGB-base-H").write_bytes(cr._FIXTURE_BASE.replace(
        b"FixtureGB-base-H", b"DiskGB-base-H"))
    (d / "DiskGB-UCS2-H").write_bytes(cr._FIXTURE_UCS2.replace(
        b"FixtureGB-base-H", b"DiskGB-base-H").replace(
        b"FixtureGB-UCS2-H", b"DiskGB-UCS2-H"))
    monkeypatch.setattr(cr, "_dir_scanned", False)
    assert fsd.verify(str(tmp_path)) == 0
    # the registry now resolves the on-disk chain
    monkeypatch.setattr(cr, "_dir_scanned", False)
    monkeypatch.setenv("UNIPDF_SPARK_CMAP_DIR", str(tmp_path))
    cm = cr.cid_cmap("DiskGB-UCS2-H")
    assert cm is not None and cm.cid_map


def test_fetch_standards_real_adobe_data_when_present():
    """CI-style gate: when a deployment supplies real Adobe cmap-resources
    via UNIPDF_SPARK_CMAP_DIR, the registry must load UniGB-UCS2-H with a
    plausible range count. Skipped in the sandbox (no network)."""
    import os

    import pytest

    root = os.environ.get("UNIPDF_SPARK_CMAP_DIR")
    from unipdf_spark.pdf import cmap_resources as cr

    if not root or not cr.registered("UniGB-UCS2-H"):
        pytest.skip("real Adobe cmap-resources not vendored")
    cm = cr.cid_cmap("UniGB-UCS2-H")
    assert cm is not None and len(cm.cid_map) > 100


# -- stream-length repair + transport-wrapper conventions (r8) ---------------


def _stream_doc(payload: bytes, stored_len: int) -> bytes:
    """Mini doc with one stream whose stored /Length is `stored_len` while
    the real extent is len(payload); payload..endstream separated by CRLF."""
    body = (b"<< /Length " + str(stored_len).encode() + b" >>\nstream\n"
            + payload + b"\r\nendstream")
    return _mini_pdf({4: body})


@pytest.mark.parametrize("delta", [-20, -16, -5, 3, 16])
def test_stream_length_repair_recovers_exact_payload(delta):
    """Wrong stored /Length → endstream re-location recovers the EXACT
    payload. delta=-20/-16/-5 are the regression zone: a substring probe
    over a 32-byte slack window (the pre-r8 check) finds the real
    endstream inside the window and silently accepts the TRUNCATED
    payload; the adjacency check must reject and re-scan. +3/+16 are
    over-reads whose declared end lands inside/past the keyword."""
    payload = bytes(range(256)) * 3  # binary incl. CR/LF bytes, no keywords
    pdf = _stream_doc(payload, len(payload) + delta)
    st = PdfDocument(pdf, relaxed=False).get_object(4)
    assert st.raw == payload


def test_stream_length_repair_keeps_payload_trailing_eol():
    """Re-scan strips ONLY the single separating EOL — a payload whose own
    last byte is LF keeps it (rstrip of all CR/LF would eat it)."""
    payload = b"q 0 0 1 1 re f Q\n"
    pdf = _stream_doc(payload, len(payload) - 6)
    st = PdfDocument(pdf, relaxed=False).get_object(4)
    assert st.raw == payload


def test_stream_length_exact_is_untouched():
    payload = b"\r\n\r\nBT ET\r\n"  # EOL-heavy payload, correct length
    pdf = _stream_doc(payload, len(payload))
    st = PdfDocument(pdf, relaxed=False).get_object(4)
    assert st.raw == payload


def test_leading_junk_header_rebase_strict():
    """Bytes prepended before %PDF- (transport wrapper): stored offsets are
    header-relative, so the reader rebases — in STRICT mode, no repair."""
    pdf = _mini_pdf()
    junk = b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n" \
        + b"Z" * 100
    doc = PdfDocument(junk + pdf, relaxed=False)
    assert len(doc.pages()) == 1


def test_trailing_junk_after_eof_strict():
    """Junk appended after %%EOF within the tail scan window: the backward
    startxref scan must find the real pointer, not fail on the junk."""
    pdf = _mini_pdf()
    doc = PdfDocument(pdf + b"\n--mime-boundary--\n" + b"." * 600,
                      relaxed=False)
    assert len(doc.pages()) == 1


def test_leading_whitespace_filestart_offsets_strict():
    """A file that merely begins with whitespace, whose producer stored
    FILE-START-relative offsets (the spec-conformant convention): the
    reader must try the offsets as written before rebasing at the header.
    Pre-r9 the unconditional header slice shifted every offset and strict
    mode raised on a file it previously parsed (r9 ADVICE regression)."""
    pdf = _mini_pdf(prefix=b" \r\n\t \n")
    doc = PdfDocument(pdf, relaxed=False)
    assert len(doc.pages()) == 1


def test_leading_junk_header_relative_offsets_still_rebase():
    """The rebase retry must still fire for transport wrappers whose
    offsets are HEADER-relative (the try-as-is attempt fails, the sliced
    retry succeeds) — in both strict and relaxed mode."""
    junk = b"MIME-Version: 1.0\r\n\r\n" + b"Q" * 64
    pdf = junk + _mini_pdf()  # offsets relative to %PDF-, not file start
    for relaxed in (False, True):
        assert len(PdfDocument(pdf, relaxed=relaxed).pages()) == 1


def test_stream_overpad_with_endstream_bytes_in_payload():
    """CORRECT /Length + over-padding beyond the 4-byte adjacency window +
    the literal bytes 'endstream' inside the binary payload: the pad probe
    must scan from the DECLARED extent, not the stream start — probing
    from the start judges padding against the in-payload hit and silently
    truncates a correctly-declared stream (r9 ADVICE regression)."""
    payload = b"AAAAendstreamBBBB"
    body = (b"<< /Length " + str(len(payload)).encode() + b" >>\nstream\n"
            + payload + b"      \nendstream")
    pdf = _mini_pdf({4: body})
    st = PdfDocument(pdf, relaxed=False).get_object(4)
    assert st.raw == payload


def test_stream_overpadded_but_correct_length_kept():
    """A producer that pads 8 spaces before endstream with a CORRECT
    /Length: the declared extent wins (re-locating would glue the pad
    run onto the payload)."""
    payload = b"BT (pad) Tj ET"
    body = (b"<< /Length " + str(len(payload)).encode() + b" >>\nstream\n"
            + payload + b"        \nendstream")
    pdf = _mini_pdf({4: body})
    st = PdfDocument(pdf, relaxed=False).get_object(4)
    assert st.raw == payload


def test_xref_stream_odd_index_strict_typed_relaxed_recovers():
    """A corrupt odd-length /Index follows the same contract as every other
    corrupt xref-stream field (r9 ADVICE): strict mode raises the TYPED
    error; relaxed mode silently drops the dangling value and still
    extracts the golden spans."""
    import re

    from unipdf_spark.pdf.extract import extract_spans

    found = 0
    for i in range(40):
        golden, pdf = make_doc(f"doc_{i:08d}", "foreign_layout")
        ms = list(re.finditer(rb"/Index\s*\[([\d ]+)\]", pdf))
        if len(ms) != 1:
            # a second /Index means a second xref stream whose header the
            # +2-byte insertion would shift — that tests offset breakage,
            # not the odd-/Index contract
            continue
        m = ms[0]
        vals = m.group(1).split()
        if len(vals) % 2:
            continue
        # the /Index-bearing stream must be the startxref TARGET — if the
        # load path walks another section first (linearized head, hybrid
        # table), the insertion's +2 shift breaks that walk before the
        # odd-/Index check is ever reached
        from unipdf_spark.fixtures.foreign import profile_of
        junk = profile_of(pdf).get("leading_junk", 0)
        sx = [int(x.group(1))
              for x in re.finditer(rb"startxref\s+(\d+)", pdf)]
        hdr = max(h.start() for h in
                  re.finditer(rb"\d+\s+\d+\s+obj", pdf[:m.start()]))
        if len(sx) != 1 or junk != 0 or sx[-1] != hdr:
            # with leading junk, strict's as-written-first probe fails
            # BEFORE the odd-/Index check and that earlier typed error is
            # the one reported — still typed, but not the contract under
            # test here
            continue
        broken = pdf[:m.end(1)] + b" 7" + pdf[m.end(1):]
        with pytest.raises(PdfError, match="odd /Index"):
            PdfDocument(broken, relaxed=False)
        r = extract_spans(broken)
        assert r.error is None and r.spans == golden, f"doc_{i:08d}"
        found += 1
        if found >= 3:
            return
    raise AssertionError(f"no /Index-bearing fixtures drawn ({found})")


def _doc_with_duplicate_page_objects() -> bytes:
    """Legal 2-page document whose two page OBJECTS are byte-identical
    (same /Parent, same shared /Contents — a template page written twice).
    Distinct xref slots, identical bytes."""
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [4 0 R 5 0 R] /Count 2 >>"),
        (3, b"<< /Length 44 >>\nstream\n"
            b"BT /F1 12 Tf 72 700 Td (Hello world) Tj ET\nendstream"),
    ]
    pg = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
          b"/Contents 3 0 R /Resources << /Font << /F1 6 0 R >> >> >>")
    objs += [(4, pg), (5, pg),
             (6, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")]
    out = bytearray(b"%PDF-1.7\n")
    offs = {}
    for n, body in objs:
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + body + b"\nendobj\n"
    xa = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1) + b"0000000000 65535 f \n"
    for n, _ in objs:
        out += b"%010d 00000 n \n" % offs[n]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xa))
    return bytes(out)


def test_byte_identical_sibling_objects_stay_distinct_instances():
    """Cross-document object-cache collapse regression: two byte-identical
    page objects at DIFFERENT xref slots of the SAME document used to come
    back as one shared dict instance, so pages()'s id()-based cycle set
    dropped the duplicate page and the doc extracted 1 of its 2 pages.
    Container cache hits now return shallow copies; per-slot instance
    stability still holds via PdfDocument._cache[num]."""
    from unipdf_spark.pdf.extract import extract_spans

    pdf = _doc_with_duplicate_page_objects()
    # parse TWICE so the second document is guaranteed to hit the
    # cross-document cache for every object of the first
    for _ in range(2):
        doc = PdfDocument(pdf)
        pages = doc.pages()
        assert len(pages) == 2
        assert pages[0] is not pages[1]
        # per-document instance stability (extract's id(page)->index map
        # and struct-tree /Pg routing depend on it): re-resolving the same
        # object number yields the SAME instance
        assert doc.get_object(4) is doc.get_object(4)
        r = extract_spans(pdf)
        assert r.error is None
        assert [s["text"] for s in r.spans] == ["Hello world", "Hello world"]


def test_dict_prefix_of_stream_never_poisons_cache():
    """Second object-cache collapse class (found via the r10 hypothesis
    flake): a doc truncated right after a stream object's DICT parses that
    object as a plain dict, and caching it stored a span that is a strict
    byte-prefix of the intact doc's stream object — the intact doc then
    resolved its image XObject to a dict instead of a Stream (media span
    dropped / wrong media_ref in the jbig2 roundtrip). Non-stream cache
    entries now require endobj adjacency on BOTH insert and lookup."""
    from unipdf_spark.fixtures import make_doc
    from unipdf_spark.pdf.extract import extract_spans

    golden, pdf = make_doc("cache_prefix_probe", "jbig2")
    # truncate immediately after each dict-close that precedes a stream
    # keyword: the corrupt parse sees a bare dict where a stream lives
    import re as _re

    cuts = [m.start() for m in _re.finditer(rb">>\s*stream", pdf)]
    assert cuts, "fixture has no streams?"
    for c in cuts:
        extract_spans(pdf[: c + 2])
        # also with trailing garbage instead of EOF-truncation
        extract_spans(pdf[: c + 2] + b"\nendobj\n%%EOF\n")
    r = extract_spans(pdf)
    assert r.error is None
    assert r.spans == golden


def test_object_cache_second_pass_identical():
    """Generic cross-document cache-consistency net: extracting every
    fixture class TWICE in one process (second pass maximally cache-warm,
    including cross-class sharing of fonts/resources) must yield golden
    spans both times. Any future cache-admission bug that survives the
    targeted adjacency/copy regressions above should trip this sweep."""
    from unipdf_spark.fixtures import FIXTURE_CLASSES, make_doc
    from unipdf_spark.pdf.extract import extract_spans

    docs = []
    for cls in FIXTURE_CLASSES:
        for i in (0, 7):
            golden, pdf = make_doc(f"doc_{i:08d}", cls)
            docs.append((cls, golden, pdf))
    for pass_no in (1, 2):
        for cls, golden, pdf in docs:
            r = extract_spans(pdf)
            assert r.error is None, (pass_no, cls, r.error)
            assert r.spans == golden, (pass_no, cls)


def test_content_tokenizer_matches_reference_impl():
    """r11 optimization guard: the single-regex content tokenizer must
    produce byte-identical Operation lists to the pre-r11 per-token Lexer
    implementation across every fixture class (the full corpus A/B ran
    2107 streams / 0 divergent at the time of the change)."""
    from content_reference import parse_content_reference
    from unipdf_spark.fixtures.gen import FIXTURE_CLASSES, make_doc
    from unipdf_spark.pdf.content import parse_content
    from unipdf_spark.pdf.cos import PdfDocument

    n = 0
    for cls in FIXTURE_CLASSES:
        _, pdf = make_doc(f"doc_{cls}", cls, 42)
        doc = PdfDocument(pdf, relaxed=True)
        for p in doc.pages():
            s = doc.page_content(p)
            assert parse_content(s) == parse_content_reference(s), cls
            n += 1
    assert n >= len(FIXTURE_CLASSES)


def test_content_tokenizer_edge_tokens():
    """Edge lexemes through both tokenizer implementations: hex-escaped
    names, comments, booleans/null, hex strings, nested arrays/dicts,
    malformed operands (relaxed skip)."""
    from content_reference import parse_content_reference
    from unipdf_spark.pdf.content import parse_content

    cases = [
        b"/N#41me 1 .5 -2. +3 Tf % comment\n(str\\)par) Tj",
        b"[(a) -12 (b) /nm true false null [1 2]] TJ",
        b"<< /A [1 2] /B << /C (x) >> >> BDC <0041> Tj EMC",
        b"q --5 } ] ) # Q",  # malformed operands: relaxed one-byte skips
        b"(unterminated",
        b"[1 2",  # unterminated array
        b"/ Tf",  # empty name
        b"%only a comment",
        b"",
    ]
    for s in cases:
        assert parse_content(s) == parse_content_reference(s), s


def test_array_fast_path_matches_generic_parse():
    """r11 optimization guard: parse_array's single-regex fast path for
    numeric elements and `N G R` references must agree exactly with the
    generic per-element route (which remains as the fallback), including
    the comment-as-whitespace and sign-adjacency corners of the reference
    lookahead (a 120k-case random differential fuzz ran 0 divergent at
    the time of the change)."""
    import unipdf_spark.pdf.cos as cos_mod

    cases = [
        b"[1 2 3]", b"[1.5 -2. +.5 .25]", b"[5 0 R]", b"[5 0R]",
        b"[+5 7 R]", b"[5 0 R 6 1 R]", b"[5 0 RR]", b"[50R]", b"[5 02 R]",
        b"[5 0.5 R]", b"[5 % c\n0 R]", b"[5 0 % c\nR]", b"[5 % x\n6]",
        b"[1 2 R3]", b"[123. 4]", b"[1 /Name 2]", b"[(str) 1 2]",
        b"[<< /A 1 >> 2]", b"[[1 2] 3]", b"[ ]", b"[% c\n]", b"[1\x002]",
        b"[5\t0\rR]", b"[0000123 0 R]", b"[12345678901234 0 R]",
        b"[5 +0 R]", b"[5 -1 R]", b"[6.21.5]", b"[5 6 7]",
        b"[0+7\tR]", b"[007-5\tR]", b"[0+7 % x\nR]", b"[0+7.5 R]",
        b"[23 % x\n1]", b"[12 34 % x\nR]", b"[1 2 3 4 5 0 R]",
        b"[0 0 612 792]", b"[5 0 R% c\n6 1 R]",
    ]

    class _NoMatch:
        @staticmethod
        def match(*_a):
            return None

    orig = cos_mod._ARR_FAST_RE

    def parse(data):
        lx = cos_mod.Lexer(data)
        try:
            return ("ok", repr(lx.parse_object()), lx.pos)
        except cos_mod.PdfError as e:
            return ("err", str(e))

    try:
        for c in cases:
            fast = parse(c)
            cos_mod._ARR_FAST_RE = _NoMatch()
            generic = parse(c)
            cos_mod._ARR_FAST_RE = orig
            assert fast == generic, (c, fast, generic)
    finally:
        cos_mod._ARR_FAST_RE = orig


def test_dict_fast_path_matches_generic_parse():
    """r11 optimization guard: parse_dict's single-regex `/Key value` fast
    path must agree exactly with the generic per-pair route (the
    fallback), including '#'-escaped names, comment-as-whitespace corners
    around references, and keyword termination (a 200k-case random
    differential fuzz ran 0 divergent at the time of the change)."""
    import unipdf_spark.pdf.cos as cos_mod

    cases = [
        b"<< /A 1 /B 2.5 /C /Name /D 5 0 R /E true /F null >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
        b"<< /K#41y 1 >>", b"<< /A /N#41 >>", b"<< / 5 >>", b"<< // >>",
        b"<< /A 5 % c\n0 R >>", b"<< /A 5 0 % c\nR >>", b"<< /A 1 % c\n>>",
        b"<< /A 0+7 R >>", b"<< /A 5 0R >>", b"<< /A 12 34 % x\nR >>",
        b"<< /A truex >>", b"<< /A true>>", b"<< /A (s) /B <0a> >>",
        b"<< /A << /I 1 >> /B [1 2] >>", b"<< /A 1 /A 2 >>",
        b"<< /A 5 6 /B 1 >>", b"<< /A 123. >>", b"<< /A 6.21.5 >>",
        b"<<>>", b"<< >>", b"<< % c\n>>", b"<< /A\n1\t/B\r\n2 >>",
        b"<< /A", b"<< 5 >>", b"<< /A 1",
    ]

    class _NoMatch:
        @staticmethod
        def match(*_a):
            return None

    orig = cos_mod._DICT_FAST_RE

    def parse(data):
        lx = cos_mod.Lexer(data)
        try:
            return ("ok", repr(lx.parse_object()), lx.pos)
        except cos_mod.PdfError as e:
            return ("err", str(e))

    try:
        for c in cases:
            fast = parse(c)
            cos_mod._DICT_FAST_RE = _NoMatch()
            generic = parse(c)
            cos_mod._DICT_FAST_RE = orig
            assert fast == generic, (c, fast, generic)
    finally:
        cos_mod._DICT_FAST_RE = orig
