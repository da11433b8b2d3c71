"""Property-based round-trip tests (SURVEY §5.4): arbitrary external text →
rendered PDF → extracted spans must equal golden, with offset invariants."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from unipdf_spark.fixtures.gen import make_text_doc
from unipdf_spark.pdf.extract import extract_spans

# text including ASCII, punctuation that needs escaping, unicode to sanitize,
# runs of whitespace, very long tokens
TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=126),
        st.sampled_from("äöü€日本語֐\t\n\r"),
    ),
    max_size=4000,
)


@settings(max_examples=60, deadline=None)
@given(TEXT, st.integers(min_value=0, max_value=10_000))
def test_text_doc_roundtrip(text, salt):
    doc_id = f"doc_prop_{salt:05d}"
    golden, pdf = make_text_doc(doc_id, text)
    res = extract_spans(pdf)
    assert res.error is None
    assert res.spans == golden


@settings(max_examples=30, deadline=None)
@given(TEXT)
def test_offsets_invariant(text):
    golden, pdf = make_text_doc("doc_prop_off", text)
    res = extract_spans(pdf)
    cum = 0
    for s in res.spans:
        assert s["offset"] == cum
        if s["kind"] == "text":
            cum += len(s["text"])


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_generation_is_pure(i):
    from unipdf_spark.fixtures import gen

    doc_id = f"doc_{i:08d}"
    cls = gen._class_for(i, gen.DEFAULT_MIX)
    a = gen.make_doc(doc_id, cls)
    b = gen.make_doc(doc_id, cls)
    assert a == b


def test_corrupted_pdfs_never_raise():
    """Relaxed-mode boundary: every extraction API must degrade to soft
    errors on arbitrary corruption (truncation, byte flips, zeroed blocks,
    slice duplication), never raise — at corpus scale one bad document must
    not fail a task."""
    import random

    from unipdf_spark.fixtures import FIXTURE_CLASSES, make_doc
    from unipdf_spark.pdf.extract import (
        extract_document_profile,
        extract_lists,
        extract_spans,
        extract_tables,
        extract_text_visibility,
    )

    from unipdf_spark.fixtures.gen import make_text_doc

    rng = random.Random(5)
    for trial in range(72):
        # every fixture class, the explicit-mix-only jpeg_blocky class,
        # and styled external-text renders all serve as corruption seeds
        roll = rng.randrange(6)
        if roll == 4:
            _, pdf = make_doc(f"fz{trial}", "jpeg_blocky", seed=trial % 5)
        elif roll == 5:
            _, pdf = make_text_doc(f"doc_{trial:08d}",
                                   "alpha beta gamma delta " * 40,
                                   seed=trial % 5)
        else:
            cls = rng.choice(FIXTURE_CLASSES)
            _, pdf = make_doc(f"fz{trial}", cls, seed=trial % 5)
        b = bytearray(pdf)
        mode = rng.randrange(4)
        if mode == 0:
            b = b[: rng.randrange(1, len(b))]
        elif mode == 1:
            for _ in range(rng.randrange(1, 40)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif mode == 2:
            s = rng.randrange(len(b))
            e = min(len(b), s + rng.randrange(1, 500))
            b[s:e] = bytes(e - s)
        else:
            s = rng.randrange(len(b))
            e = min(len(b), s + rng.randrange(1, 300))
            b = b[:e] + b[s:e] + b[e:]
        blob = bytes(b)
        extract_spans(blob)
        extract_tables(blob)
        extract_lists(blob)
        extract_text_visibility(blob)
        extract_document_profile(blob, terms=["query"])


# logical-word vocabulary for the joint Arabic-shaping × bidi property:
# Latin (LTR), Hebrew (RTL, unshaped), Arabic (RTL, contextually shaped
# incl. lam-alef ligature triggers)
_BIDI_VOCAB = (
    ["data", "engine", "span", "query", "x", "wrap-long-token"]
    + ["שלום", "עולם", "ספר", "נתונים"]
    + ["بيانات", "تحليل", "لا", "ولا", "الحل", "كتاب", "مكتبة"]
)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.sampled_from(_BIDI_VOCAB), min_size=1, max_size=40))
def test_arabic_bidi_roundtrip_property(words):
    """Joint Arabic-shaping + bidi property (r4 VERDICT #8): ANY logical
    word sequence rendered through the visual pipeline (Arabic shaped to
    presentation forms incl. lam-alef collapsing two charcodes into one
    glyph, RTL runs reversed) must round-trip to the logical golden with
    exact cumulative offsets."""
    from unipdf_spark.fixtures.gen import make_bidi_text_doc

    golden, pdf = make_bidi_text_doc("doc_prop_bidi", words)
    res = extract_spans(pdf)
    assert res.error is None
    assert res.spans == golden
    # offset invariant: spans carve the doc text exactly
    cum = 0
    for s in res.spans:
        assert s["offset"] == cum
        if s["kind"] == "text":
            cum += len(s["text"])


@settings(max_examples=40, deadline=None)
@given(st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FF),
    min_size=0, max_size=600,
))
def test_external_text_reassembly_property(text):
    """The invariant the extracted_text_dedup oracle rests on, generalized
    to ARBITRARY text: render via make_text_doc, extract, reassemble the
    text spans — the token sequence must equal the sanitized original's
    (non-printables → space, >40-char tokens hard-split, empty → 'empty'),
    exactly the transform a SQL oracle can mirror."""
    import re

    from unipdf_spark.fixtures.gen import make_text_doc

    golden, pdf = make_text_doc("doc_prop_ext", text)
    res = extract_spans(pdf)
    assert res.error is None
    assert res.spans == golden
    joined = " ".join(s["text"] for s in res.spans if s["kind"] == "text")
    got = [t for t in re.split(r"\s+", joined) if t]
    clean = "".join(ch if 32 <= ord(ch) <= 126 else " " for ch in text)
    want = []
    for w in clean.split():
        while len(w) > 40:
            want.append(w[:40])
            w = w[40:]
        if w:
            want.append(w)
    if not want:
        want = ["empty"]
    assert got == want


@settings(max_examples=40, deadline=None)
@given(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0, max_size=500,
))
def test_html_main_content_property(text):
    """HTML leg invariant, generalized: wrap ANY text in the boilerplate
    page, strip via the DOM heuristics — the whitespace-collapsed result
    must equal the collapsed original, EXCEPT documents shorter than the
    prose gate (MIN_BLOCK_CHARS), which correctly extract as empty (a
    page with no body prose has no main content; the oracle stays
    consistent because both sides hash the same value for real docs)."""
    import re

    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import MIN_BLOCK_CHARS, main_content

    html = make_html_doc("doc_prop_html", text)
    got = re.sub(r"\s+", " ", main_content(html)).strip()
    want = re.sub(r"\s+", " ", text).strip()
    if len(want) >= MIN_BLOCK_CHARS:
        assert got == want
    else:
        assert got == ""


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=400))
def test_html_extractor_never_raises(data):
    """Malformed HTML (arbitrary bytes decoded permissively) must never
    crash the extractor — web corpora are full of broken markup."""
    from unipdf_spark.html_extract import main_content

    s = data.decode("latin-1")
    out = main_content("<html><body>" + s)  # unclosed, mid-tag garbage
    assert isinstance(out, str)
    out2 = main_content(s)
    assert isinstance(out2, str)


# -- cross-writer differential property (r8) ----------------------------------
# The fixed foreign corpus proves span equality over ~80 profiles; this
# property randomizes BOTH the document (class × id) and the foreign
# serialization profile, so writer-independence is tested over arbitrary
# (graph, layout) pairs rather than a committed sample. Two independently
# written serializers agreeing with the plan-derived golden is the
# falsification core: a bug in either writer or in the parser breaks it.

_DIFF_CLASSES = [
    "simple", "kerned", "multicolumn", "rotated", "cid", "interleaved",
    "form_xobject", "hyphenated", "tagged", "skew", "filters", "type3",
    "bidi", "gridtable", "macroman", "std14", "fax", "jbig2", "jpeg",
    "arabic", "type1_embedded", "twotables", "wstable", "rules",
    "invisible", "annot",
]


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=10**6),
       st.sampled_from(_DIFF_CLASSES),
       st.integers(min_value=0, max_value=10**6))
def test_writer_differential_property(i, cls, fseed):
    from unipdf_spark.fixtures.gen import _plan_doc, render_doc

    did = f"doc_{i:08d}"
    plan = _plan_doc(did, cls, 42)
    pdf_canonical, golden = render_doc(plan)
    plan.foreign = True
    plan.foreign_seed = f"hyp:{fseed}"
    plan.encrypt_id = None  # foreign emitter has no RC4 leg
    pdf_foreign, golden2 = render_doc(plan)
    assert golden2 == golden  # golden derives from the plan, not the writer
    assert pdf_foreign != pdf_canonical
    rc = extract_spans(pdf_canonical)
    rf = extract_spans(pdf_foreign)
    if rc.spans != golden or rf.spans != golden:
        # a failure here was once observed ONLY under accumulated
        # same-process state (r10: one occurrence, unreproducible in a
        # fresh process) — dump the exact bytes so the next occurrence is
        # diagnosable offline instead of lost to hypothesis replay
        import pickle
        import tempfile

        with tempfile.NamedTemporaryFile(
            prefix=f"diffprop_{cls}_{i}_", suffix=".pkl",
            delete=False,
        ) as fh:
            pickle.dump({"i": i, "cls": cls, "fseed": fseed,
                         "pdf_canonical": pdf_canonical,
                         "pdf_foreign": pdf_foreign, "golden": golden,
                         "got_canonical": rc.spans, "got_foreign": rf.spans,
                         "err_canonical": rc.error, "err_foreign": rf.error,
                         }, fh)
            path = fh.name
        assert rc.spans == golden, (cls, did, "canonical", path)
        assert rf.spans == golden, (cls, did, fseed, "foreign", path)


def test_corrupted_doc_never_poisons_clean_doc():
    """Cross-document object-cache poisoning regression (r8): a corrupted
    doc whose repaired (truncated) stream shares a byte prefix with the
    intact doc's object must NOT leak its truncated parse into the clean
    doc. Observed as test-order-dependent `no /Root catalog` on objstm
    docs after the corruption fuzz ran. Repair-path streams are never
    cached; cached streams are re-validated in the consuming document."""
    from unipdf_spark.fixtures import FIXTURE_CLASSES, make_doc
    from unipdf_spark.pdf.extract import extract_spans

    for cls in FIXTURE_CLASSES:
        if cls in ("malformed",):  # its golden tolerates repair variance
            continue
        golden, pdf = make_doc("poison_probe", cls, seed=3)
        # truncation points sweep stream interiors; parse corrupt FIRST
        for cut in range(len(pdf) // 4, len(pdf), max(1, len(pdf) // 7)):
            extract_spans(pdf[:cut] + b"\nendstream\nendobj\n")
            extract_spans(pdf[:cut])
        got = extract_spans(pdf)
        assert got.error is None and got.spans == golden, cls


@settings(max_examples=40, deadline=None)
@given(st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=32, max_codepoint=126),
        st.sampled_from("äöü€日本語 «»—"),
    ),
    max_size=1500,
), st.integers(min_value=0, max_value=10**6))
def test_foreign_html_invariance_property(text, fseed):
    """Randomized analog of tests/test_foreign_html.py: for ARBITRARY
    article text (incl. unicode that the charref knob re-encodes as
    multi-byte numeric references), re-serializing the wrapped page
    through foreign markup conventions must not change the extraction."""
    import re as _re

    from unipdf_spark.fixtures.foreign_html import foreign_html
    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import main_content

    ws = _re.compile(r"\s+")
    page = make_html_doc("doc_00000077", text, seed=11)
    fpage = foreign_html(page, f"hyp:{fseed}")
    assert (ws.sub(" ", main_content(fpage)).strip()
            == ws.sub(" ", main_content(page)).strip())
