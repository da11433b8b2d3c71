import pytest

from perfbench import engine_trace, inputs
from perfbench.engine_trace import EngineTrace, LayerTotals
from unipdf_spark.pdf import cos, extract, interp


def test_interp_self_time_is_run_minus_lex():
    t = LayerTotals(open_s=0.1, lex_s=0.2, run_s=0.5, layout_s=0.15,
                    extract_s=1.0)
    assert t.interp_self_s == pytest.approx(0.3)
    assert t.other_s == pytest.approx(1.0 - 0.1 - 0.2 - 0.3 - 0.15)
    m = t.metrics()
    assert m["pdf.interp.self_ms"] == (pytest.approx(300.0), "ms")
    parts = ("pdf.cos.open_ms", "pdf.content.lex_ms", "pdf.interp.self_ms",
             "pdf.layout.ms", "pdf.extract.other_ms")
    assert sum(m[k][0] for k in parts) == pytest.approx(m["pdf.extract.ms"][0])


@pytest.fixture(scope="module")
def docs():
    return [inputs.fixture_row(i, seed=5) for i in range(41)]


def test_layers_account_for_extraction(docs):
    trace = EngineTrace()
    with trace.installed():
        results = [trace.extract(d["pdf_bytes"]) for d in docs]
    t = trace.totals
    assert t.docs == len(docs)
    assert t.pages >= len(docs)
    assert t.ops > 0 and t.marks > 0 and t.spans > 0
    # every lex call happens inside Interpreter.run
    assert 0 < t.lex_s < t.run_s
    assert t.other_s >= 0
    assert t.open_s + t.lex_s + t.interp_self_s + t.layout_s + t.other_s \
        == pytest.approx(t.extract_s)
    # the traced engine returns what the plain one does
    plain = [extract.extract_spans(d["pdf_bytes"]) for d in docs]
    assert [r.spans for r in results] == [r.spans for r in plain]


def test_wrappers_are_removed_on_exit(docs):
    real = (extract.PdfDocument, cos.PdfDocument.pages, interp.parse_content,
            interp.Interpreter.run, extract.assemble_spans)
    trace = EngineTrace()
    with pytest.raises(RuntimeError):
        with trace.installed():
            trace.extract(docs[0]["pdf_bytes"])
            raise RuntimeError("leave the context")
    assert (extract.PdfDocument, cos.PdfDocument.pages, interp.parse_content,
            interp.Interpreter.run, extract.assemble_spans) == real


def test_trace_sample_reports_last_traced_pass(docs):
    pdfs = [d["pdf_bytes"] for d in docs]
    totals, overhead = engine_trace.trace_sample(pdfs[:5], pdfs[5:], rounds=1)
    assert totals.docs == len(pdfs) - 5
    assert isinstance(overhead, float)
