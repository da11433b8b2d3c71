"""The benchmark's correctness gates count planted failures by doc id."""

import os

from perfbench import inputs, workloads
from perfbench.workloads import Failures, TextDedup


def test_planted_corrupt_doc_raises_failed_doc_rate(spark, tmp_path):
    from unipdf_spark import pipeline

    rows = [inputs.fixture_row(i, seed=3) for i in range(12)]
    bad = rows[4]
    assert bad["n_spans"] > 0
    bad["pdf_bytes"] = bad["pdf_bytes"][:200]
    docs = os.path.join(tmp_path, "docs")
    inputs.write_table(rows, inputs.DOCS_PDF_SCHEMA, docs, n_files=2)
    out = os.path.join(tmp_path, "spans")
    pipeline.run_extraction(spark.read.parquet(docs)).write.parquet(out)

    failures = Failures()
    failures.add(len(rows), workloads.span_failures(spark, docs, out))
    assert failures.docs == [bad["doc_id"]]
    assert failures.rate() == 1 / 12
    assert not failures.correct


def test_clean_docs_pass_the_span_gate(spark, tmp_path):
    from unipdf_spark import pipeline

    rows = [inputs.fixture_row(i, seed=3) for i in range(8)]
    docs = os.path.join(tmp_path, "docs")
    inputs.write_table(rows, inputs.DOCS_PDF_SCHEMA, docs, n_files=2)
    out = os.path.join(tmp_path, "spans")
    pipeline.run_extraction(spark.read.parquet(docs)).write.parquet(out)
    assert workloads.span_failures(spark, docs, out) == []


def _dedup(oracle, results):
    w = TextDedup()
    w.oracles = [oracle]
    w.results = [(0, got, len(got)) for got in results]
    return w


ORACLE = {1: (1, 1, 2, 5, 1), 2: (2, 1, 2, 5, 1), 3: (3, 3, 1, 9, 0)}


def test_text_dedup_gate_names_the_wrong_doc():
    wrong = dict(ORACLE)
    wrong[3] = (3, 3, 1, 8, 0)  # one token lost on the way through the PDF
    missing = {k: v for k, v in ORACLE.items() if k != 2}
    failures = Failures()
    _dedup(ORACLE, [dict(ORACLE), wrong, missing]).verify(None, failures)
    assert failures.docs == ["3", "2"]
    assert failures.attempted == 9
    assert failures.rate() > 0


def test_text_dedup_gate_passes_repeated_exact_output():
    failures = Failures()
    _dedup(ORACLE, [dict(ORACLE), dict(ORACLE)]).verify(None, failures)
    assert failures.correct
    assert failures.attempted == 6
    assert TextDedup.candidate_pairs(ORACLE) == 1


def test_text_dedup_gate_flags_duplicate_rows():
    w = _dedup(ORACLE, [dict(ORACLE)])
    w.results = [(0, dict(ORACLE), len(ORACLE) + 1)]
    failures = Failures()
    w.verify(None, failures)
    assert failures.run and not failures.docs
    assert not failures.correct


def test_table_vocabularies_share_no_word():
    vocabs = [set(inputs.vocabulary(k)) for k in range(
        1 + max(TextDedup.warm_tables, 3))]
    for i, a in enumerate(vocabs):
        assert len(a) == len(inputs.VOCAB)
        for b in vocabs[i + 1:]:
            assert not a & b
