"""Spark pipeline tests: distributed generation → extraction → span-equality
join, checkpoint/resume idempotence, skew isolation."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from unipdf_spark import pipeline


def test_end_to_end_span_equality(spark):
    docs_pdf = pipeline.gen_docs_pdf(spark, 40, partitions=4).persist()
    spans_out = pipeline.run_extraction(docs_pdf, partitions=4)
    eq = pipeline.span_equality(docs_pdf, spans_out)
    rows = eq.collect()
    assert len(rows) == 40
    bad = [r for r in rows if not r["match"]]
    assert not bad, f"mismatches: {[r['doc_id'] for r in bad]}"
    docs_pdf.unpersist()


def test_external_documents_equality(spark):
    docs_pdf = pipeline.docs_pdf_from_documents(
        spark, "/root/testdata/sf0.001", limit=30
    ).persist()
    eq = pipeline.span_equality(docs_pdf, pipeline.run_extraction(docs_pdf, 4))
    rows = eq.collect()
    assert len(rows) == 30
    assert all(r["match"] for r in rows)
    docs_pdf.unpersist()


def test_metrics_columns_present(spark):
    docs_pdf = pipeline.gen_docs_pdf(spark, 8, partitions=2)
    out = pipeline.run_extraction(docs_pdf, partitions=2).collect()
    for r in out:
        assert r["partition_id"] >= 0
        assert r["elapsed_ms"] > 0
        assert r["error"] is None
        assert r["n_chars"] == sum(
            len(s["text"]) for s in r["spans"] if s["kind"] == "text"
        )


def test_checkpoint_resume_idempotent(spark):
    tmp1 = tempfile.mkdtemp()
    tmp2 = tempfile.mkdtemp()
    try:
        docs_pdf = pipeline.gen_docs_pdf(spark, 30, partitions=4).persist()
        # full run
        pipeline.run_with_checkpoint(docs_pdf, tmp1, partitions=2, buckets=4)
        full = {
            r["doc_id"]: r["spans"]
            for r in pipeline.read_checkpointed(spark, tmp1).collect()
        }
        # interrupted run: pre-seed manifest as if buckets 0,1 completed,
        # then "resume" — only remaining buckets are processed
        pipeline.run_with_checkpoint(docs_pdf, tmp2, partitions=2, buckets=4)
        mdf = spark.read.parquet(f"{tmp2}/_manifest")
        assert mdf.count() == 4
        # resume on a complete manifest is a no-op (no new manifest rows)
        pipeline.run_with_checkpoint(docs_pdf, tmp2, partitions=2, buckets=4)
        assert spark.read.parquet(f"{tmp2}/_manifest").count() == 4
        resumed = {
            r["doc_id"]: r["spans"]
            for r in pipeline.read_checkpointed(spark, tmp2).collect()
        }
        assert full == resumed
        assert len(full) == 30
        docs_pdf.unpersist()
    finally:
        shutil.rmtree(tmp1, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)


def test_salted_repartition_balances_doc_counts(spark):
    """Full-cardinality salt must fill EVERY partition with a near-uniform
    doc count (the r4 `xxhash64 % partitions` salt collided keys into bins
    balls-into-bins style: ~1/e empty partitions and 2–3× count skew,
    measured as a 3× straggler ratio in the 48k drill)."""
    docs = spark.range(0, 2000).select(
        F.concat(F.lit("doc_"), F.lpad(F.col("id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        F.lit(b"x").alias("pdf_bytes"),
    )
    parts = pipeline.salted_repartition(docs, 16)
    counts = [
        r["n"] for r in parts.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n")).collect()
    ]
    assert len(counts) == 16, "every partition must be populated"
    assert max(counts) <= 1.6 * (sum(counts) / len(counts))


def test_spans_table_input_shape_roundtrip(spark):
    """The north-rule input shape: docs(doc_id, spans) → render → extract →
    span equality against the normalized golden."""
    from pyspark.sql import functions as F

    # build an input docs table from fixture goldens (already renderable)
    src = pipeline.gen_docs_pdf(spark, 24, partitions=2).select(
        "doc_id", F.col("golden_spans").alias("spans")
    )
    docs_pdf = pipeline.docs_pdf_from_spans_table(src).persist()
    eq = pipeline.span_equality(docs_pdf, pipeline.run_extraction(docs_pdf, 2))
    rows = eq.collect()
    assert len(rows) == 24
    assert all(r["match"] for r in rows), [
        r["doc_id"] for r in rows if not r["match"]
    ]
    docs_pdf.unpersist()


def test_partition_lineage_metrics(spark):
    docs = pipeline.gen_docs_pdf(spark, 24, partitions=4)
    out = pipeline.run_extraction(docs)
    lin = pipeline.partition_lineage(out).collect()
    assert sum(r["n_docs"] for r in lin) == 24
    for r in lin:
        assert r["n_errors"] == 0
        assert r["cpu_ms"] > 0 and r["p99_ms"] >= r["p50_ms"]
        assert r["total_chars"] > 0


def test_checkpoint_partial_resume_one_pass(spark):
    """Crash simulation: two buckets survive, two are lost — resume must
    re-extract ONLY the lost buckets (one pass) and reproduce the full
    output byte-identically."""
    tmp = tempfile.mkdtemp()
    try:
        docs_pdf = pipeline.gen_docs_pdf(spark, 30, partitions=4).persist()
        pipeline.run_with_checkpoint(docs_pdf, tmp, partitions=2, buckets=4)
        full = {
            r["doc_id"]: r["spans"]
            for r in pipeline.read_checkpointed(spark, tmp).collect()
        }
        # drop buckets 2 and 3 from the manifest and the span store
        kept = [
            (r["bucket"], r["n_docs"], r["elapsed_s"], r["finished_at"])
            for r in spark.read.parquet(f"{tmp}/_manifest").collect()
            if r["bucket"] < 2
        ]
        shutil.rmtree(f"{tmp}/_manifest")
        spark.createDataFrame(
            kept, "bucket int, n_docs long, elapsed_s double, finished_at double"
        ).write.parquet(f"{tmp}/_manifest")
        for b in (2, 3):
            shutil.rmtree(f"{tmp}/spans/bucket={b}")
        pipeline.run_with_checkpoint(docs_pdf, tmp, partitions=2, buckets=4)
        mrows = spark.read.parquet(f"{tmp}/_manifest").collect()
        assert sorted(r["bucket"] for r in mrows) == [0, 1, 2, 3]
        resumed = {
            r["doc_id"]: r["spans"]
            for r in pipeline.read_checkpointed(spark, tmp).collect()
        }
        assert resumed == full and len(resumed) == 30
        docs_pdf.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_checkpoint_resume_from_uncommitted_manifest(spark, tmp_path):
    """A crash during the first manifest append leaves `_manifest/` holding
    only Spark's `_temporary/`: resume reads that as no bucket done and
    produces the full, span-equal output."""
    out = str(tmp_path)
    (tmp_path / "_manifest" / "_temporary" / "0").mkdir(parents=True)
    docs_pdf = pipeline.gen_docs_pdf(spark, 12, partitions=2).persist()
    pipeline.run_with_checkpoint(docs_pdf, out, partitions=2, buckets=4)
    eq = pipeline.span_equality(
        docs_pdf, pipeline.read_checkpointed(spark, out)).collect()
    docs_pdf.unpersist()
    assert len(eq) == 12 and all(r["match"] for r in eq)
    done = spark.read.schema(pipeline.MANIFEST_DDL).parquet(
        f"{out}/_manifest").collect()
    assert sorted(r["bucket"] for r in done) == [0, 1, 2, 3]


def test_checkpoint_corrupt_manifest_fails_loudly(spark, tmp_path):
    """An unreadable manifest part must raise, not silently restart the
    whole extraction from zero."""
    out = str(tmp_path)
    docs_pdf = pipeline.gen_docs_pdf(spark, 8, partitions=2)
    pipeline.run_with_checkpoint(docs_pdf, out, partitions=2, buckets=2)
    part = sorted((tmp_path / "_manifest").glob("part-*.parquet"))[0]
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        pipeline.run_with_checkpoint(docs_pdf, out, partitions=2, buckets=2)


# --- span_equality digest-compare equivalence (r11 optimization guard) -------
# span_equality joins per-doc md5(to_json(key_seq)) digests instead of the
# full span payloads (pipeline._span_seq_digest). These tests lock the
# optimization's contract: digest equality must decide EXACTLY like the
# direct struct-sequence compare — including null/missing-row semantics and
# null-vs-empty field distinctions — on engineered edges and on a real
# mixed corpus with planted violations.


def _ref_span_equality(docs_pdf, spans_out):
    """The pre-digest reference implementation (direct sequence compare)."""
    g = docs_pdf.select(
        "doc_id", "fixture_class",
        F.transform(
            "golden_spans",
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        ).alias("golden_key"),
    )
    e = spans_out.select(
        "doc_id", "error", "n_misses",
        F.transform(
            "spans",
            lambda s: F.struct(
                s["kind"].alias("kind"), s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        ).alias("got_key"),
    )
    return g.join(e, "doc_id", "left").select(
        "doc_id", "fixture_class", "error", "n_misses",
        (F.col("golden_key") == F.col("got_key")).alias("match"),
    )


_G_DDL = ("doc_id string, fixture_class string, golden_spans "
          "array<struct<kind:string,text:string,media_ref:string,offset:int>>")
_E_DDL = ("doc_id string, spans "
          "array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
          " n_misses int, error string")


def test_span_equality_digest_edge_semantics(spark):
    t = ("text", "hello", None, 0)
    m = ("media", "", "img_abc", 5)
    cases = [
        # (name, golden seq, extracted seq or None=missing row, expect)
        ("equal", [t, m], [t, m], True),
        ("text_mismatch", [t], [("text", "hellO", None, 0)], False),
        ("order_swap", [t, m], [m, t], False),
        ("missing_span", [t, m], [t], False),
        ("extra_span", [t], [t, m], False),
        ("both_empty", [], [], True),
        ("empty_vs_one", [], [t], False),
        # null vs empty-string must NOT alias (json null-omission check)
        ("null_vs_empty_text", [("text", None, None, 0)],
         [("text", "", None, 0)], False),
        ("null_vs_empty_ref", [("media", "", None, 1)],
         [("media", "", "", 1)], False),
        ("null_fields_equal", [("text", None, None, 0)],
         [("text", None, None, 0)], True),
        # a text that LOOKS like the neighbour's json must not alias
        ("json_lookalike", [("text", 'a","media_ref":"x', None, 0)],
         [("text", "a", "x", 0)], False),
        ("offset_ignored", [t], [("text", "hello", None, 99)], True),
        ("missing_row", [t], None, None),
    ]
    g_rows = [(f"doc_{i:08d}", name, seq)
              for i, (name, seq, _e, _x) in enumerate(cases)]
    e_rows = [(f"doc_{i:08d}", e, 0, None)
              for i, (_n, _g, e, _x) in enumerate(cases) if e is not None]
    g_df = spark.createDataFrame(g_rows, _G_DDL)
    e_df = spark.createDataFrame(e_rows, _E_DDL)
    got = {r["fixture_class"]: r["match"]
           for r in pipeline.span_equality(g_df, e_df).collect()}
    ref = {r["fixture_class"]: r["match"]
           for r in _ref_span_equality(g_df, e_df).collect()}
    for name, _g, _e, expect in cases:
        assert got[name] == expect, (name, got[name], expect)
        assert got[name] == ref[name], (name, got[name], ref[name])


def test_span_equality_digest_corpus_ab(spark):
    """Full-mix corpus A/B: the digest compare and the reference compare
    agree doc-for-doc, on clean extraction output AND on mutated output
    (planted text/order/drop violations must read match=False)."""
    docs_pdf = pipeline.gen_docs_pdf(spark, 48, partitions=4).persist()
    spans_out = pipeline.run_extraction(docs_pdf, partitions=4).persist()
    a = pipeline.span_equality(docs_pdf, spans_out).select("doc_id", "match")
    b = _ref_span_equality(docs_pdf, spans_out).select("doc_id", "match")
    div = a.alias("a").join(b.alias("b"), "doc_id").filter(
        ~F.col("a.match").eqNullSafe(F.col("b.match"))).count()
    assert div == 0
    assert a.filter(~F.coalesce("match", F.lit(False))).count() == 0

    # plant violations: flip one char of doc 0's first text span, reverse
    # doc 1's span order, drop the last span of a doc with >= 2 spans (on
    # a one-span doc the drop would be a no-op)
    dropped = (spans_out.filter(
        (F.size("spans") >= 2)
        & ~F.col("doc_id").isin("doc_00000000", "doc_00000001"))
        .agg(F.min("doc_id")).first()[0])
    assert dropped is not None
    mut = spans_out.select(
        "doc_id",
        F.when(F.col("doc_id") == "doc_00000000", F.transform(
            "spans", lambda s, i: F.struct(
                s["kind"].alias("kind"),
                F.when(i == 0, F.concat(s["text"], F.lit("X")))
                .otherwise(s["text"]).alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            )))
        .when(F.col("doc_id") == "doc_00000001", F.reverse("spans"))
        .when(F.col("doc_id") == dropped, F.slice(
            "spans", 1, F.size("spans") - 1))
        .otherwise(F.col("spans")).alias("spans"),
        "n_misses", "error",
    )
    am = pipeline.span_equality(docs_pdf, mut).select("doc_id", "match")
    bm = _ref_span_equality(docs_pdf, mut).select("doc_id", "match")
    div = am.alias("a").join(bm.alias("b"), "doc_id").filter(
        ~F.col("a.match").eqNullSafe(F.col("b.match"))).count()
    assert div == 0
    bad = {r["doc_id"] for r in am.filter(
        ~F.coalesce("match", F.lit(False))).collect()}
    assert {"doc_00000000", "doc_00000001", dropped} <= bad
    docs_pdf.unpersist()
    spans_out.unpersist()
