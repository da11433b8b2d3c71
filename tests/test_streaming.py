"""Structured Streaming operator tests (memory sink, processAllAvailable)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def events_stream_dir(spark):
    """Copy the events parquet into a dir usable as a file-stream source."""
    d = tempfile.mkdtemp()
    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.coalesce(2).write.mode("overwrite").parquet(d)
    yield d, df.schema
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_hourly_counts_matches_batch(spark, events_stream_dir):
    from unipdf_spark.streaming import streaming_hourly_counts

    d, sch = events_stream_dir
    stream = spark.readStream.schema(sch).parquet(d)
    q = (
        streaming_hourly_counts(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.sql("select * from hourly_test").collect()
        }
    finally:
        q.stop()
    batch = (
        spark.read.parquet(d)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    )
    expect = {(r["win"]["start"], r["event_type"]): (r["n"], r["s"]) for r in batch}
    assert got == expect and len(got) > 0


def test_streaming_extract_spans(spark):
    """Streaming extraction over a file source of rendered PDFs must produce
    the same spans as the batch path."""
    from unipdf_spark import pipeline
    from unipdf_spark.streaming import streaming_extract

    d = tempfile.mkdtemp()
    chk = tempfile.mkdtemp()
    try:
        docs = pipeline.gen_docs_pdf(spark, 20, partitions=2)
        docs.select("doc_id", "pdf_bytes").write.mode("overwrite").parquet(d)
        sch = spark.read.parquet(d).schema
        stream = spark.readStream.schema(sch).parquet(d)
        q = (
            streaming_extract(stream)
            .writeStream.format("memory")
            .queryName("extract_stream_test")
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            got = {
                r["doc_id"]: r["spans"]
                for r in spark.sql("select * from extract_stream_test").collect()
            }
        finally:
            q.stop()
        batch = {
            r["doc_id"]: r["spans"]
            for r in pipeline.run_extraction(docs).collect()
        }
        assert got == batch and len(got) == 20
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_streaming_sessionize_stateful(spark):
    """applyInPandasWithState sessionization: sessions separated by >30min
    gaps are emitted once the next batch pushes the gap."""
    import pandas as pd

    from unipdf_spark.streaming import streaming_sessionize

    d = tempfile.mkdtemp()
    chk = tempfile.mkdtemp()
    try:
        base = pd.Timestamp("2024-01-01 00:00:00")
        rows = []
        # user 1: two sessions separated by 2h; second session pushes the
        # first one out in the same batch
        for k in range(3):
            rows.append((1, base + pd.Timedelta(minutes=5 * k), "click", 1.0))
        for k in range(2):
            rows.append((1, base + pd.Timedelta(hours=3, minutes=k), "view", 2.0))
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type", "value"])
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(d)
        sch = spark.read.parquet(d).schema
        stream = spark.readStream.schema(sch).parquet(d)
        q = (
            streaming_sessionize(stream)
            .writeStream.format("memory")
            .queryName("sess_test")
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )
        import time

        try:
            # processAllAvailable() blocks forever with pending
            # processing-time timeouts ("cleaning up state") — poll instead
            out = []
            for _ in range(60):
                if q.exception():
                    raise AssertionError(q.exception())
                out = spark.sql("select * from sess_test").collect()
                if out:
                    break
                time.sleep(2)
        finally:
            q.stop()
        # the completed first session must be emitted
        assert len(out) == 1
        r = out[0]
        assert r["user_id"] == 1 and r["n_events"] == 3 and r["total_value"] == 3.0
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Cross-micro-batch dedup state: duplicates split across two batches
    are still caught; exactly one is_new per distinct text."""
    import pandas as pd

    from unipdf_spark.streaming.ops import streaming_dedup_exact

    b1 = pd.DataFrame({"doc_id": ["a", "b", "c"],
                       "text": ["same", "uniq1", "same"]})
    b2 = pd.DataFrame({"doc_id": ["d", "e"],
                       "text": ["same", "uniq2"]})
    src = f"{tmp_path}/in"
    spark.createDataFrame(b1).coalesce(1).write.json(f"{src}/batch=0")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/batch=*")
    )
    out = streaming_dedup_exact(stream)
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).coalesce(1).write.json(f"{src}/batch=1")
        q.processAllAvailable()
        rows = {r["doc_id"]: r["is_new"]
                for r in spark.sql("SELECT * FROM dedup_out").collect()}
    finally:
        q.stop()
    assert len(rows) == 5
    # exactly one is_new among the three 'same' docs, and it is the first batch's
    same = [d for d in ("a", "c", "d") if rows[d]]
    assert len(same) == 1 and same[0] in ("a", "c")
    assert rows["b"] and rows["e"]


def test_streaming_minhash_candidates_across_batches(spark, tmp_path):
    """Near-dup docs arriving in DIFFERENT micro-batches become a candidate
    pair through per-bucket state; the candidate set matches the batch LSH
    operator's on the same corpus; a hot bucket's output stays bounded."""
    import pandas as pd

    from unipdf_spark.operators.dedup import MAX_BUCKET, minhash_lsh_pairs
    from unipdf_spark.streaming.ops import streaming_minhash_candidates

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "kappa2", 1)
    far = "completely different words with zero overlap whatsoever " * 5
    b1 = pd.DataFrame({"doc_id": ["d0", "d2"], "text": [base, far]})
    b2 = pd.DataFrame({"doc_id": ["d1"], "text": [near]})
    src = f"{tmp_path}/in"
    spark.createDataFrame(b1).coalesce(1).write.json(f"{src}/batch=0")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/batch=*")
    )
    out = streaming_minhash_candidates(stream)
    q = (
        out.writeStream.format("memory").queryName("lshcand_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).coalesce(1).write.json(f"{src}/batch=1")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM lshcand_out").collect()
    finally:
        q.stop()
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert ("d0", "d1") in pairs  # near-dup found ACROSS micro-batches
    assert all("d2" not in p for p in pairs)
    # batch-operator agreement: the candidate pair is the one the batch LSH
    # pipeline verifies on the same corpus
    docs = pd.DataFrame({"doc_id": [0, 1, 2], "text": [base, near, far]})
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet")
    batch_pairs = {(r["doc_a"], r["doc_b"])
                   for r in minhash_lsh_pairs(spark, str(tmp_path)).collect()}
    assert (0, 1) in batch_pairs
    # per-arrival output is bounded by the bucket cap
    by_doc: dict = {}
    for a, b in pairs:
        by_doc[b] = by_doc.get(b, 0) + 1
    assert all(v <= 8 * MAX_BUCKET for v in by_doc.values())


def test_streaming_integrated_extract_dedup(spark, tmp_path):
    """The integrated render→extract→reassemble→LSH path under Structured
    Streaming: a re-formatted duplicate (same content, different doc_id ⇒
    different paragraph layout) arriving in a LATER micro-batch pairs with
    its original through per-bucket state — extraction and curation
    working together on a stream."""
    import pandas as pd

    from unipdf_spark.operators.extracted import REX_DDL, _rex_worker
    from unipdf_spark.pipeline import map_docs
    from unipdf_spark.streaming.ops import streaming_minhash_candidates

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 4
    far = "totally unrelated corpus words nothing shared at all here " * 4
    b1 = pd.DataFrame({"doc_id": ["doc_00000007", "doc_00000042"],
                       "text": [base, far]})
    b2 = pd.DataFrame({"doc_id": ["doc_01000007"], "text": [base]})
    src = f"{tmp_path}/in"
    spark.createDataFrame(b1).coalesce(1).write.json(f"{src}/batch=0")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/batch=*")
    )
    # the small-doc branch of streaming_render_extract_reassemble: its
    # reassembly state would be a second applyInPandasWithState, which a
    # streaming query cannot chain with the LSH state below, whose keys
    # are strings
    extracted = map_docs(stream, _rex_worker, REX_DDL).selectExpr(
        "CAST(doc_id AS STRING) AS doc_id", "text")
    out = streaming_minhash_candidates(extracted)
    q = (
        out.writeStream.format("memory").queryName("intdedup_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).coalesce(1).write.json(f"{src}/batch=1")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM intdedup_out").collect()
    finally:
        q.stop()
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert ("1000007", "7") in pairs  # clone found ACROSS micro-batches
    assert all("42" not in p for p in pairs)


def test_streaming_html_main_content(spark, tmp_path):
    """The HTML boilerplate-strip worker binds to micro-batches unchanged:
    wrapped pages arriving as a stream yield exactly the article text
    hash per doc (same map-only stage as the batch query)."""
    import hashlib
    import re

    import pandas as pd

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 2

    def hbatches(pdfs):
        from unipdf_spark.fixtures.gen import make_html_doc
        from unipdf_spark.html_extract import main_content

        ws = re.compile(r"\s+")
        for b in pdfs:
            ids, hashes = [], []
            for doc_id, text in zip(b["doc_id"], b["text"]):
                main = ws.sub(" ", main_content(
                    make_html_doc(doc_id, text))).strip()
                ids.append(doc_id)
                hashes.append(hashlib.md5(main.encode()).hexdigest())
            yield pd.DataFrame({"doc_id": ids, "main_hash": hashes})

    src = f"{tmp_path}/in"
    b1 = pd.DataFrame({"doc_id": ["doc_00000001"], "text": [base]})
    b2 = pd.DataFrame({"doc_id": ["doc_00000002"], "text": [base + "omega"]})
    spark.createDataFrame(b1).coalesce(1).write.json(f"{src}/batch=0")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1).json(f"{src}/batch=*")
    )
    out = stream.mapInPandas(hbatches, "doc_id string, main_hash string")
    q = (out.writeStream.format("memory").queryName("htmlmain_out")
         .outputMode("append")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame(b2).coalesce(1).write.json(f"{src}/batch=1")
        q.processAllAvailable()
        rows = {r["doc_id"]: r["main_hash"]
                for r in spark.sql("SELECT * FROM htmlmain_out").collect()}
    finally:
        q.stop()
    ws = re.compile(r"\s+")
    for did, text in [("doc_00000001", base), ("doc_00000002", base + "omega")]:
        want = hashlib.md5(ws.sub(" ", text).strip().encode()).hexdigest()
        assert rows[did] == want


def test_streaming_oversized_doc_split(spark, tmp_path):
    """The oversized-doc scale path under Structured Streaming: a text
    beyond PART_CHARS splits into bounded atoms inside its micro-batch
    and reassembles per doc (stateless group step) to the identical
    token stream as the batch scalable path; small docs in the same
    stream take the map-only branch."""
    import re

    import pandas as pd

    from unipdf_spark.operators.extracted import (
        render_extract_reassemble_scalable)
    from unipdf_spark.streaming.ops import streaming_render_extract_reassemble

    ws = re.compile(r"\s+")
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon ") * 3
    part_chars = 160  # tiny atom size so the test splits without megabytes
    big = ("word" + " streaming scale path tokens preserved exactly ") * 30
    b1 = pd.DataFrame({"doc_id": ["doc_00000001", "doc_00000002"],
                       "text": [base, big]})
    src = f"{tmp_path}/in"
    spark.createDataFrame(b1).coalesce(1).write.json(f"{src}/batch=0")
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(f"{src}/batch=*")
    )
    out = streaming_render_extract_reassemble(stream, part_chars=part_chars)
    q = (
        out.writeStream.format("memory").queryName("ovsz_out")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ovsz_out").collect()
    finally:
        q.stop()
    got = {r["doc_id"]: r["text"] for r in rows}
    assert got[1] == ws.sub(" ", base).strip()
    assert got[2] == ws.sub(" ", big).strip()
    # batch scalable path produces the identical result
    named = spark.createDataFrame(b1)
    batch = {
        r["doc_id"]: r["text"]
        for r in render_extract_reassemble_scalable(
            named, part_chars=part_chars).collect()
    }
    assert batch == got
