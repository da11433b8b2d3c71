"""Real-world corpus ingest: a directory of arbitrary PDF/HTML files →
distributed extraction with per-document outcome rows + a one-page report.

The fixture corpora prove the engine against bytes this repo authored;
this harness is the turnkey path for bytes it did NOT author. Point it at
any directory (a driver data drop, a crawl sample, a user's files) and it
returns one row per file — extracted span counts or a typed error, never
an escaped exception — plus an aggregate parse/extract report. Nothing
here is fixture-aware; the moment real files land the repo proves itself
against them (`tests/test_real_corpus.py` gates on
``UNIPDF_SPARK_REAL_CORPUS_DIR``, the same pattern as the CMap data gate).

Spark-first shape (scale notes):

* Files arrive through the built-in ``binaryFile`` DataSource — a real
  distributed scan (splits planned by file size against
  ``maxPartitionBytes``), not a driver-side ``os.walk`` loop, so the same
  code ingests a 10-file drop and a million-file crawl dump.
* Format sniffing is JVM-side column logic over the first 2 KiB (magic
  bytes beat extensions: a ``.bin`` that starts with ``%PDF-`` is a PDF;
  ``%PDF-`` may sit after transport junk, which the parser rebases).
* Extraction runs through the one Arrow-batched worker shape,
  ``pipeline.map_docs``, like every per-doc stage: per-document errors
  are rows, not task failures (relaxed-mode philosophy, core/core.go:389).
* The report aggregates DataFrame-side (groupBy/approxQuantile); only the
  tiny aggregate ever reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import map_docs

CORPUS_RESULT_DDL = (
    "path string, doc_id string, kind string, n_bytes long, ok boolean, "
    "error string, n_spans int, n_text_chars int, n_media int, "
    "n_misses int, elapsed_ms double"
)

# spans payload variant (heavier; opt-in) — same span struct as schema.py
CORPUS_SPANS_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>, error string"
)


def read_corpus_dir(spark: SparkSession, corpus_dir: str,
                    glob: str | None = None) -> DataFrame:
    """Distributed binaryFile scan over a directory tree, with a JVM-side
    format sniff: (path, kind ∈ {pdf, html, unknown}, content, n_bytes).

    HTML root-tag checks run FIRST (an HTML page merely mentioning
    ``%PDF-`` early must not be routed to the PDF parser); then ``%PDF-``
    anywhere in the first 1024 bytes — exactly the parser's header-rebase
    window, so every file classified pdf is one PdfDocument can actually
    rebase (a 2 KiB sniff window classified transport-junk-heavy files as
    pdf only for the fast parse path to fail); extension breaks the tie
    for HTML fragments that lack a doctype/<html> root."""
    reader = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true"))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(corpus_dir)
    head = F.lower(F.col("content").substr(1, 1024).cast("string"))
    ext = F.lower(F.regexp_extract("path", r"\.([A-Za-z0-9]+)$", 1))
    kind = (
        F.when(
            head.contains("<!doctype html") | head.contains("<html")
            | head.contains("<body"), F.lit("html"))
        .when(head.contains("%pdf-"), F.lit("pdf"))
        .when(ext.isin("html", "htm", "xhtml"), F.lit("html"))
        .otherwise(F.lit("unknown"))
    )
    return df.select(
        F.col("path"),
        kind.alias("kind"),
        F.col("content"),
        F.col("length").alias("n_bytes"),
    )


def _extract_file(kind, content):
    """One file's extraction by its sniffed kind → (spans, n_chars,
    n_misses, error); spans are (kind, text, media_ref, offset) tuples.
    Exceptions become the error (corpus-scale rule: one bad file must not
    fail a task)."""
    from .html_extract import main_content
    from .pdf.extract import extract_spans

    try:
        data = bytes(content)
        if kind == "pdf":
            res = extract_spans(data)
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in res.spans]
            return spans, res.n_chars, res.n_misses, res.error
        if kind == "html":
            text = main_content(data.decode("utf-8", errors="replace"))
            return ([("text", text, "", 0)] if text else []), len(text), 0, None
        return [], 0, 0, "unknown format (no %PDF- magic, no HTML root)"
    except Exception as e:  # harness guarantee: rows, not raises
        return [], 0, 0, f"{type(e).__name__}: {e}"


def _outcome_row(path, kind, content, n_bytes):
    """Per-file worker: (path, kind, content, n_bytes) → outcome row.
    Every document yields exactly one row."""
    spans, n_text, n_miss, err = _extract_file(kind, content)
    n_media = sum(1 for s in spans if s[0] == "media")
    # doc_id == full path in BOTH the outcome and spans tables so they
    # join on doc_id; a basename id collides for same-named files in
    # different subdirectories
    return [(path, path, kind, int(n_bytes), err is None, err, len(spans),
             n_text, n_media, n_miss)]


def _spans_row(path, kind, content):
    """Heavier variant: full span payloads (for writing a spans table)."""
    spans, _, _, err = _extract_file(kind, content)
    return [(path, spans, err)]


def extract_corpus(corpus: DataFrame) -> DataFrame:
    """Per-document outcome rows (one per input file, guaranteed)."""
    return map_docs(corpus.select("path", "kind", "content", "n_bytes"),
                    _outcome_row, CORPUS_RESULT_DDL)


def extract_corpus_spans(corpus: DataFrame) -> DataFrame:
    """Per-document span payloads (doc_id = file path)."""
    return map_docs(corpus.select("path", "kind", "content"),
                    _spans_row, CORPUS_SPANS_DDL)


def corpus_report(outcomes: DataFrame, corpus_dir: str = "") -> str:
    """One-page markdown report of parse/extract outcomes. Aggregation is
    DataFrame-side; only ~a dozen aggregate rows reach the driver. An
    already-persisted input is left persisted (callers that also need
    counts — the CLI — persist once and reuse; re-extracting a
    million-file corpus per aggregate is the failure mode this avoids)."""
    lvl = outcomes.storageLevel
    caller_persisted = lvl.useMemory or lvl.useDisk
    if not caller_persisted:
        outcomes = outcomes.persist()
    try:
        per_kind = (
            outcomes.groupBy("kind")
            .agg(F.count("*").alias("files"),
                 F.sum(F.col("ok").cast("int")).alias("ok"),
                 F.sum("n_spans").alias("spans"),
                 F.sum("n_text_chars").alias("chars"),
                 F.sum("n_media").alias("media"),
                 F.sum("n_misses").alias("misses"),
                 F.sum("n_bytes").alias("bytes"),
                 F.sum("elapsed_ms").alias("cpu_ms"))
            .orderBy("kind")
            .collect())
        top_errors = (
            outcomes.filter(F.col("error").isNotNull())
            # bucket by the error's leading words so parametrized messages
            # (offsets, object numbers) fold into one taxonomy row
            .withColumn("err_class",
                        F.substring(F.col("error"), 1, 60))
            .groupBy("err_class").count()
            .orderBy(F.desc("count")).limit(10).collect())
        q = outcomes.approxQuantile("elapsed_ms", [0.5, 0.95, 1.0], 0.01)
        lines = [
            "# Real-corpus ingest report",
            "",
            f"- corpus: `{corpus_dir or '(dataframe input)'}`",
            "",
            "| kind | files | ok | ok% | spans | text chars | media "
            "| misses | MiB | cpu s |",
            "|---|---|---|---|---|---|---|---|---|---|",
        ]
        total = ok_total = 0
        for r in per_kind:
            total += r["files"]
            ok_total += r["ok"] or 0
            pct = 100.0 * (r["ok"] or 0) / r["files"]
            lines.append(
                f"| {r['kind']} | {r['files']} | {r['ok'] or 0} "
                f"| {pct:.1f} | {r['spans'] or 0} | {r['chars'] or 0} "
                f"| {r['media'] or 0} | {r['misses'] or 0} "
                f"| {(r['bytes'] or 0) / 1048576.0:.2f} "
                f"| {(r['cpu_ms'] or 0) / 1000.0:.2f} |")
        lines += [
            "",
            f"- **{total} files, {ok_total} ok "
            f"({100.0 * ok_total / max(total, 1):.1f}%)**",
            f"- per-doc elapsed ms p50/p95/max: "
            f"{q[0]:.1f} / {q[1]:.1f} / {q[2]:.1f}"
            if q else "- per-doc elapsed: n/a",
            "",
        ]
        if top_errors:
            lines += ["## Error taxonomy (top 10, first 60 chars)", ""]
            for r in top_errors:
                lines.append(f"- {r['count']}× `{r['err_class']}`")
            lines.append("")
        return "\n".join(lines)
    finally:
        if not caller_persisted:
            outcomes.unpersist()


def ingest_report(spark: SparkSession, corpus_dir: str,
                  glob: str | None = None) -> tuple[DataFrame, str]:
    """One-call harness: (outcome rows, markdown report)."""
    outcomes = extract_corpus(read_corpus_dir(spark, corpus_dir, glob))
    return outcomes, corpus_report(outcomes, corpus_dir)
