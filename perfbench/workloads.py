"""The benchmark workloads: inputs, the timed job, the correctness gate
and the traced extras of each.

A workload object is made per run. ``prepare`` writes its seeded input
tables (untimed); ``job`` runs the program once on the next table and
returns its wall time and input doc count; ``verify`` records the doc
ids whose output is missing or wrong, plus any run-level failure;
``lineage`` and ``engine_sample`` feed the traced run, as does
``checkpoint_metrics``, the checkpoint layer over the trace sample.

Every job reads a table of docs no earlier job of the run has seen, so
the engine's cross-document object cache only ever helps with what docs
share (fonts, resources), as it would on a real corpus: re-extracting the
same bytes is ~1.7x faster and would flatter every warm job. A run that
outlasts its tables cycles through them again.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

from . import inputs

_now = time.perf_counter

CHECKPOINT_BUCKETS = 16
CHECKPOINT_BUCKETS_PER_PASS = 4
TRACE_DOCS = 256
TRACE_WARM_DOCS = 64
WARMUP_DOCS_PER_CORE = 2
FILES_PER_CORE = 2


class Failures:
    """Failed docs (by doc id) and run-level failures of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.docs: list[str] = []
        self.run: list[str] = []

    def add(self, attempted: int, failed_docs: list[str]) -> None:
        self.attempted += attempted
        self.docs.extend(failed_docs)

    @property
    def failed(self) -> int:
        return len(self.docs) + len(self.run)

    @property
    def correct(self) -> bool:
        return self.failed == 0

    def rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def write_docs(rows: list[dict], path: str, cores: int) -> str:
    inputs.write_table(rows, inputs.DOCS_PDF_SCHEMA, path,
                       n_files=FILES_PER_CORE * cores)
    return path


def warmup_table(tmp: str, seed: int, cores: int) -> str:
    """A few fixture docs for the set-up extraction."""
    rows = [inputs.fixture_row(i, seed)
            for i in range(WARMUP_DOCS_PER_CORE * cores)]
    return write_docs(rows, os.path.join(tmp, "warmup_docs"), cores)


def warmup_extraction(spark, path: str) -> int:
    from unipdf_spark import pipeline

    return pipeline.run_extraction(spark.read.parquet(path)).count()


def _column(path: str, name: str) -> list:
    return pq.read_table(path, columns=[name]).column(name).to_pylist()


def span_failures(spark, docs_path: str, spans_path: str,
                  spans=None) -> list[str]:
    """Doc ids whose extracted span sequence is missing or differs from
    the golden one (``pipeline.span_equality``), plus doc ids the output
    holds more than once or that are not in the input. ``spans`` is the
    output as the program reads it back (default: the parquet at
    ``spans_path``)."""
    from pyspark.sql import functions as F

    from unipdf_spark import pipeline

    if spans is None:
        spans = spark.read.parquet(spans_path)
    eq = pipeline.span_equality(spark.read.parquet(docs_path), spans)
    bad = {r["doc_id"] for r in eq.filter(
        F.col("match").isNull() | ~F.col("match")).select("doc_id").collect()}
    want = set(_column(docs_path, "doc_id"))
    got = Counter(_column(spans_path, "doc_id"))
    bad |= {d for d, n in got.items() if n > 1 or d not in want}
    return sorted(bad)


def _dir_snapshot(path: str) -> dict[str, tuple[int, int]]:
    snap = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            snap[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return snap


def _lineage(path: str) -> tuple[list[float], dict[int, float]]:
    """Per-doc worker times and per-partition busy time of a written
    extraction output (its ``elapsed_ms`` and ``partition_id`` columns)."""
    t = pq.read_table(path, columns=["elapsed_ms", "partition_id"])
    per_doc = [float(v) for v in t.column("elapsed_ms").to_pylist()]
    busy: dict[int, float] = {}
    for pid, ms in zip(t.column("partition_id").to_pylist(), per_doc):
        busy[pid] = busy.get(pid, 0.0) + ms
    return per_doc, busy


def checkpoint_metrics(spark, tmp: str, cores: int, sample: list[dict],
                       failures: Failures) -> tuple[float, float, int, int]:
    """Checkpoint layer over the trace sample: ``run_with_checkpoint``
    into a fresh directory, a second call that must resume as a no-op, and
    span equality of ``read_checkpointed``. Returns (run s, resume s,
    files, bytes) of the checkpoint directory."""
    from unipdf_spark import pipeline

    docs = write_docs(sample, os.path.join(tmp, "sample_docs"), cores)
    out = os.path.join(tmp, "sample_ckpt")

    def checkpoint() -> float:
        t0 = _now()
        pipeline.run_with_checkpoint(
            spark.read.parquet(docs), out, buckets=CHECKPOINT_BUCKETS,
            max_buckets_per_pass=CHECKPOINT_BUCKETS_PER_PASS)
        return _now() - t0

    run_s = checkpoint()
    before = _dir_snapshot(out)
    resume_s = checkpoint()
    if _dir_snapshot(out) != before:
        failures.run.append("checkpoint resume rewrote its output")
    failures.add(len(sample), span_failures(
        spark, docs, os.path.join(out, "spans"),
        pipeline.read_checkpointed(spark, out)))
    return run_s, resume_s, len(before), sum(s for s, _ in before.values())


class PdfFixtureMix:
    """Seeded default-mix fixture PDFs → ``run_extraction`` → spans parquet.
    The cold job's table is doc ids 0 .. N-1, whose first 41 docs cover
    every fixture class; each warm table is the next N ids."""

    name = "pdf_fixture_mix"
    docs_per_job = 2500
    warm_tables = 6
    has_dedup = False
    lineage_group: str | None = None  # None: the last warm job

    def prepare(self, tmp: str, seed: int, cores: int) -> None:
        self.tmp, self.seed, self.cores = tmp, seed, cores
        n = self.docs_per_job
        self.rows = inputs.fixture_rows(0, n * (1 + self.warm_tables), seed,
                                        cores)
        self.tables = [
            write_docs(self.rows[k * n:(k + 1) * n],
                       os.path.join(tmp, f"docs-{k}"), cores)
            for k in range(1 + self.warm_tables)]
        self.n_docs = n
        self.outputs: dict[str, tuple[str, str]] = {}

    def _table(self, tag: str) -> str:
        if tag == "cold":
            return self.tables[0]
        return self.tables[1 + int(tag.split("-")[1]) % self.warm_tables]

    def job(self, spark, tag: str) -> tuple[float, int]:
        from unipdf_spark import pipeline

        docs = self._table(tag)
        out = os.path.join(self.tmp, f"spans-{tag}")
        t0 = _now()
        pipeline.run_extraction(spark.read.parquet(docs)).write.parquet(out)
        dt = _now() - t0
        # keep the cold output and the latest warm one for the gate
        last = self.outputs.get("warm")
        if last:
            shutil.rmtree(last[1], ignore_errors=True)
        self.outputs["cold" if tag == "cold" else "warm"] = (docs, out)
        return dt, self.n_docs

    def verify(self, spark, failures: Failures) -> None:
        n_parts = spark.read.parquet(self.tables[0]).rdd.getNumPartitions()
        if n_parts % self.cores:
            failures.run.append(
                f"input scan has {n_parts} partitions on {self.cores} cores")
        for docs, out in self.outputs.values():
            failures.add(self.n_docs, span_failures(spark, docs, out))

    def lineage(self, spark) -> tuple[list[float], dict[int, float]]:
        return _lineage(self.outputs["warm"][1])

    def engine_sample(self) -> tuple[list[dict], list[bytes], float]:
        """(sample rows with goldens, warm-up PDFs, seconds to render the
        sample again in this process), drawn from the warm tables."""
        rng = random.Random(self.seed)
        ids = rng.sample(range(self.n_docs, len(self.rows)),
                         TRACE_DOCS + TRACE_WARM_DOCS)
        t0 = _now()
        sample = [inputs.fixture_row(i, self.seed) for i in ids[:TRACE_DOCS]]
        render_s = _now() - t0
        warm = [self.rows[i]["pdf_bytes"] for i in ids[TRACE_DOCS:]]
        return sample, warm, render_s


DEDUP_COLS = ("doc_id", "canonical_doc_id", "group_size", "n_tokens",
              "n_candidates")


class TextDedup:
    """The registered ``extracted_text_dedup`` query over seeded
    ``documents`` tables, each checked against the DuckDB oracle."""

    name = "text_dedup"
    docs_per_table = 600
    warm_tables = 4
    has_dedup = True
    lineage_group = "lineage"

    def prepare(self, tmp: str, seed: int, cores: int) -> None:
        import duckdb

        from unipdf_spark import operators

        self.tmp, self.seed, self.cores = tmp, seed, cores
        n = self.docs_per_table
        self.docs = []
        self.sf_dirs = []
        for k in range(1 + self.warm_tables):
            rows = inputs.documents_rows(n, seed, table=k)
            sf_dir = os.path.join(tmp, f"sf-{k}")
            inputs.write_table(rows, inputs.DOCUMENTS_SCHEMA,
                               os.path.join(sf_dir, "documents.parquet"))
            self.docs.append(rows)
            self.sf_dirs.append(sf_dir)
        sql = operators.all_oracles()["extracted_text_dedup"]
        self.oracles: list[dict[int, tuple]] = []
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {cores}")
            con.execute(f"SET temp_directory = '{tmp}/duckdb'")
            for sf_dir in self.sf_dirs:
                con.execute(
                    "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
                self.oracles.append({row[0]: tuple(int(v) for v in row)
                                     for row in con.execute(sql).fetchall()})
        finally:
            con.close()
        self.results: list[tuple[int, dict[int, tuple], int]] = []

    def _table(self, tag: str) -> int:
        if tag == "cold":
            return 0
        return 1 + int(tag.split("-")[1]) % self.warm_tables

    def job(self, spark, tag: str) -> tuple[float, int]:
        from unipdf_spark import operators

        query = operators.all_queries()["extracted_text_dedup"]
        table = self._table(tag)
        t0 = _now()
        rows = query(spark, self.sf_dirs[table]).collect()
        spark.catalog.clearCache()
        dt = _now() - t0
        got = {r["doc_id"]: tuple(int(r[c]) for c in DEDUP_COLS) for r in rows}
        self.results.append((table, got, len(rows)))
        return dt, len(self.oracles[table])

    def verify(self, spark, failures: Failures) -> None:
        pairs: dict[int, set[int]] = {}
        for table, got, n_rows in self.results:
            oracle = self.oracles[table]
            if n_rows != len(got):
                failures.run.append(f"{n_rows - len(got)} duplicate doc rows")
            # row-by-row equality: implies the oracle's value-hash equality
            bad = sorted(str(d) for d in set(got) | set(oracle)
                         if got.get(d) != oracle.get(d))
            failures.add(len(oracle), bad)
            pairs.setdefault(table, set()).add(self.candidate_pairs(got))
        for table, counts in pairs.items():
            if len(counts) != 1:
                failures.run.append(
                    f"table {table}: LSH candidate pairs vary: {counts}")

    @staticmethod
    def candidate_pairs(got: dict[int, tuple]) -> int:
        return sum(r[4] for r in got.values()) // 2

    def dedup_counts(self) -> tuple[int, int]:
        _, last, _ = self.results[-1]
        groups = {r[1] for r in last.values() if r[2] > 1}
        return len(groups), self.candidate_pairs(last)

    def lineage(self, spark):
        """The query's render→extract stage over all tables of the run, run
        on its own: its per-doc times are not in the query output."""
        from functools import reduce

        from pyspark.sql import DataFrame, functions as F

        from unipdf_spark.operators import extracted

        corpus = reduce(DataFrame.unionByName,
                        [extracted._corpus(spark, d) for d in self.sf_dirs])
        named = corpus.select(
            F.concat(F.lit("doc_"),
                     F.lpad(F.col("doc_id").cast("string"), 8, "0")
                     ).alias("doc_id"),
            "text")
        out = os.path.join(self.tmp, "rex")
        spark.sparkContext.setJobGroup("lineage", "render-extract lineage")
        extracted.render_extract_parts(named).write.parquet(out)
        return _lineage(out)

    def engine_sample(self):
        """Sample of the cold table's corpus (clones included), rendered
        in this process; the warm-up docs come from the first warm table."""
        from unipdf_spark.fixtures.gen import make_text_doc
        from unipdf_spark.operators.extracted import CLONE_OFFSET

        def corpus(rows):
            texts = [(r["doc_id"], r["text"]) for r in rows]
            texts += [(d + CLONE_OFFSET, t) for d, t in texts if d % 7 == 0]
            return [(f"doc_{d:08d}", t) for d, t in texts]

        rng = random.Random(self.seed)
        picks = rng.sample(corpus(self.docs[0]), TRACE_DOCS)
        t0 = _now()
        sample = []
        for doc_id, text in picks:
            golden, pdf = make_text_doc(doc_id, text)
            sample.append({
                "doc_id": doc_id, "pdf_bytes": pdf, "n_spans": len(golden),
                "fixture_class": "external_text",
                "golden_spans": inputs._golden_tuples(golden)})
        render_s = _now() - t0
        warm = [make_text_doc(d, t)[1] for d, t in
                rng.sample(corpus(self.docs[1]), TRACE_WARM_DOCS)]
        return sample, warm, render_s


WORKLOADS = {w.name: w for w in (PdfFixtureMix, TextDedup)}
