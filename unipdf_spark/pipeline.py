"""Spark pipeline: (doc_id, pdf_bytes) → spans_out, Arrow-batched end to end.

Design (SURVEY §3.1 "Spark lifecycle equivalent"):

    scan → size-aware salted repartition → map_docs(extract_doc)
         → spans_out (+ per-partition lineage/metrics) → sink / verification

All tokenize/classify work happens inside Arrow-batched Python workers — never
per-row Python in the driver plan. Every per-row Python pass in the package
(render, extract, tables, media decode, HTML strip, corpus ingest, MinHash,
SimHash, pair Jaccard) has one worker shape, :func:`map_docs`: a per-row
function over one input row's values, with the batch loop, output columns and
lineage columns (``partition_id``, ``elapsed_ms``) owned by the helper. The
only cross-document relational ops are the explicit salted repartition and the
verification join. Checkpoint
bookkeeping is a JSON commit log, read and written with the stdlib, without a
Spark job.

Skew: document size is heavy-tailed (one 5,000-page PDF ≫ median). The
opt-in salted repartition spreads docs with a full-cardinality
``xxhash64(doc_id)`` salt — partitions hold near-equal doc counts, so
heavy docs amortize (48k drill: straggler ratio 1.4, bar < 2); salting
is opt-in because shuffling payload bytes costs ~40% throughput on
already-balanced parquet inputs (SURVEY §4 "Custom needed").
"""

from __future__ import annotations

import atexit
import functools
import gc
import json
import os
import shutil
import tempfile
import time
import zipimport
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import schema

# Arrow batch sizing: docs are fat rows, but too-small batches pay per-batch
# serialization overhead. r11 re-measured at 50k-doc extraction scale:
# 256 → 7.54 s, 1024 → 6.38 s, 64 → 7.53 s same-session best-of-2 (and
# 512/1024/2048 statistically indistinguishable across interleaved runs on
# this host, all ahead of 256). 1024 keeps batches ≤ ~10 MB at 2-10 KB/doc
# and a 65 KB part-row ceiling (~66 MB worst case on the oversized-doc
# split path) — bounded worker memory at any corpus scale.
ARROW_BATCH_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.adaptive.enabled": "true",
}

# Spark rejects a ``spark.python.unix.domain.socket.dir`` longer than 61
# characters, which keeps its socket paths ``<dir>/.<uuid4>.sock`` (43 more
# bytes) inside Linux's 107-byte ``sun_path``.
SOCKET_DIR_MAX = 61


@functools.cache
def socket_dir() -> str:
    """A private (0700) directory for this process's Spark sessions' Unix
    domain sockets, made once and removed at interpreter exit. It lies
    under ``tempfile.gettempdir()`` when its path there is at most
    SOCKET_DIR_MAX characters long, else under ``/tmp``."""
    base = tempfile.gettempdir()
    if len(os.path.join(base, "spark-uds-XXXXXXXX")) > SOCKET_DIR_MAX:
        base = "/tmp"
    path = tempfile.mkdtemp(prefix="spark-uds-", dir=base)
    atexit.register(shutil.rmtree, path, True)
    return path


def get_spark(app: str = "unipdf-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers, collect() and accumulators reach the JVM over Unix
        # domain sockets, not loopback TCP (a Python task's first Arrow batch
        # no longer waits ~14 ms); with no auth secret, the short 0700 dir is
        # what keeps other users out.
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
    )
    for k, v in ARROW_BATCH_CONF.items():
        b = b.config(k, v)
    return b.getOrCreate()


# --- the one Arrow worker shape ----------------------------------------------


def ddl_columns(ddl: str) -> list[str]:
    """Top-level column names of a Spark DDL string. Commas nested inside
    ``<…>`` or ``(…)`` separate struct fields or type arguments, not
    columns."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(ddl[start:i].split()[0])
            start = i + 1
    return names


def _keep_directory(self) -> None:
    """Stand-in for ``zipimporter.invalidate_caches``: keep the archive's
    directory as read."""


def prepare_worker() -> None:
    """At the start of the first Spark task a Python worker process runs,
    cut two fixed costs of every later task on that reused worker;
    elsewhere (the driver, tests calling :func:`doc_worker` directly) do
    nothing. :func:`doc_worker` calls this first, and so does every Python
    function Spark runs outside :func:`map_docs`: ``@pandas_udf`` bodies and
    the functions given to ``applyInPandas``/``applyInPandasWithState``.

    - Make ``zipimporter.invalidate_caches`` a no-op. PySpark's
      ``setup_spark_files`` calls ``importlib.invalidate_caches()`` at the
      start of every task, and on CPython 3.11/3.12 that makes each
      ``zipimporter`` on the worker's ``sys.path`` (``pyspark.zip``, the
      py4j zip, ...) re-read its whole zip directory: ~200 ms of executor
      run time per task on a 4-vCPU host (64 empty :func:`map_docs` tasks
      on ``local[1]``). Safe because no zip on the path changes during a
      job: a file added later (``addPyFile``, ``--py-files``) is a new
      ``sys.path`` entry with a fresh importer.
    - ``gc.freeze()`` the worker's heap. PySpark's daemon runs a full
      ``gc.collect()`` after every task of a reused worker, and the next
      task waits for it: with pyspark, pandas and pyarrow imported, ~74k
      tracked objects take ~25-40 ms to scan; frozen, the collection scans
      only what the worker made since (~0.5 ms). What is frozen is the
      import-time heap plus the first task's set-up objects, which a
      collection can then never reclaim; it is frozen once, so that cost
      is bounded per process."""
    from pyspark import TaskContext

    # the zip hook, once set, marks this worker process as prepared
    if TaskContext.get() is not None and \
            zipimport.zipimporter.invalidate_caches is not _keep_directory:
        zipimport.zipimporter.invalidate_caches = _keep_directory
        gc.freeze()


def doc_worker(per_doc_fn, ddl: str):
    """The Arrow batch function :func:`map_docs` runs: calls
    ``per_doc_fn(*row)`` for every input row and stacks the rows it
    returns into ``ddl``-shaped frames. ``per_doc_fn`` returns the
    doc's output rows (a list, possibly empty) in DDL column order
    without ``partition_id`` and ``elapsed_ms``; where the DDL names
    those columns, the worker fills in the task's partition id (-1
    outside a task) and the wall ms ``per_doc_fn`` took for that doc.
    The function carries ``per_doc_fn``'s name, which is the UDF name
    Spark prints in plans."""
    cols = ddl_columns(ddl)
    doc_cols = [c for c in cols if c not in ("partition_id", "elapsed_ms")]
    tagged = "partition_id" in cols
    timed = "elapsed_ms" in cols

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        prepare_worker()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        for b in batches:
            rows: list = []
            elapsed: list[float] = []
            for values in zip(*(b[c] for c in b.columns)):
                t0 = time.perf_counter()
                out = per_doc_fn(*values)
                if timed:
                    ms = (time.perf_counter() - t0) * 1000.0
                    elapsed.extend([ms] * len(out))
                rows.extend(out)
            frame = pd.DataFrame(rows, columns=doc_cols)
            if tagged:
                frame["partition_id"] = pid
            if timed:
                frame["elapsed_ms"] = elapsed
            yield frame[cols]

    batch_fn.__name__ = per_doc_fn.__name__
    return batch_fn


def map_docs(df: DataFrame, per_doc_fn, ddl: str) -> DataFrame:
    """``df`` → ``ddl`` rows, one ``per_doc_fn`` call per input row inside
    an Arrow-batched ``mapInPandas`` worker (:func:`doc_worker`); ``df``'s
    columns, in order, are ``per_doc_fn``'s arguments. Every per-row
    Python pass goes through here, and this is the package's one
    ``mapInPandas`` call; ``per_doc_fn`` keeps its own per-row error
    handling."""
    return df.mapInPandas(doc_worker(per_doc_fn, ddl), schema=ddl)


# --- distributed fixture generation ------------------------------------------

DOCS_PDF_GOLDEN_DDL = (
    schema.DOCS_PDF_DDL
    + ", golden_spans array<struct<kind:string,text:string,"
      "media_ref:string,offset:int>>"
)


def _span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _render_docs(df: DataFrame, make_doc) -> DataFrame:
    """The render stage of every docs_pdf source: ``make_doc(*row)``
    returns ``(doc_id, fixture_class, golden_spans, pdf_bytes)`` for one
    input row, rendered on the executors; the output carries the golden
    spans that :func:`span_equality` checks extraction against."""

    def render_doc(*row):
        doc_id, cls, golden, pdf_bytes = make_doc(*row)
        return [(doc_id, pdf_bytes, len(golden), cls, _span_tuples(golden))]

    return map_docs(df, render_doc, DOCS_PDF_GOLDEN_DDL)


def gen_docs_pdf(spark: SparkSession, n_docs: int, seed: int = 42,
                 mix="default", partitions: int | None = None) -> DataFrame:
    """Distributed fixture corpus: spark.range → render.
    Generation is a pure function of (seed, doc_id) so any executor can
    (re)produce any doc — no driver-side rendering, no broadcast payloads."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def make_fixture(i):
        from .fixtures import gen

        if isinstance(mix, list):  # explicit [(class, weight), ...]
            use_mix = mix
        else:
            use_mix = gen.BENCH_MIX if mix == "bench" else gen.DEFAULT_MIX
        doc_id = f"doc_{i:08d}"
        cls = gen._class_for(i, use_mix)
        return (doc_id, cls, *gen.make_doc(doc_id, cls, seed))

    return _render_docs(spark.range(0, n_docs, numPartitions=parts),
                        make_fixture)


def docs_pdf_from_documents(spark: SparkSession, sf_dir: str,
                            limit: int | None = None) -> DataFrame:
    """Render the TPC-H-ish `documents` table's text into PDFs (distributed),
    carrying golden spans — exercises the engine on external text."""
    docs = schema.read_sf(spark, sf_dir, "documents")
    if limit:
        docs = docs.limit(limit)
    docs = docs.select(
        F.concat(F.lit("doc_"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        "text",
    )

    def make_external(doc_id, text):
        from .fixtures import gen

        return (doc_id, "external_text",
                *gen.make_text_doc(doc_id, text or ""))

    return _render_docs(docs, make_external)


def docs_pdf_from_spans_table(docs: DataFrame) -> DataFrame:
    """AUTHORITATIVE input shape → rendered PDFs: takes docs(doc_id,
    spans array<struct<kind,text,media_ref,offset>>) per BASELINE.json
    input_hint and renders each row (distributed), carrying the normalized
    golden spans (text normalized to the renderable subset; media payloads
    derived from the opaque input refs — see fixtures.gen.make_spans_doc)."""

    def make_from_spans(doc_id, spans):
        from .fixtures.gen import make_spans_doc

        span_dicts = [
            {"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in spans
        ]
        return (doc_id, "spans_table", *make_spans_doc(doc_id, span_dicts))

    return _render_docs(docs.select("doc_id", "spans"), make_from_spans)


# --- extraction stage -----------------------------------------------------------


def salted_repartition(df: DataFrame, partitions: int,
                       bytes_col: str = "pdf_bytes") -> DataFrame:
    """Salted repartition for heavy-tailed inputs (SURVEY §4): full-
    cardinality per-doc salt so `repartition`'s hash spreads docs
    uniformly. (The r4 form hashed `xxhash64 % partitions` — only
    `partitions` distinct keys into `partitions` bins, the classic
    balls-into-bins collision: ~1/e of partitions empty and 2–3× doc
    count on the collided ones, measured as a 3× straggler ratio in the
    48k skew drill. A per-doc salt is both simpler and balanced.)"""
    return df.repartition(partitions, F.xxhash64(F.col("doc_id")))


def extract_doc(doc_id, pdf_bytes):
    """Per-doc extraction worker: pdf_bytes → one SPANS_OUT_DDL row. Pure
    Python inside Arrow batches; no Spark calls."""
    from .pdf.extract import extract_spans

    res = extract_spans(bytes(pdf_bytes))
    return [(doc_id, _span_tuples(res.spans), res.n_chars, res.n_misses,
             res.error)]


def run_extraction(docs_pdf: DataFrame, partitions: int | None = None,
                   salt: bool = False) -> DataFrame:
    """Extraction stage. ``salt=False`` by default: shuffling the PDF payload
    through an exchange costs ~40% throughput (measured: 2549 vs 4085 docs/s
    at local[32]); inputs read from parquet/Iceberg are already split-balanced
    by ``maxPartitionBytes``. Enable ``salt`` only for size-skewed inputs
    (heavy-tailed doc sizes), where the shuffle buys straggler elimination."""
    df = docs_pdf.select("doc_id", "pdf_bytes")
    if salt:
        spark = docs_pdf.sparkSession
        parts = partitions or spark.sparkContext.defaultParallelism
        df = salted_repartition(df, parts)
    elif partitions:
        # honor the explicit partition request without a payload shuffle
        # where possible: coalesce narrows (no exchange); growing the
        # partition count genuinely requires a repartition exchange
        cur = df.rdd.getNumPartitions()
        if partitions < cur:
            df = df.coalesce(partitions)
        elif partitions > cur:
            df = df.repartition(partitions)
    return map_docs(df, extract_doc, schema.SPANS_OUT_DDL)


TABLE_CELLS_DDL = "doc_id string, table_idx int, row int, col int, cell string"


def table_cells_doc(doc_id, pdf_bytes):
    """Per-doc worker: pdf_bytes → one row per (table, row, col) cell —
    the TextTable/TableCell structured API (extractor.go:35/:899) lifted to
    a relational shape."""
    from .pdf.extract import extract_tables

    return [(doc_id, ti, r, c, cell)
            for ti, t in enumerate(extract_tables(bytes(pdf_bytes)))
            for r, rowvals in enumerate(t["cells"])
            for c, cell in enumerate(rowvals)]


def run_table_extraction(docs_pdf: DataFrame) -> DataFrame:
    """Structured table cells for every detected table (map-only, same
    no-payload-shuffle policy as run_extraction)."""
    return map_docs(docs_pdf.select("doc_id", "pdf_bytes"), table_cells_doc,
                    TABLE_CELLS_DDL)


def partition_lineage(spans_out: DataFrame) -> DataFrame:
    """Per-partition lineage & metrics (north rule): doc counts, error counts,
    char volume, and latency percentiles per physical partition — built from
    the side-channel columns the extraction stage emits, aggregated with
    built-in aggs (SURVEY §4 'per-partition metrics')."""
    return (
        spans_out.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_errors"
            ),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_misses").alias("total_misses"),
            F.round(F.sum("elapsed_ms"), 1).alias("cpu_ms"),
            F.round(F.expr("percentile_approx(elapsed_ms, 0.5)"), 2).alias(
                "p50_ms"
            ),
            F.round(F.expr("percentile_approx(elapsed_ms, 0.99)"), 2).alias(
                "p99_ms"
            ),
            F.round(F.max("elapsed_ms"), 2).alias("max_ms"),
        )
        .orderBy("partition_id")
    )


# --- verification ---------------------------------------------------------------


def _span_seq_digest(col: str):
    """Canonical md5 digest of a span sequence's (kind, text, media_ref)
    projection. ``to_json`` over the fixed struct schema is injective —
    field order is schema-fixed, string values are JSON-escaped, and a
    null field is omitted (consistently on both sides), so two distinct
    sequences can never serialize alike; a null input array digests to
    null (preserving the missing-row → match NULL contract)."""
    return F.md5(F.to_json(F.transform(
        col,
        lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )))


def span_equality(docs_pdf: DataFrame, spans_out: DataFrame) -> DataFrame:
    """Per-doc span-sequence equality (kind, text, media_ref, order) — the
    north-rule invariant — as a DataFrame join (no driver-side compare).
    `offset` equality is asserted separately as a property test.

    The compare joins 128-bit per-doc digests, not the span payloads:
    both sides reduce map-side to (doc_id, md5(to_json(key_seq))), so the
    join exchange/broadcast carries ~48 bytes per doc instead of the full
    extracted text (guide §2.3 "shuffle keys and metadata instead of
    payloads" — at the 1M-doc soak the broadcast side drops from GB-scale
    span arrays to ~64 MB of digests). Semantics are unchanged: digest
    equality ≡ sequence equality (injective serialization, see
    :func:`_span_seq_digest`; the match column A/B against the direct
    struct-sequence compare is locked by a permanent test)."""
    g = docs_pdf.select(
        "doc_id", "fixture_class",
        _span_seq_digest("golden_spans").alias("golden_key"),
    )
    e = spans_out.select(
        "doc_id", "error", "n_misses",
        _span_seq_digest("spans").alias("got_key"),
    )
    return g.join(e, "doc_id", "left").select(
        "doc_id",
        "fixture_class",
        "error",
        "n_misses",
        (F.col("golden_key") == F.col("got_key")).alias("match"),
    )


# --- checkpoint / resume ---------------------------------------------------------


def _bucket_col(buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int")


def committed_buckets(out_dir: str, buckets: int | None = None) -> set[int]:
    """The buckets the ``_commits/`` log of a checkpoint directory commits,
    read with the stdlib (no Spark job). Only ``*.json`` files are
    commits; a temp file left by a crash during a commit is not. Raises
    ``ValueError`` on a commit that does not parse and, when ``buckets``
    is given, on a commit written by a run with another bucket count."""
    log = os.path.join(out_dir, "_commits")
    names = os.listdir(log) if os.path.isdir(log) else []
    done: set[int] = set()
    for name in sorted(n for n in names if n.endswith(".json")):
        path = os.path.join(log, name)
        try:
            with open(path) as f:
                commit = json.load(f)
            done.update(commit["buckets"])
            total = commit["total_buckets"]
        except (ValueError, KeyError, TypeError) as e:
            raise ValueError(f"unreadable checkpoint commit {path}") from e
        if buckets is not None and total != buckets:
            raise ValueError(
                f"checkpoint {out_dir} was written with {total} buckets; "
                f"resuming it with {buckets} would skip or repeat docs")
    return done


def _commit(out_dir: str, batch: list[int], buckets: int,
            elapsed_s: float) -> None:
    """Adds one chunk's commit to the log: written under a temp name,
    fsynced, ``os.replace``d into place, then the directory fsynced. The
    name is the chunk's first bucket, unique because no bucket is
    committed twice."""
    log = os.path.join(out_dir, "_commits")
    os.makedirs(log, exist_ok=True)
    name = f"{batch[0]:05d}.json"
    tmp = os.path.join(log, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump({"buckets": batch, "total_buckets": buckets,
                   "elapsed_s": elapsed_s, "finished_at": time.time()}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(log, name))
    fd = os.open(log, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def run_with_checkpoint(docs_pdf: DataFrame, out_dir: str, buckets: int = 16,
                        max_buckets_per_pass: int | None = None) -> None:
    """Checkpoint-resumable extraction (SURVEY §4 'checkpoint/resume'):
    docs are bucketed by xxhash64(doc_id); each chunk of buckets is
    extracted, written to ``out_dir/spans`` (``partitionBy("bucket")``,
    dynamic overwrite, so done buckets are never touched) and then
    committed by one JSON file in ``out_dir/_commits`` (:func:`_commit`).
    A restart skips the buckets the log commits (:func:`committed_buckets`,
    no Spark job), so a resume with nothing left launches no job at all.
    A bucket whose spans were written but whose commit was not is
    extracted again; the output is identical however often the job was
    interrupted, because bucket contents are deterministic. Resuming with
    a ``buckets`` count other than the log's raises.

    By default all pending buckets form one chunk, one extraction pass:
    a cold resume pays the upstream plan once, not once per bucket.
    ``max_buckets_per_pass`` bounds the chunk instead, looping until
    done: a crash then loses only the in-flight chunk, the knob a 100 TB
    run uses to trade re-derivation cost against blast radius (the
    kill-resume drill, bench/drill.py, exercises exactly this)."""
    done = committed_buckets(out_dir, buckets)
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return

    bucketed = docs_pdf.withColumn("bucket", _bucket_col(buckets))
    chunk = max_buckets_per_pass or len(pending)
    for i0 in range(0, len(pending), chunk):
        batch = pending[i0 : i0 + chunk]
        part = bucketed.filter(F.col("bucket").isin(batch))
        t0 = time.time()
        # re-derive the bucket from doc_id AFTER extraction (cheap
        # expression, no join/shuffle) — extraction stays map-only
        out = run_extraction(part.drop("bucket")).withColumn(
            "bucket", _bucket_col(buckets))
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"  # never touch done buckets
        ).partitionBy("bucket").parquet(os.path.join(out_dir, "spans"))
        _commit(out_dir, batch, buckets, time.time() - t0)


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The spans of the buckets the commit log commits: the same record
    decides what a resume skips and what readers see."""
    done = sorted(committed_buckets(out_dir))
    return (spark.read.schema(schema.SPANS_OUT_DDL + ", bucket int")
            .parquet(os.path.join(out_dir, "spans"))
            .filter(F.col("bucket").isin(done)))
