"""Seeded input tables for the benchmark workloads.

Everything here runs before any timing starts and without Spark: the
program under test only ever sees the parquet tables written here.

- ``fixture_rows``: the rows ``pipeline.gen_docs_pdf(mix="default")``
  yields for the same seed (``gen.make_doc`` over ``gen._class_for``),
  rendered by a fork pool of ``nproc`` processes (before Spark starts, and
  without the resource-tracker process a spawn pool leaves behind). The
  first 41 docs cover every fixture class once.
- ``documents_rows``: a ``documents`` table with the schema, 31-word
  vocabulary and 10-100-word length distribution of the sf0.1 test table;
  the ``extracted_text_dedup`` query plants its own clones on top. Table
  ``k`` spells its vocabulary with every letter rotated by ``7k``, so the
  tables of one run share no word: a later table is no replay of an
  earlier one.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
DOCS_PDF_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("pdf_bytes", pa.binary()),
    ("n_spans", pa.int32()), ("fixture_class", pa.string()),
    ("golden_spans", SPAN_TYPE),
])
DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _golden_tuples(spans: list[dict]) -> list[dict]:
    return [{"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in spans]


def fixture_row(i: int, seed: int) -> dict:
    """One docs_pdf row, identical to ``gen_docs_pdf``'s row for doc ``i``."""
    from unipdf_spark.fixtures import gen

    doc_id = f"doc_{i:08d}"
    cls = gen._class_for(i, gen.DEFAULT_MIX)
    golden, pdf_bytes = gen.make_doc(doc_id, cls, seed)
    return {"doc_id": doc_id, "pdf_bytes": pdf_bytes, "n_spans": len(golden),
            "fixture_class": cls, "golden_spans": _golden_tuples(golden)}


def _fixture_chunk(args: tuple[int, int, int]) -> list[dict]:
    lo, hi, seed = args
    return [fixture_row(i, seed) for i in range(lo, hi)]


def fixture_rows(lo: int, hi: int, seed: int, workers: int) -> list[dict]:
    """Rows for doc ids ``lo`` .. ``hi - 1``."""
    step = 64
    chunks = [(a, min(a + step, hi), seed) for a in range(lo, hi, step)]
    ctx = mp.get_context("fork")
    with ProcessPoolExecutor(workers, mp_context=ctx) as ex:
        return [row for part in ex.map(_fixture_chunk, chunks) for row in part]


def vocabulary(table: int) -> list[str]:
    k = 7 * table
    return ["".join(chr((ord(c) - 97 + k) % 26 + 97) for c in w)
            for w in VOCAB]


def documents_rows(n_docs: int, seed: int, table: int = 0) -> list[dict]:
    """Table ``table`` of a run: doc ids ``table * n_docs`` onwards."""
    rng = random.Random(f"{seed}/{table}")
    vocab = vocabulary(table)
    langs = [name for name, _ in LANGS]
    weights = [w for _, w in LANGS]
    rows = []
    for i in range(table * n_docs, (table + 1) * n_docs):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 100)))
        rows.append({"doc_id": i, "text": text,
                     "lang": rng.choices(langs, weights)[0],
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return rows


def write_table(rows: list[dict], schema: pa.Schema, path: str,
                n_files: int = 1) -> None:
    """Write ``rows`` as ``n_files`` equal parquet files under ``path``. A
    file well under Spark's open cost is read as one partition, so
    ``n_files`` sets the scan's partition count."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * per:(k + 1) * per]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(path, f"part-{k:05d}.parquet"))
