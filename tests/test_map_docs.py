"""The one Arrow worker shape: ``pipeline.map_docs``'s batch function fed
plain pandas frames (no Spark session), plus a structural guard that no
per-doc batch loop is written by hand outside it."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd

from unipdf_spark.pipeline import ddl_columns, doc_worker, extract_doc
from unipdf_spark.schema import SPANS_OUT_DDL

REPO = Path(__file__).resolve().parent.parent


def _run(per_doc_fn, ddl, frames):
    return list(doc_worker(per_doc_fn, ddl)(iter(frames)))


def test_ddl_columns_nested_types():
    assert ddl_columns(SPANS_OUT_DDL) == [
        "doc_id", "spans", "n_chars", "n_misses", "partition_id",
        "elapsed_ms", "error"]
    assert ddl_columns(
        "a map<string,array<struct<x:int,y:decimal(10,2)>>>, b string"
    ) == ["a", "b"]


def test_zero_and_many_rows_per_doc():
    ddl = "doc_id string, parts array<struct<kind:string,n:int>>, k int"

    def fan_out(doc_id, n):
        return [(doc_id, [("text", i)], i) for i in range(n)]

    (out,) = _run(fan_out, ddl, [pd.DataFrame(
        {"doc_id": ["a", "b", "c"], "n": [0, 3, 1]})])
    assert list(out.columns) == ["doc_id", "parts", "k"]
    assert list(out["doc_id"]) == ["b", "b", "b", "c"]
    assert list(out["k"]) == [0, 1, 2, 0]
    assert out["parts"][1] == [("text", 1)]


def test_empty_batch_keeps_ddl_columns():
    (out,) = _run(extract_doc, SPANS_OUT_DDL, [pd.DataFrame(
        {"doc_id": pd.Series([], dtype=object),
         "pdf_bytes": pd.Series([], dtype=object)})])
    assert out.empty
    assert list(out.columns) == ddl_columns(SPANS_OUT_DDL)


def test_lineage_columns_filled_at_their_ddl_positions():
    ddl = "doc_id string, partition_id int, n int, elapsed_ms double"
    (out,) = _run(lambda doc_id: [(doc_id, len(doc_id))], ddl,
                  [pd.DataFrame({"doc_id": ["x", "yy"]})])
    assert list(out.columns) == ["doc_id", "partition_id", "n", "elapsed_ms"]
    assert list(out["partition_id"]) == [-1, -1]  # outside a Spark task
    assert list(out["n"]) == [1, 2]
    assert (out["elapsed_ms"] >= 0).all()


def test_elapsed_ms_only_where_the_ddl_names_it():
    ddl = "doc_id string, n int"
    (out,) = _run(lambda doc_id: [(doc_id, 7)], ddl,
                  [pd.DataFrame({"doc_id": ["x"]})])
    assert list(out.columns) == ["doc_id", "n"]


def test_worker_carries_the_per_doc_name():
    def split_batches(doc_id):
        return []

    assert doc_worker(split_batches, "doc_id string").__name__ == \
        "split_batches"


# Every `.mapInPandas(` outside map_docs is one of these: a column-vectorized
# batch transform (dedup.py) or the batch-level MinHash composition.
_ALLOWED_WORKERS = {"_sig_worker", "_rex_sig_worker"}
_ALLOWED_FILES = {"unipdf_spark/operators/dedup.py"}


def _map_in_pandas_calls(path: Path):
    """(enclosing function, first argument source) per mapInPandas call."""
    tree = ast.parse(path.read_text())
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "mapInPandas"):
                arg = ast.unparse(child.args[0]) if child.args else ""
                out.append((fn, arg))
            walk(child, name)

    walk(tree, None)
    return out


def test_every_map_in_pandas_goes_through_map_docs():
    files = [*sorted((REPO / "unipdf_spark").rglob("*.py")),
             REPO / "__spark_entry__.py"]
    stray = []
    n_sites = 0
    for path in files:
        rel = path.relative_to(REPO).as_posix()
        for fn, arg in _map_in_pandas_calls(path):
            n_sites += 1
            if rel in _ALLOWED_FILES or arg in _ALLOWED_WORKERS:
                continue
            if rel == "unipdf_spark/pipeline.py" and fn == "map_docs":
                continue
            stray.append(f"{rel}:{fn}:{arg}")
    assert n_sites > 1  # the scan sees the call sites at all
    assert not stray, stray
