"""The one Arrow worker shape: ``pipeline.map_docs``'s batch function fed
plain pandas frames (no Spark session), a structural guard that the
package's one ``mapInPandas`` call is ``map_docs``'s and that every other
Python worker calls ``prepare_worker``, a ``local[1]`` run that shows reused
workers no longer re-read their zip directories and freeze their heap
once, and ``local[1]`` runs that show a session's Python workers reach the
JVM over Unix domain sockets in a short private directory."""

from __future__ import annotations

import ast
import functools
import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from unipdf_spark.pipeline import (SOCKET_DIR_MAX, ddl_columns, doc_worker,
                                   extract_doc)
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


def _prepares_worker(fn: ast.FunctionDef, top, seen=()) -> bool:
    """``fn`` calls ``prepare_worker``, itself or through a
    top-level function of its module."""
    called = {c.func.id for c in ast.walk(fn)
              if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)}
    return "prepare_worker" in called or any(
        _prepares_worker(top[n], top, (*seen, n))
        for n in called if n in top and n not in seen)


def _is_pandas_udf(decorator) -> bool:
    d = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (d.id if isinstance(d, ast.Name) else getattr(d, "attr", "")) \
        == "pandas_udf"


def _python_workers(path: Path):
    """The Python functions Spark runs, per module: ``("mapInPandas",
    enclosing function)`` per ``.mapInPandas(`` call, and ``(name,
    whether it calls prepare_worker)`` per ``@pandas_udf`` function and
    per first argument of ``.applyInPandas(``/``.applyInPandasWithState(``.
    That argument is the def of that name nested in the enclosing
    function, else the module-level one; any other argument is reported
    as not preparing."""
    tree = ast.parse(path.read_text())
    top = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    sites, workers = [], []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child
                if any(map(_is_pandas_udf, child.decorator_list)):
                    workers.append((child.name,
                                    _prepares_worker(child, top)))
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)):
                attr = child.func.attr
                if attr == "mapInPandas":
                    sites.append(fn.name if fn else None)
                elif attr in ("applyInPandas", "applyInPandasWithState"):
                    arg = ast.unparse(child.args[0]) if child.args else ""
                    nested = {n.name: n for n in ast.walk(fn or tree)
                              if isinstance(n, ast.FunctionDef)}
                    worker = nested.get(arg) or top.get(arg)
                    workers.append((arg, worker is not None
                                    and _prepares_worker(worker, top)))
            walk(child, inner)

    walk(tree, None)
    return sites, workers


def _package_files():
    return [*sorted((REPO / "unipdf_spark").rglob("*.py")),
            REPO / "__spark_entry__.py"]


def test_every_map_in_pandas_goes_through_map_docs():
    sites = [f"{path.relative_to(REPO).as_posix()}:{fn}"
             for path in _package_files()
             for fn in _python_workers(path)[0]]
    assert sites == ["unipdf_spark/pipeline.py:map_docs"], sites


def test_every_other_python_worker_prepares():
    """``@pandas_udf`` bodies and ``applyInPandas``/
    ``applyInPandasWithState`` functions run outside ``doc_worker``, so
    each calls ``prepare_worker`` itself."""
    found = {f"{path.relative_to(REPO).as_posix()}:{name}": kept
             for path in _package_files()
             for name, kept in _python_workers(path)[1]}
    # the scan sees each kind of worker at all
    for seen in ("similarity.py:sig28", "similarity.py:find_pairs",
                 "ops.py:_session_fn"):
        assert any(k.endswith(seen) for k in found), found
    assert not [k for k, kept in found.items() if not kept], found


# One local[1] session in its own process: six one-row partitions through
# map_docs, each task reporting its worker pid, the id of every archive's
# zipimport directory dict and the number of frozen gc objects. The dicts
# seen are kept alive in the worker so a freed dict's id cannot be reused by
# a later one.
_ZIP_PROBE = """
import gc, json, os, sys, zipimport
from pyspark.sql import SparkSession
from unipdf_spark.pipeline import map_docs

def probe(i):
    dirs = zipimport._zip_directory_cache
    sys.__dict__.setdefault("_zip_dirs_seen", []).extend(dirs.values())
    return [(i, os.getpid(), json.dumps({k: id(v) for k, v in dirs.items()}),
             gc.get_freeze_count())]

spark = (SparkSession.builder.master("local[1]").appName("zip-probe")
         .config("spark.ui.enabled", "false").getOrCreate())
df = spark.range(0, 6, numPartitions=6).selectExpr("cast(id as int) i")
rows = map_docs(df, probe, "i int, pid int, dirs string, frozen int").collect()
print(json.dumps(sorted((r.i, r.pid, json.loads(r.dirs), r.frozen)
                        for r in rows)))
spark.stop()
"""


@functools.cache
def _probe_tasks() -> dict[int, list[tuple[dict, int]]]:
    """Worker pid → (zip directory ids, frozen count) per task, in task
    order."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(REPO), *filter(None, [os.environ.get("PYTHONPATH")])])}
    p = subprocess.run([sys.executable, "-c", _ZIP_PROBE], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    tasks = json.loads(p.stdout.splitlines()[-1])
    assert [i for i, *_ in tasks] == list(range(6))
    by_pid: dict[int, list[tuple[dict, int]]] = {}
    for _, pid, dirs, frozen in tasks:
        by_pid.setdefault(pid, []).append((dirs, frozen))
    assert max(map(len, by_pid.values())) >= 3  # workers are reused
    return by_pid


def test_reused_worker_keeps_zip_directories():
    by_pid = _probe_tasks()
    if not any(dirs for seen in by_pid.values() for dirs, _ in seen):
        pytest.skip("the Python workers import from no zip")
    for seen in by_pid.values():
        dirs = [d for d, _ in seen]
        # from a worker's second task on, no archive's directory is re-read
        assert all(d == dirs[1] for d in dirs[2:]), dirs


def test_reused_worker_freezes_its_heap_once():
    for seen in _probe_tasks().values():
        frozen = [f for _, f in seen]
        # frozen from the first task on, so the daemon's gc.collect() after
        # each task skips the import-time heap; frozen once, so the count
        # never grows (freed frozen objects only shrink it)
        assert frozen[0] > 1000, frozen
        assert all(b <= a for a, b in zip(frozen, frozen[1:])), frozen


# One local[1] session from get_spark in its own process, with TMPDIR and
# java.io.tmpdir too deep for a Unix socket path: four map_docs tasks and a
# collect() over the session's Unix domain sockets.
_UDS_PROBE = """
import json, os, stat
from unipdf_spark.pipeline import get_spark, map_docs

spark = get_spark("uds-probe", cores=1)
conf = spark.sparkContext.getConf()
df = spark.range(0, 4, numPartitions=4).selectExpr("cast(id as int) i")
rows = map_docs(df, lambda i: [(i, os.getpid())], "i int, pid int").collect()
d = conf.get("spark.python.unix.domain.socket.dir", "")
print(json.dumps({
    "enabled": conf.get("spark.python.unix.domain.socket.enabled", "false"),
    "dir": d, "mode": stat.S_IMODE(os.stat(d).st_mode) if d else None,
    "rows": sorted(r.i for r in rows)}))
spark.stop()
"""


def test_python_workers_use_unix_sockets_in_a_short_private_dir(tmp_path):
    deep = tmp_path / ("d" * 40) / ("e" * 40)
    deep.mkdir(parents=True)
    assert len(str(deep)) > SOCKET_DIR_MAX
    env = {**os.environ, "TMPDIR": str(deep), "PYTHONPATH": os.pathsep.join(
        [str(REPO), *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_SUBMIT_ARGS": f"--conf spark.ui.enabled=false "
        f"--driver-java-options -Djava.io.tmpdir={deep} pyspark-shell"}
    p = subprocess.run([sys.executable, "-c", _UDS_PROBE], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.splitlines()[-1])
    assert out["enabled"] == "true"
    assert out["rows"] == [0, 1, 2, 3]
    assert out["mode"] == 0o700
    assert len(out["dir"]) <= SOCKET_DIR_MAX
    assert not os.path.exists(out["dir"])  # removed at interpreter exit


def test_socket_dir_lies_under_tmpdir_when_paths_fit():
    """Under TMPDIR while the directory's path is at most SOCKET_DIR_MAX
    (Spark's bound) characters long, else under /tmp."""
    import tempfile

    name = len("/spark-uds-XXXXXXXX")
    with tempfile.TemporaryDirectory(dir="/tmp") as short:
        for dir_len, under_tmpdir in [(len(short) + name, True),
                                      (SOCKET_DIR_MAX, True),
                                      (SOCKET_DIR_MAX + 3, False)]:
            tmpdir = short
            if dir_len > len(short) + name:
                tmpdir = os.path.join(short, "t" * (
                    dir_len - name - len(short) - 1))
                os.makedirs(tmpdir)
            p = subprocess.run(
                [sys.executable, "-c", "from unipdf_spark.pipeline import "
                 "socket_dir; print(socket_dir())"],
                cwd=REPO, env={**os.environ, "TMPDIR": tmpdir},
                capture_output=True, text=True, timeout=60)
            assert p.returncode == 0, p.stderr[-2000:]
            d = p.stdout.strip()
            assert os.path.dirname(d) == (tmpdir if under_tmpdir else "/tmp")
            assert len(d) <= SOCKET_DIR_MAX
            assert not os.path.exists(d)
