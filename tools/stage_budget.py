"""Spark stage budget of bench.py's 19 timed leaves, from the event log.

    python tools/stage_budget.py SF_DIR [LEAF ...] > BENCH/STAGE_BUDGET.md

Run from the repository root. Runs each leaf (bench.py's 16 headline
queries and its 3 pipeline leaves at 60/600/6000 docs by sf) twice, as job
groups ``<leaf>:cold`` and ``<leaf>:warm``, on bench.py's session with
``SPARK_GRAFT_CPUS`` cores (default nproc) and an uncompressed event log.
Each run writes to a noop sink, then ``clearCache()`` drops what it
persisted; the pipeline leaves' inputs are built once, untimed, by
``localCheckpoint``, which that keeps. ``build ms`` is the warm run's time
to build the DataFrame, before the write; ``driver ms`` is the warm wall
time outside every stage of the run (wall minus the union of its stages'
submission → completion spans): plan building, job submission and the
gaps between jobs. Exits nonzero on an unknown leaf or when a doc fails
span equality.
"""

from __future__ import annotations

import json
import os
import platform
import shlex
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark  # noqa: E402

from perfbench import session, stages  # noqa: E402
from unipdf_spark import pipeline  # noqa: E402

# bench.py's headline operator suite, in its order
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "top_customers_per_segment", "events_sessionize",
    "token_counts", "quality_scores", "doc_fingerprints", "dedup_exact",
    "minhash_lsh_pairs", "simhash_fingerprints", "ann_bruteforce_topk",
    "embedding_near_dup_pairs", "extracted_text_dedup", "html_main_content"]
LEAVES = ["fixture_generation", "extract_spans", "span_equality_join",
          *QUERIES]
HEADER = ("leaf", "cold s", "warm s", "build ms", "driver ms",
          "cold stages", "stages", "tasks",
          "py stages", "py tasks", "run ms", "py run ms", "cpu ms",
          "deser ms", "gc ms", "shuffle read B", "shuffle write B")


def leaf_frames(spark, sf_dir: str, cores: int, n_docs: int) -> dict:
    """Leaf name → a function building its DataFrame as bench.py does."""
    from unipdf_spark.operators import all_queries

    def gen(n=n_docs, parts=2 * cores):
        return pipeline.gen_docs_pdf(spark, n, mix="bench", partitions=parts)

    def extract():
        return pipeline.run_extraction(docs, partitions=2 * cores)

    gen(cores * 8, cores).count()  # bench.py's worker warm-up
    docs = gen().localCheckpoint()
    spans = extract().localCheckpoint()
    qs = all_queries()
    leaves = {q: (lambda q=q: qs[q](spark, sf_dir)) for q in QUERIES}
    return {**leaves, "fixture_generation": gen, "extract_spans": extract,
            "span_equality_join": lambda: pipeline.span_equality(docs, spans)}


def stage_spans(log_dir: str) -> dict[str, list[tuple[int, int]]]:
    """Job group → the (submission, completion) epoch ms of each of its
    stages that ran, attributed as :func:`stages.parse_events` does."""
    stage_group: dict[int, str] = {}
    spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for path in stages.event_log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    e = json.loads(line)
                    group = (e.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    if "Submission Time" in info and "Completion Time" in info:
                        spans[stage_group.get(info["Stage ID"], "")].append(
                            (info["Submission Time"], info["Completion Time"]))
    return spans


def covered_ms(spans: list[tuple[int, int]]) -> int:
    """Length of the union of ``spans``."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total, end = total + b - a, b
        elif b > end:
            total, end = total + b - end, b
    return total


def row(name: str, walls: dict, builds: dict, groups: dict, spans: dict
        ) -> str:
    cold, warm = (groups.get(f"{name}:{run}", stages.GroupStats())
                  for run in ("cold", "warm"))
    t, py = warm.totals(), [s for s in warm.stages if s.python and s.tasks]
    wall = walls[name, "warm"]
    counts = [1000 * builds[name, "warm"],
              1000 * wall - covered_ms(spans.get(f"{name}:warm", [])),
              cold.totals()["stages"], t["stages"], t["tasks"], len(py),
              sum(s.tasks for s in py), t["executor_run_ms"],
              warm.python_run_ms(), t["executor_cpu_ms"], t["deserialize_ms"],
              t["gc_ms"], t["shuffle_read_bytes"], t["shuffle_write_bytes"]]
    return "| " + " | ".join(
        [name, f"{walls[name, 'cold']:.3f}", f"{wall:.3f}"]
        + [f"{v:.0f}" for v in counts]) + " |"


def main(argv: list[str]) -> int:
    if not argv:
        sys.exit(__doc__)
    sf_dir, names = argv[0], argv[1:] or LEAVES
    for name in sorted(set(names) - set(LEAVES)):
        sys.exit(f"stage_budget: unknown leaf {name}")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                or len(os.sched_getaffinity(0)))
    n_docs = 60 if "0.001" in sf_dir else 600 if "0.01" in sf_dir else 6000
    session.become_subreaper()
    with tempfile.TemporaryDirectory(prefix="stage_budget-") as log_dir:
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false", "pyspark-shell"])
        spark = pipeline.get_spark("unipdf-stage-budget", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        walls, builds = {}, {}
        try:
            leaves = leaf_frames(spark, sf_dir, cores, n_docs)
            for name, run in ((n, r) for n in names for r in ("cold", "warm")):
                spark.sparkContext.setJobGroup(f"{name}:{run}", name)
                t0 = time.perf_counter()
                df = leaves[name]()
                builds[name, run] = time.perf_counter() - t0
                df.write.format("noop").mode("overwrite").save()
                walls[name, run] = time.perf_counter() - t0
                spark.catalog.clearCache()
            spark.sparkContext.setJobGroup("check", "span equality")
            n_match = leaves["span_equality_join"]().filter("match").count()
        finally:
            session.stop(spark)
            session.reap_descendants()
        groups = stages.parse_event_log(log_dir)
        spans = stage_spans(log_dir)
    commit = subprocess.check_output(["git", "-C", ROOT, "describe",
                                      "--always", "--dirty"], text=True)
    print(f"# Spark stage budget of bench.py's leaves\n\nCommit "
          f"`{commit.strip()}`, `local[{cores}]` on {os.cpu_count()} cores, "
          f"Python {platform.python_version()}, pyspark {pyspark.__version__},"
          f" {n_docs} pipeline docs, `{sf_dir}`. `build ms`, "
          "`driver ms` and the columns after `cold stages` are the warm "
          "job's.\n")
    print("| " + " | ".join(HEADER) + " |\n" + "|---" * len(HEADER) + "|")
    for name in names:
        print(row(name, walls, builds, groups, spans))
    print(f"\nspan_equality_join: {n_match}/{n_docs} docs match")
    if n_match != n_docs:
        sys.exit(f"stage_budget: {n_docs - n_match} docs fail span equality")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
