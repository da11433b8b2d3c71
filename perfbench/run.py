"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload pdf_fixture_mix --seed 1 \\
        --seconds 5 --trace 0

One client process submits one job at a time to a ``local[nproc]`` Spark
session. Inputs are generated from ``--seed`` before any timing starts;
set-up, one cold job and then warm jobs for ``--seconds`` are timed; the
outputs are checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (Spark's
event log, worker lineage, and the engine layers timed in this process
over a seeded sample). A human-readable summary goes to stderr. Every
process the run started has ended before it exits. The exit code is 1
when a correctness gate fails and 2 when the program under test cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_now = time.perf_counter


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_layers(groups, warm_tags: list[str], lineage_group: str,
                 busy_ms: float) -> dict[str, tuple[float, str]]:
    """``spark.*``: the median over warm jobs of each job's stage totals;
    ``pipeline.boundary_ms``: executor run time of the Python stages of
    the lineage job minus the worker time spent inside the engine."""
    from perfbench.stages import GroupStats

    per_job = [groups.get(tag, GroupStats()).totals() for tag in warm_tags]
    units = {"stages": "count", "tasks": "count", "executor_run_ms": "ms",
             "executor_cpu_ms": "ms", "deserialize_ms": "ms", "gc_ms": "ms",
             "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
             "output_bytes": "bytes"}
    out = {f"spark.{name}": (statistics.median(j[name] for j in per_job),
                             unit) for name, unit in units.items()}
    lineage = groups.get(lineage_group, GroupStats())
    out["pipeline.boundary_ms"] = (lineage.python_run_ms() - busy_ms, "ms")
    return out


def run(args, tmp: str, cores: int) -> dict:
    from perfbench import engine_trace, session, stages, stats, workloads

    w = workloads.WORKLOADS[args.workload]()
    load_start = os.getloadavg()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(tmp, "events")
        os.makedirs(event_dir)
    session.configure_env(ROOT, tmp, cores, event_dir)
    t_prep = _now()
    w.prepare(tmp, args.seed, cores)
    warmup_path = workloads.warmup_table(tmp, args.seed, cores)
    prepare_s = _now() - t_prep
    failures = workloads.Failures()
    layers: dict[str, tuple[float, str]] = {}

    t0 = _now()
    spark = session.start(cores)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("setup", "set-up extraction")
        workloads.warmup_extraction(spark, warmup_path)
        setup_s = _now() - t0

        sc.setJobGroup("cold", "cold job")
        cold_s, _ = w.job(spark, "cold")
        warm: list[tuple[float, int]] = []
        warm_tags: list[str] = []
        t_warm = _now()
        while not warm or _now() - t_warm < args.seconds:
            tag = f"warm-{len(warm)}"
            warm_tags.append(tag)
            sc.setJobGroup(tag, "warm job")
            warm.append(w.job(spark, tag))
            if len(warm) == 1:
                # after a fixed amount of work, however fast the host runs
                rss_mb = session.peak_rss_mb(spark)

        t_verify = _now()
        sc.setJobGroup("verify", "correctness gate")
        w.verify(spark, failures)
        verify_s = _now() - t_verify

        if args.trace:
            per_doc, busy = w.lineage(spark)
            sample, warm_pdfs, render_s = w.engine_sample()
            sc.setJobGroup("checkpoint", "checkpoint layer")
            run_s, resume_s, n_files, n_bytes = workloads.checkpoint_metrics(
                spark, tmp, cores, sample, failures)
            totals, overhead_pct = engine_trace.trace_sample(
                warm_pdfs, [r["pdf_bytes"] for r in sample])
    finally:
        t_stop = _now()
        session.stop(spark)
        stop_s = _now() - t_stop

    docs_per_s = statistics.median(n / dt for dt, n in warm)
    log(f"{w.name} seed={args.seed} cores={cores} docs/job={warm[0][1]} "
        f"cold={cold_s:.3f}s warm={[round(dt, 3) for dt, _ in warm]} "
        f"prepare={prepare_s:.1f}s verify={verify_s:.1f}s stop={stop_s:.1f}s "
        f"loadavg start={load_start} end={os.getloadavg()}")
    if args.trace:
        busy_ms = sum(per_doc)
        pct, tail = stats.tail_percentile(per_doc)
        groups, pairs = (w.dedup_counts() if w.has_dedup else (0, 0))
        layers.update(totals.metrics())
        layers.update({
            "cold_job_s": (cold_s, "s"),
            "fixtures.gen.render_ms": (render_s * 1000.0, "ms"),
            "pipeline.worker_busy_ms": (busy_ms, "ms"),
            "pipeline.doc_ms_p50": (stats.percentile(per_doc, 50.0), "ms"),
            f"pipeline.doc_ms_p{pct:g}": (tail, "ms"),
            "pipeline.doc_ms_samples": (len(per_doc), "count"),
            "pipeline.straggler_ratio": (stats.straggler_ratio(busy), "ratio"),
            "pipeline.checkpoint.run_s": (run_s, "s"),
            "pipeline.checkpoint.resume_noop_s": (resume_s, "s"),
            "pipeline.checkpoint.files": (n_files, "count"),
            "pipeline.checkpoint.bytes": (n_bytes, "bytes"),
            "operators.dedup.groups": (groups, "count"),
            "operators.dedup.candidate_pairs": (pairs, "count"),
            "trace.engine_overhead_pct": (overhead_pct, "%"),
            "trace.docs_per_s": (docs_per_s, "docs/s"),
        })
        lineage_group = w.lineage_group or warm_tags[-1]
        layers.update(spark_layers(stages.parse_event_log(event_dir),
                                   warm_tags, lineage_group, busy_ms))
        metrics = layers
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "docs_per_s": (docs_per_s, "docs/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }

    for name, (value, unit) in metrics.items():
        log(f"  {name:36s} {value:>16.4f} {unit}")
    log(f"  failed_doc_rate {failures.rate():.6f} "
        f"({failures.failed} of {failures.attempted})")
    for doc_id in failures.docs[:50]:
        log(f"  FAILED doc {doc_id}")
    for msg in failures.run:
        log(f"  FAILED run: {msg}")
    return {
        "correct": failures.correct,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import unipdf_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    from perfbench import session
    from perfbench.inputs import nproc

    session.become_subreaper()
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        result = run(args, tmp, nproc())
    finally:
        # no process this run started outlives it, on any path out
        left = session.reap_descendants()
        if left:
            log(f"stopped {len(left)} leftover processes: {left}")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
