"""Bench-scale resilience drill (r4 VERDICT #9, M6 exit criteria):

1. RESUME: checkpointed extraction is killed (SIGKILL, real crash) part
   way through, resumed, and the combined output must be byte-identical
   (order-insensitive content hash) to an uninterrupted single pass.
2. SKEW: a heavy-tailed corpus (a handful of ~80-paragraph documents in a
   sea of small ones) runs through the salted extraction path; the
   per-partition work distribution must show no straggler beyond 2× the
   median partition.

Writes BENCH/DRILL.md + prints one JSON line. Defaults to 48 000 docs;
pass a smaller count for a smoke run: python bench/drill.py 4800
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

KILL_WORKER = r"""
import sys
sys.path.insert(0, {repo!r})
from unipdf_spark import pipeline
spark = pipeline.get_spark("drill-victim", cores={cores})
spark.sparkContext.setLogLevel("ERROR")
docs = pipeline.gen_docs_pdf(spark, {n_docs}, mix="bench",
                             partitions={cores} * 2)
print("EXTRACTING", flush=True)
pipeline.run_with_checkpoint(docs, {out_dir!r}, buckets=16,
                             max_buckets_per_pass=2)
print("DONE", flush=True)
"""


def content_hash(df) -> str:
    from pyspark.sql import functions as F

    rows = (
        df.select(
            "doc_id",
            F.md5(F.to_json(F.struct("spans", "n_chars", "error")))
            .alias("h"),
        )
        .collect()
    )
    canon = sorted(f"{r['doc_id']}|{r['h']}" for r in rows)
    return hashlib.md5("\n".join(canon).encode()).hexdigest()


def resume_drill(n_docs: int, cores: int) -> dict:
    from unipdf_spark import pipeline

    out_a = tempfile.mkdtemp(prefix="drill_a_")
    out_b = tempfile.mkdtemp(prefix="drill_b_")
    try:
        # victim process: SIGKILL once extraction is underway
        code = KILL_WORKER.format(repo=REPO, cores=cores, n_docs=n_docs,
                                  out_dir=out_b)
        p = subprocess.Popen([sys.executable, "-c", code],
                             stdout=subprocess.PIPE, text=True, cwd=REPO)
        t0 = time.time()
        saw_start = False
        while p.poll() is None and time.time() - t0 < 600:
            line = p.stdout.readline()
            if "EXTRACTING" in line:
                saw_start = True
                # let some bucket chunks commit, then kill mid-flight
                time.sleep(max(8.0, n_docs / 1200.0))
                p.send_signal(signal.SIGKILL)
                break
        p.wait()
        killed = saw_start and p.returncode != 0
        partial_buckets = len(pipeline.committed_buckets(out_b, 16))

        spark = pipeline.get_spark("drill", cores=cores)
        spark.sparkContext.setLogLevel("ERROR")
        docs = pipeline.gen_docs_pdf(spark, n_docs, mix="bench",
                                     partitions=cores * 2)
        # resume the killed run (possibly from zero buckets — still valid)
        t0 = time.time()
        pipeline.run_with_checkpoint(docs, out_b, buckets=16)
        resume_s = time.time() - t0
        # uninterrupted reference pass
        pipeline.run_with_checkpoint(docs, out_a, buckets=16)
        h_a = content_hash(pipeline.read_checkpointed(spark, out_a))
        h_b = content_hash(pipeline.read_checkpointed(spark, out_b))
        return {
            "killed_mid_flight": killed,
            "buckets_done_before_kill": partial_buckets,
            "resume_seconds": round(resume_s, 1),
            "byte_identical": h_a == h_b,
            "hash": h_a,
        }
    finally:
        shutil.rmtree(out_a, ignore_errors=True)
        shutil.rmtree(out_b, ignore_errors=True)


def skew_drill(n_docs: int, cores: int) -> dict:
    from pyspark.sql import functions as F

    from unipdf_spark import pipeline

    spark = pipeline.get_spark("drill", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # heavy tail: ~1 huge (60-90 paragraph) doc per 4800 small ones
    docs = pipeline.gen_docs_pdf(
        spark, n_docs, mix=[("skew", 1), ("simple", 4799)],
        partitions=cores * 2,
    )
    out = pipeline.run_extraction(docs, partitions=cores * 2, salt=True)
    per_part = (
        out.groupBy("partition_id")
        .agg(F.sum("elapsed_ms").alias("ms"), F.count("*").alias("docs"))
        .collect()
    )
    times = sorted(r["ms"] for r in per_part)
    med = times[len(times) // 2] if times else 0
    mx = times[-1] if times else 0
    ratio = (mx / med) if med else 0.0
    return {
        "partitions": len(times),
        "median_partition_ms": int(med),
        "max_partition_ms": int(mx),
        "straggler_ratio": round(ratio, 3),
        "pass": ratio < 2.0,
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 48000
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load = os.getloadavg()
    res = {
        "n_docs": n_docs,
        "cores": cores,
        "resume": resume_drill(n_docs, cores),
        "skew": skew_drill(n_docs, cores),
        "loadavg_start": [round(x, 2) for x in load],
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(res))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "DRILL.md"), "w") as f:
        f.write(
            "# BENCH/DRILL — kill-resume + skew straggler drill\n\n"
            f"- input: {n_docs} docs, local[{cores}], measured {res['ts']}"
            f" (loadavg {load[0]:.1f})\n\n"
            "## Checkpoint kill-resume\n\n"
            f"- victim run SIGKILLed mid-extraction: "
            f"{res['resume']['killed_mid_flight']}\n"
            f"- buckets completed before the kill: "
            f"{res['resume']['buckets_done_before_kill']}/16\n"
            f"- resume completed in {res['resume']['resume_seconds']} s; "
            "output vs uninterrupted pass: "
            f"**{'byte-identical' if res['resume']['byte_identical'] else 'MISMATCH'}**\n\n"
            "## Skew (heavy-tailed corpus, salted extraction)\n\n"
            f"- {res['skew']['partitions']} partitions; median "
            f"{res['skew']['median_partition_ms']} ms, max "
            f"{res['skew']['max_partition_ms']} ms\n"
            f"- **straggler ratio {res['skew']['straggler_ratio']}** "
            f"({'PASS' if res['skew']['pass'] else 'FAIL'}; bar < 2× median)\n"
        )


if __name__ == "__main__":
    main()
