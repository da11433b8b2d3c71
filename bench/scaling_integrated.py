"""Stage-wise two-level scaling transparency for the INTEGRATED pipeline
(render → extract → reassemble → MinHash/LSH).

The north rule's ≥0.8 N-vs-4N criterion is defined on the extraction
metric ("extracted docs/sec") and is measured by bench/scaling.py →
BENCH/BASELINE.md (pinned median-of-3). This harness SUPPLEMENTS it with
an honest stage-by-stage look at the full fused job: at sandbox scale
the small LSH tail stages (bucket gate, collect, pair explode/distinct)
are stage-latency-bound — a few seconds regardless of core count — which
drags the end-to-end ratio below the extraction stage's own efficiency.
The artifact reports both, with the absolute stage costs so the reader
can see what the tail amortizes into at production scale.

Usage: python bench/scaling_integrated.py [n_docs] [N]
Writes BENCH/INTEGRATED_SCALING.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STAGES = ["extract", "reassemble", "signatures", "bands", "lsh_pairs"]

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from unipdf_spark import pipeline
from unipdf_spark.operators.dedup import (band_table, lsh_armor_stats,
                                          lsh_candidates,
                                          minhash_signatures_pandas)
from unipdf_spark.operators.extracted import (reassemble_parts,
                                              render_extract_parts)

cores = {cores}
n_docs = {n_docs}
spark = pipeline.get_spark("int-scaling-%d" % cores, cores=cores)
spark.sparkContext.setLogLevel("ERROR")
base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
    F.col("doc_id").alias("bid"), "text")
n_base = base.count()
corpus = (
    spark.range(0, n_docs, numPartitions=cores * 2)
    .withColumn("bid", F.col("id") % n_base)
    .join(F.broadcast(base), "bid")
    .select(F.concat(F.lit("doc_"),
                     F.lpad(F.col("id").cast("string"), 8, "0")
                     ).alias("doc_id"), "text")
).persist()
corpus.count()


def once():
    t = {{}}
    t0 = time.perf_counter()
    pe = render_extract_parts(corpus).persist()
    n_err = pe.filter(F.col("error").isNotNull()).count()
    t["extract"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    ext = reassemble_parts(pe).persist()
    ext.count()
    t["reassemble"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    sig = minhash_signatures_pandas(ext).persist()
    sig.count()
    t["signatures"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    bt = band_table(sig).persist()
    bt.count()
    t["bands"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_pairs = lsh_candidates(bt).count()
    t["lsh_pairs"] = time.perf_counter() - t0
    armor = lsh_armor_stats(bt)  # untimed: armor-engagement observability
    for df in (pe, ext, sig, bt):
        df.unpersist()
    spark.catalog.clearCache()
    corpus.persist().count()
    return t, n_err, n_pairs, armor


once()  # warm-up: worker spawn + janino JIT outside the timed passes
a, err, pairs, armor = once()
b, _e, _p, _a = once()
best = {{k: min(a[k], b[k]) for k in a}}
print(json.dumps({{"cores": cores, "n_docs": n_docs, "errors": err,
                   "n_pairs": pairs, "armor": armor,
                   "stages": {{k: round(v, 2) for k, v in best.items()}},
                   "total": round(sum(best.values()), 2)}}))
spark.stop()
"""


def run(cores: int, n_docs: int) -> dict:
    code = WORKER.format(repo=REPO, cores=cores, n_docs=n_docs)
    cmd = [sys.executable, "-c", code]
    import shutil as _sh
    if _sh.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO,
                       timeout=3600)
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if not line:
        raise RuntimeError(
            f"worker failed (cores={cores}):\n{p.stderr[-3000:]}")
    return json.loads(line[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    n_pairs_samples = int(os.environ.get("INT_SCALING_PAIRS", "3"))
    while os.getloadavg()[0] > 2.0:
        time.sleep(10)
    load = os.getloadavg()
    # interleaved (N, 4N) pair samples, median per stage — a single pair
    # is not representative (the same host-noise lesson as BASELINE.md:
    # single-sample stage efficiencies swung 0.59-0.87 on an idle host)
    los, his = [], []
    for _ in range(n_pairs_samples):
        los.append(run(n, n_docs))
        his.append(run(4 * n, n_docs))

    def med(vals):
        s = sorted(vals)
        return s[len(s) // 2]

    lo_stage = {k: med([s["stages"][k] for s in los]) for k in STAGES}
    hi_stage = {k: med([s["stages"][k] for s in his]) for k in STAGES}
    lo_total = med([s["total"] for s in los])
    hi_total = med([s["total"] for s in his])
    eff_total = (lo_total / 4.0) / hi_total
    eff_samples = [round((a["total"] / 4.0) / b["total"], 3)
                   for a, b in zip(los, his)]
    rows = []
    for k in STAGES:
        e = (lo_stage[k] / 4.0) / hi_stage[k] if hi_stage[k] else 0.0
        rows.append((k, round(lo_stage[k], 2), round(hi_stage[k], 2),
                     round(e, 2)))
    res = {
        "n_docs": n_docs, "N_cores": n, "4N_cores": 4 * n,
        "stages_N": lo_stage, "stages_4N": hi_stage,
        "total_N": round(lo_total, 2), "total_4N": round(hi_total, 2),
        "eff_total": round(eff_total, 3),
        "eff_samples": eff_samples,
        "errors": sum(s["errors"] for s in los + his),
        "n_pairs_agree": len({s["n_pairs"] for s in los + his}) == 1,
        # skew-armor engagement (r10 VERDICT #4): dropped-bucket /
        # dropped-membership counts from the MAX_BUCKET gate, per level
        "armor": los[0].get("armor"),
        "armor_agree": len({json.dumps(s.get("armor"), sort_keys=True)
                            for s in los + his}) == 1,
        "loadavg_start": [round(x, 2) for x in load],
        "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
    }
    print(json.dumps(res))
    lines = [
        "# BENCH/INTEGRATED_SCALING — stage-wise N vs 4N transparency\n",
        "The north rule's ≥0.8 criterion is defined on the EXTRACTION",
        "metric and is measured in BENCH/BASELINE.md (pinned median-of-3:",
        "0.93 at this writing). This supplement profiles the full",
        "integrated job — render→extract→reassemble→signatures→banded LSH",
        f"pairs — at pinned local[{n}] vs local[{4 * n}] on the same",
        f"{n_docs}-doc input (fresh JVM per level, best-of-2 steady",
        "state after warm-up; MEDIAN of interleaved pair samples —",
        f"end-to-end samples: {res['eff_samples']}).\n",
        f"| stage | {n}-core s | {4 * n}-core s | efficiency |",
        "|---|---|---|---|",
    ]
    for k, lo_s, hi_s, e in rows:
        lines.append(f"| {k} | {lo_s} | {hi_s} | {e} |")
    lines += [
        f"| **total** | {res['total_N']} | {res['total_4N']} | "
        f"**{res['eff_total']}** |",
        "",
        f"- extraction errors at both levels: {res['errors']};",
        f"  candidate-pair counts agree across levels: "
        f"{res['n_pairs_agree']}",
        f"- skew-armor engagement (buckets > MAX_BUCKET dropped by the",
        f"  count gate): {res['armor']} (levels agree: "
        f"{res['armor_agree']})",
        f"- loadavg at start {res['loadavg_start']}; measured {res['ts']}",
        "",
        "Reading: the render+extract stage (the north-rule workload)",
        "carries the overwhelming share of the work and scales like the",
        "BASELINE measurement. The LSH tail stages are a few seconds of",
        "stage-latency-bound work at sandbox scale — scheduling plus",
        "small shuffles whose wall time barely moves with core count —",
        "which is why the end-to-end ratio sits below the extraction",
        "stage's own efficiency. At production scale those stages are",
        "throughput-bound shuffles over signature-sized rows (no",
        "payloads) and parallelize with the cluster; the sandbox floor",
        "they sit on here does not.",
    ]
    text = "\n".join(lines) + "\n"
    with open(os.path.join(REPO, "BENCH", "INTEGRATED_SCALING.md"),
              "w") as f:
        f.write(text)
    # timestamped history copy: reruns never clobber a committed artifact
    os.makedirs(os.path.join(REPO, "BENCH", "history"), exist_ok=True)
    ts_tag = res["ts"].replace(" ", "_").replace(":", "")
    with open(os.path.join(REPO, "BENCH", "history",
                           f"INTEGRATED_SCALING_{ts_tag}.md"), "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
