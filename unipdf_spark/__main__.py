"""CLI: the library as a tool (a reference user's drop-in entry point).

    python -m unipdf_spark gen     --out DIR --n 1000          # docs_pdf table
    python -m unipdf_spark extract --in DIR_OR_PARQUET --out DIR [--salt]
    python -m unipdf_spark verify  --docs DIR --spans DIR       # span equality
    python -m unipdf_spark bench   [--n 6000]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="unipdf_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a fixture docs_pdf parquet table")
    g.add_argument("--out", required=True)
    g.add_argument("--n", type=int, default=1000)
    g.add_argument("--mix", default="default", choices=["default", "bench"])

    e = sub.add_parser("extract", help="extract spans from a docs_pdf table")
    e.add_argument("--in", dest="inp", required=True)
    e.add_argument("--out", required=True)
    e.add_argument("--salt", action="store_true",
                   help="salted repartition (size-skewed inputs)")
    e.add_argument("--checkpoint", action="store_true",
                   help="bucketed checkpoint/resume mode")

    v = sub.add_parser("verify", help="span-equality report")
    v.add_argument("--docs", required=True)
    v.add_argument("--spans", required=True)

    b = sub.add_parser("bench", help="extraction throughput")
    b.add_argument("--n", type=int, default=6000)

    t = sub.add_parser("tables", help="structured table cells from a docs_pdf table")
    t.add_argument("--in", dest="inp", required=True)
    t.add_argument("--out", required=True)

    li = sub.add_parser("lists", help="struct-tree list items from a docs_pdf table")
    li.add_argument("--in", dest="inp", required=True)
    li.add_argument("--out", required=True)

    c = sub.add_parser(
        "corpus",
        help="ingest a directory of arbitrary PDF/HTML files: per-doc "
             "outcome rows + a one-page parse/extract report")
    c.add_argument("--in", dest="inp", required=True,
                   help="directory of real-world files (recursed)")
    c.add_argument("--report", default=None,
                   help="write the markdown report here (default: stdout)")
    c.add_argument("--out", default=None,
                   help="also write per-doc outcome rows as parquet")
    c.add_argument("--spans-out", default=None,
                   help="also write full span payloads as parquet")
    c.add_argument("--glob", default=None, help="pathGlobFilter pattern")

    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from . import pipeline

    spark = pipeline.get_spark(f"unipdf-cli-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.cmd == "gen":
            df = pipeline.gen_docs_pdf(spark, args.n, mix=args.mix)
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"written": args.n, "out": args.out}))
        elif args.cmd == "extract":
            docs = spark.read.parquet(args.inp)
            if args.checkpoint:
                pipeline.run_with_checkpoint(docs, args.out)
            else:
                out = pipeline.run_extraction(docs, salt=args.salt)
                out.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(
                args.out if not args.checkpoint else f"{args.out}/spans"
            ).count()
            print(json.dumps({"extracted": n, "out": args.out}))
        elif args.cmd == "verify":
            docs = spark.read.parquet(args.docs)
            spans = spark.read.parquet(args.spans)
            eq = pipeline.span_equality(docs, spans)
            total = eq.count()
            ok = eq.filter(F.col("match")).count()
            print(json.dumps({"docs": total, "match": ok,
                              "pass_rate": ok / max(total, 1)}))
            return 0 if ok == total else 1
        elif args.cmd == "tables":
            docs = spark.read.parquet(args.inp)
            out = pipeline.run_table_extraction(docs)
            out.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"cells": spark.read.parquet(args.out).count(),
                              "out": args.out}))
        elif args.cmd == "lists":
            docs = spark.read.parquet(args.inp)

            def list_items(doc_id, pdf_bytes):
                from .pdf.extract import extract_lists

                lists = extract_lists(bytes(pdf_bytes))
                return [(doc_id, lidx, iidx, item["label"], item["body"])
                        for lidx, lst in enumerate(lists)
                        for iidx, item in enumerate(lst["items"])]

            out = pipeline.map_docs(
                docs.select("doc_id", "pdf_bytes"), list_items,
                "doc_id string, list_idx int, item_idx int, label string, "
                "body string",
            )
            out.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"items": spark.read.parquet(args.out).count(),
                              "out": args.out}))
        elif args.cmd == "corpus":
            from . import real_corpus

            corpus = real_corpus.read_corpus_dir(spark, args.inp, args.glob)
            # one extraction pass feeds the parquet sink, the report, and
            # the ok/error counts (corpus_report leaves a caller-persisted
            # frame cached); only --spans-out re-reads the files, because
            # full span payloads are a different, heavier computation
            outcomes = real_corpus.extract_corpus(corpus).persist()
            try:
                if args.out:
                    outcomes.write.mode("overwrite").parquet(args.out)
                report = real_corpus.corpus_report(outcomes, args.inp)
                if args.report:
                    with open(args.report, "w") as fh:
                        fh.write(report)
                else:
                    print(report)
                if args.spans_out:
                    real_corpus.extract_corpus_spans(corpus).write.mode(
                        "overwrite").parquet(args.spans_out)
                bad = outcomes.filter(~F.col("ok")).count()
                total = outcomes.count()
            finally:
                outcomes.unpersist()
            print(json.dumps({"files": total, "ok": total - bad,
                              "errors": bad}))
        elif args.cmd == "bench":
            import time

            docs = pipeline.gen_docs_pdf(spark, args.n, mix="bench").persist()
            docs.count()
            pipeline.run_extraction(docs.limit(256)).count()
            t0 = time.perf_counter()
            pipeline.run_extraction(docs).count()
            dt = time.perf_counter() - t0
            print(json.dumps({"n_docs": args.n, "seconds": round(dt, 2),
                              "docs_per_sec": round(args.n / dt, 1)}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
