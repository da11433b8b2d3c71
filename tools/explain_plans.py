"""Dump `.explain("formatted")` for the headline queries → PLANS.md, with a
summary of the scale-relevant properties (PushedFilters / ReadSchema /
broadcast / codegen / Python passes / cache reads). Run:
python tools/explain_plans.py"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q7_volume_shipping", "q10_returned_items", "q19_discounted_revenue",
    "top_customers_per_segment", "events_sessionize", "token_counts",
    "doc_fingerprints", "dedup_exact", "minhash_lsh_pairs",
    "corpus_cleanup", "simhash_near_dup_pairs", "simhash_saturated_blocks",
    "embedding_near_dup_pairs", "near_dup_clusters", "ann_ivf_topk",
    "ann_bruteforce_topk", "extract_spans_flat", "extracted_text_dedup",
    "html_main_content", "media_feature_dedup",
]


def main() -> None:
    import __spark_entry__ as em
    from unipdf_spark.pipeline import get_spark
    from unipdf_spark.plans import explain_str, python_passes

    spark = get_spark("plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `tools/explain_plans.py` (sf0.001 input; plan shape is",
        "scale-invariant). Properties to check: `PushedFilters` non-empty on",
        "filtered scans, `ReadSchema` pruned to used columns, dimension joins",
        "as `BroadcastHashJoin`, `WholeStageCodegen` spans around relational",
        "stages, Python only inside `MapInPandas`/`ArrowEvalPython`, each",
        "Python pass once (`python_passes` counts them in the optimized",
        "plan, each cached plan once; `cache_reads` counts InMemoryRelation",
        "leaves; `tests/test_plans.py` lints every registered query).\n",
    ]
    for name in HEADLINE:
        # a frame an earlier query persisted would stand in for this
        # query's own plan
        spark.catalog.clearCache()
        df = qs[name](spark, SF)
        txt = explain_str(df)
        passes, reads = python_passes(df)
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", txt)
        bcast = txt.count("BroadcastHashJoin")
        wsc = len(re.findall(r"WholeStageCodegen", txt))
        out.append(f"\n## {name}\n")
        out.append(
            f"summary: broadcast_joins={bcast}, codegen_spans={wsc}, "
            f"python_passes={len(passes)}, cache_reads={reads}, "
            f"pushed={pushed[:3]}\n"
        )
        out.append("```\n" + txt.strip()[:4000] + "\n```\n")
    out.append("""
## Notes: extracted_text_dedup

- **extracted_text_dedup scale shape**: no InMemoryRelation and no
  join. A Union of two size branches, each with its own scan of
  `documents` (two scans in all), read with the two-column schema, so no
  schema-inference job runs. Each keeps the rows of its size (the length
  Filter sits on the scan) and plants the clones with one `Generate
  explode` of `array(doc_id, doc_id + CLONE_OFFSET)` over them.
  (a) The small-doc branch: the `phash.spread` round-robin Exchange →
  one `_rex_sig_worker` MapInPandas that renders, extracts and
  MinHashes each doc. (b) The oversized-doc branch, with no spread:
  split → round-robin Exchange over the cores (a fixed partition count,
  which AQE does not coalesce) → `_rex_worker` → ordered reassembly
  aggregate → MinHash worker. Above the Union, one `Generate inline`
  emits each doc's 8 band rows and its exact row (the md5 of the
  normalized text, with the token count), and ONE hashpartitioning
  Exchange on (band, band_hash, norm_hash) feeds the Window (key group
  size and minimum doc_id), the count-gate Filter and the
  ObjectHashAggregate that collects bucket members, which adds no
  exchange of its own. One more Exchange, on doc_id, folds exact rows
  and exploded members into the output; no aggregate groups on (doc_a,
  doc_b). Each doc is rendered and extracted once per query. The plan
  above is the one before execution. When no doc is oversized, the
  splitter stage (one task) and the `_rex_worker` stage (one empty task
  per core: AQE keeps a user-set partition count) still run; AQE then
  replaces the reassembly aggregate and the MinHash worker with an
  EmptyRelation.
  `tests/test_plans.py::test_extracted_text_dedup_single_pass_plan`
  locks this shape in.
- **extracted_text_dedup cold floor**: cold ≈ warm + ~3 s. Measured with
  perfbench `text_dedup` on a 4-vCPU host: 4.3 and 4.6 s cold
  (`--trace 1`, seeds 2301 and 2302) against ~1.3 s warm (686 docs at
  the untraced median of 534 docs/s). The delta is one-time per
  session: janino compiles the band/bucket expression family and each
  Python worker imports the engine. None of it grows with data size, so
  it amortizes at corpus scale.
- **One bucket shape**: every exact-dedup, LSH and SimHash bucket gate
  is `dedup.bucket_window`: a Window computing the key group's
  `count(1)` and `min(doc_id)` over ONE hashpartitioning Exchange on the
  bucket key, then a Filter on the count. Above it, the
  member-collecting ObjectHashAggregate of `extracted_text_dedup`,
  `minhash_lsh_pairs` and `simhash_near_dup_pairs` adds no exchange. No
  count is joined back to its input, so each Python pass appears once
  in these plans (`python_passes`): `minhash_lsh_pairs` holds the
  MinHash pass and one Jaccard worker over the candidate pairs joined to
  `documents.text` twice; `corpus_cleanup` one MinHash pass;
  `simhash_near_dup_pairs` and `simhash_saturated_blocks` one SimHash
  pass under one window chain (chunk rows → Window on (chunk, key) →
  one `Generate inline` of the level-0 row or the 4 interleaved
  sub-chunk rows → Window on (chunk, key, sc, skey)); `dedup_exact`
  one Window on the text hash; `media_feature_dedup` one render →
  media → feature pipeline, whose blocks collect their members instead
  of self-joining. `embedding_near_dup_pairs` runs its sig28
  ArrowEvalPython once, under three Windows (12-, 20- and 28-bit block
  counts) that share one Exchange on s0. **No operator persists**:
  `cache_reads` is 0 for every query above. Regenerating this file
  before and after each of these changes and diffing with expression
  ids normalized, `extracted_text_dedup`'s plan is identical.

## Notes (r8)

- **No operator plan changed in r8.** The round's work was parser-side
  (foreign-layout corpus: linearized containers, mixed-writer /Prev
  chains, ObjStm-packed /Length and update entries, W[0]=0 sections)
  plus one engine fix (cos.py _resolve_length) — all inside the
  map-only Arrow-batched extraction UDF's per-row logic. VERIFIED by
  regenerating this file on the final r8 code and diffing against the
  committed r7 version: identical after plan-id normalization.
- **Per-doc cost bounds still hold under the new corpus**: linearized
  and chained-update docs change file layout, not content volume; the
  100k soak after the final corpus (BENCH/IDLE_R8.json) shows
  ~9,400 docs/s with 0 errors, and the isolated integrated tier reads
  straggler 1.245 — the new classes introduce no skew tail
  (foreign_encrypted_incremental measures 24.7 ms gen / 6.3 ms extract
  per doc, ~1% of the mix).

## Notes (r10)

- **No operator plan changed in r9 or r10.** Both rounds' diffs are
  parser/repair-path (cos.py xref validation + ObjStm-aware rebuild +
  trailer-fragment merge), fixture-side (tag soup, deeptree, astral
  CIDs), or harness-side (bench violations, corpus CLI persist) — all
  inside the map-only extraction UDF's per-row logic or off the query
  path entirely. VERIFIED by regenerating this file on r10 code and
  diffing against the committed r8 version: plan bodies identical.
- The real-corpus ingest path's only plan-relevant change is the CLI
  persisting outcome rows once (MapInPandas → InMemoryRelation) so the
  parquet sink, report aggregates, and ok/error counts share a single
  extraction pass instead of three.
""")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
