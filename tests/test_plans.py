"""Physical-plan property tests: the plans we ship must keep the properties
that survive a 100× scale-up — predicate pushdown, column pruning, broadcast
dimension joins."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from unipdf_spark.plans import (
    has_broadcast_join,
    n_broadcast_hints,
    pushed_filters,
    python_passes,
    read_schema_columns,
    walk,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") < 24)
        .select("l_orderkey", "l_quantity")
    )
    pf = pushed_filters(df)
    assert any("l_quantity" in f for f in pf), pf


def test_column_pruning_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
    )
    cols = read_schema_columns(df)
    assert cols and set(cols[0]) == {"l_orderkey", "l_extendedprice"}


def test_q3_no_forced_broadcast_hints(spark):
    # orders/customer are fact-sized at 100×: they must NOT carry a forced
    # broadcast hint; at this SF Catalyst/AQE still selects broadcast joins
    # from size stats, so the plan stays broadcast WITHOUT the hint
    from unipdf_spark.operators.tpch import q3_shipping_priority

    df = q3_shipping_priority(spark, SF)
    assert n_broadcast_hints(df) == 0
    assert has_broadcast_join(df)


def test_q5_hints_only_on_dimensions(spark):
    # supplier/nation/region stay hinted (true dimensions, bounded size);
    # orders/customer must be unhinted (AQE decides at runtime)
    from unipdf_spark.operators.tpch import q5_local_supplier_volume

    df = q5_local_supplier_volume(spark, SF)
    assert n_broadcast_hints(df) == 3
    assert has_broadcast_join(df)


def test_top_customers_no_forced_broadcast_hints(spark):
    from unipdf_spark.operators.tpch import top_customers_per_segment

    assert n_broadcast_hints(top_customers_per_segment(spark, SF)) == 0


def test_textops_prune_to_two_columns(spark):
    from unipdf_spark.operators.textops import token_counts

    cols = read_schema_columns(token_counts(spark, SF))
    assert cols and set(cols[0]) <= {"doc_id", "text"}


def test_sources_reader_pushes_docid_range(spark):
    from unipdf_spark.sources import read_docs

    df = read_docs(spark, f"{SF}/documents.parquet", min_doc_id="10")
    pf = pushed_filters(df)
    assert any("doc_id" in f for f in pf), pf


def _udf_names(node) -> list[str]:
    return [n.func().name() for n in walk(node)
            if n.getClass().getSimpleName() == "MapInPandasExec"]


def _doc_scans(node) -> list:
    return [n for n in walk(node)
            if n.getClass().getSimpleName() == "FileSourceScanExec"
            and "documents.parquet"
            in n.relation().location().rootPaths().toString()]


def test_extracted_text_dedup_single_pass_plan(spark, oversized_sf):
    """extracted_text_dedup renders and extracts every doc ONCE with no
    cache and no join: the executed plan holds one render→extract→MinHash
    (`_rex_sig_worker`) and one oversized-part (`_rex_worker`) Python
    pass, no InMemoryTableScan, no join node and one scan of `documents`
    per size branch. A variant that reads the extracted frame twice (a
    split on a window partition key that Catalyst pushes below the
    window, or two readers whose pruned columns differ) plans the Python
    passes twice. Partner counts aggregate no (doc_a, doc_b) pairs."""
    from unipdf_spark.operators.extracted import extracted_text_dedup

    df = extracted_text_dedup(spark, oversized_sf)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    names = [n.getClass().getSimpleName() for n in walk(plan)]
    assert "InMemoryTableScanExec" not in names
    assert not [n for n in names if "Join" in n], names
    udfs = _udf_names(plan)
    assert [u for u in udfs if "_rex" in u] == ["_rex_sig_worker",
                                                "_rex_worker"], udfs
    assert udfs.count("split_batches") == 1
    # one corpus scan per size branch: the clones come from the same rows
    rex = {n.func().name(): n for n in walk(plan)
           if n.getClass().getSimpleName() == "MapInPandasExec"}
    assert [len(_doc_scans(rex[u]))
            for u in ("_rex_sig_worker", "_rex_worker")] == [1, 1]
    assert len(_doc_scans(plan)) == 2
    # partner counts come from the buckets: no aggregate over pairs
    aggs = [n.groupingExpressions().toString() for n in walk(plan)
            if n.getClass().getSimpleName().endswith("AggregateExec")]
    assert aggs
    assert not [g for g in aggs if "doc_a" in g or "doc_b" in g], aggs


# Every registered query that reads a persisted frame, with why the cache
# stays. A query not listed here must read none.
_CACHE_ALLOWED = {
    "extract_fixture_roundtrip": "the rendered corpus feeds both the "
    "extraction and the golden side of span equality",
    "media_decode": "the media table feeds the bilevel, grayscale and "
    "codec legs",
}


# Every registered query whose plan case-maps (Lower, Upper, InitCap), with
# what it lowers: raw text, where Unicode case mapping is the semantics.
# Spark's lower() runs an ICU initializer once per JVM (~1.6 s of one core,
# ~2.6 GB of garbage); text a regexp_replace has already cut down to ASCII
# folds with dedup.alnum_lower_sql instead.
_CASE_MAPPING_ALLOWED = {
    "lang_id": "matches stopwords in lower(raw text)",
    "ngram_jaccard_pairs": "compares the token sets of lower(raw text)",
    "quality_scores": "stopword ratio, mean token length of lower(raw text)",
    "top_bigrams": "counts the bigram strings of lower(raw text)",
}
_CASE_MAPPING = re.compile(r'"class":"org\.apache\.spark\.sql\.catalyst'
                           r'\.expressions\.(?:Lower|Upper|InitCap)"')


def test_every_query_runs_each_python_pass_once(spark):
    """Plan lint over every registered query's optimized plan: no Python
    pass appears twice (the same Python node over the same input
    subtree, expression IDs normalized), only the queries in
    _CACHE_ALLOWED read a persisted frame, and only those in
    _CASE_MAPPING_ALLOWED case-map. A count joined back to its own
    input, or a self-join, plans the pass that feeds it twice; gate on a
    window instead (dedup.bucket_window). The case-mapping check reads
    the plan's JSON: toString() truncates long field lists. Building a
    query launches no Spark job: the sf tables are read with their
    declared schemas (schema.read_sf), not inferred."""
    from collections import Counter

    import __spark_entry__ as em

    sc = spark.sparkContext
    twice, cached, cased, launched = set(), set(), set(), set()
    for name, build in sorted(em.queries().items()):
        # a frame an earlier query persisted would stand in for this
        # query's own passes
        spark.catalog.clearCache()
        sc.setJobGroup(f"build:{name}", name)
        try:
            df = build(spark, SF)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
        if n_jobs:
            launched.add(f"{name}: {n_jobs} jobs")
        passes, reads = python_passes(df)
        n = Counter(k for _label, k in passes)
        twice |= {f"{name}: {n[k]}x {label}" for label, k in passes
                  if n[k] > 1}
        if reads:
            cached.add(name)
        if _CASE_MAPPING.search(
                df._jdf.queryExecution().optimizedPlan().toJSON()):
            cased.add(name)
    spark.catalog.clearCache()
    assert not launched, sorted(launched)
    assert not twice, sorted(twice)
    assert cached == set(_CACHE_ALLOWED), sorted(cached ^ set(_CACHE_ALLOWED))
    assert cased == set(_CASE_MAPPING_ALLOWED), sorted(
        cased ^ set(_CASE_MAPPING_ALLOWED))
