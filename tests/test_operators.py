"""Operator smoke + semantics tests at sf0.001 (full oracle parity is the
driver's CORRECTNESESS gate; tools/check_oracles.py replicates it locally)."""

from __future__ import annotations

import pytest

from unipdf_spark.operators import all_oracles, all_queries

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_runs_and_returns_rows(spark, name):
    df = all_queries()[name](spark, SF)
    rows = df.limit(5000).collect()
    # near-dup pair queries may legitimately return 0 rows on this data;
    # the cap-reporting companions are empty unless a bucket saturates;
    # q7's nation-pair filter can be empty at the tiny sf0.001
    if name not in ("embedding_near_dup_pairs", "minhash_lsh_pairs",
                    "near_dup_clusters", "simhash_saturated_blocks",
                    "q7_volume_shipping"):
        assert len(rows) > 0, name
    assert df.columns  # stable schema


def test_oracle_names_subset_of_queries():
    assert set(all_oracles()) <= set(all_queries())


def test_dedup_exact_finds_injected_duplicates(spark):
    import pandas as pd

    from unipdf_spark.operators import dedup

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": ["same text", "same text", "other", "same text"],
            }
        )
    )
    df.createOrReplaceTempView("_docs_tmp")
    # reuse operator logic by monkey-direct call on a fake sf_dir via temp view
    from pyspark.sql import functions as F

    h = df.select("doc_id", F.md5("text").alias("h"))
    g = h.groupBy("h").agg(F.min("doc_id").alias("canon"), F.count("*").alias("n"))
    out = {r["h"]: (r["canon"], r["n"]) for r in g.collect()}
    assert sorted(out.values()) == [(1, 3), (3, 1)]


def _shingles(col, n: int = 3):
    """Distinct word n-gram shingles from a text column."""
    from pyspark.sql import functions as F

    toks = F.filter(F.split(F.lower(col), r"\s+"), lambda x: x != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def _base60(col):
    """60-bit integer hash of a string column (phash.base60_sql, Spark
    Column API)."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _h32(col):
    from unipdf_spark.operators.phash import P

    return _base60(col) % P


def _family(i: int, h):
    """i-th universal-hash family over an h32 value (Spark Column API)."""
    from pyspark.sql import functions as F

    from unipdf_spark.operators.phash import A, B, P

    return (F.lit(A[i]) * h + F.lit(B[i])) % P


def test_minhash_similar_docs_collide(spark):
    """Two near-identical docs must share LSH buckets; a disjoint doc not.
    Uses the operator's portable hash families (phash)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from unipdf_spark.operators.dedup import BAND_SIZE, N_HASHES

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("kappa", "kappa2", 1)
    other = "completely different words with zero overlap whatsoever " * 5
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, other]})
    )
    sh = df.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("shingle")
    ).withColumn("h32", _h32(F.col("shingle")))
    aggs = [
        F.min(_family(i, F.col("h32"))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs).collect()
    sigs = {r["doc_id"]: [r[f"h{i}"] for i in range(N_HASHES)] for r in sig}
    agree_near = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    agree_other = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree_near > N_HASHES * 0.5
    assert agree_other < N_HASHES * 0.2
    # banding: near pair shares at least one full band
    bands_1 = [tuple(sigs[1][b * BAND_SIZE : (b + 1) * BAND_SIZE]) for b in range(N_HASHES // BAND_SIZE)]
    bands_2 = [tuple(sigs[2][b * BAND_SIZE : (b + 1) * BAND_SIZE]) for b in range(N_HASHES // BAND_SIZE)]
    assert any(a == b for a, b in zip(bands_1, bands_2))


def test_ann_topk_sane(spark):
    from unipdf_spark.operators.similarity import TOP_K, ann_bruteforce_topk

    rows = ann_bruteforce_topk(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_ann_ivf_structure_and_recall(spark):
    from unipdf_spark.operators.similarity import (
        TOP_K,
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    ivf = ann_ivf_topk(spark, SF).collect()
    bf = ann_bruteforce_topk(spark, SF).collect()
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= TOP_K
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True)
    ivf_set = {(r["query_id"], r["cand_id"]) for r in ivf}
    bf_set = {(r["query_id"], r["cand_id"]) for r in bf}
    recall = len(ivf_set & bf_set) / len(bf_set)
    assert recall >= 0.3, recall  # random vectors, nprobe=4/16


def _write_docs(spark, tmp_path, texts):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(len(texts))), "text": texts})
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_simhash_near_dup_pairs_finds_near_dupes(spark, tmp_path):
    from unipdf_spark.operators.dedup import simhash_near_dup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 8
    near = base.replace("dog", "cat", 1)  # one token differs
    far = "entirely unrelated content about spark shuffles and parquet " * 8
    sf = _write_docs(spark, tmp_path, [base, near, far])
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_dup_pairs(spark, sf).collect()}
    assert (0, 1) in pairs
    assert pairs[(0, 1)] <= 3
    assert all(2 not in p for p in pairs)


@pytest.mark.parametrize("extra", [0, 1], ids=["at_cap", "over_cap"])
def test_lsh_bucket_cap_drops_degenerate_bucket(spark, tmp_path, extra):
    """Skew armor at the gate's boundary: a bucket of exactly MAX_BUCKET
    identical docs is kept and fully paired; one of MAX_BUCKET + 1 is
    dropped before pair generation — no pairs from the hot bucket —
    while a normal near-dup pair elsewhere is still found. Both match
    the DuckDB oracle, and so do the per-doc MinHash signatures and
    SimHash fingerprints of the same corpus."""
    import duckdb

    from unipdf_spark.operators.dedup import (
        MAX_BUCKET,
        MINHASH_LSH_SQL,
        MINHASH_SIG_SQL,
        SIMHASH_SQL,
        minhash_lsh_pairs,
        minhash_signatures,
        simhash_fingerprints,
    )

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    b = a.replace("kappa", "kappa2", 1)
    n_hot = MAX_BUCKET + extra
    sf = _write_docs(spark, tmp_path, [boiler] * n_hot + [a, b])
    got = sorted(tuple(r) for r in minhash_lsh_pairs(spark, sf).collect())
    pairs = {(x, y) for x, y, _j in got}
    assert (n_hot, n_hot + 1) in pairs  # the real near-dup pair survives
    hot = {(x, y) for x, y in pairs if y < n_hot}
    assert len(hot) == (n_hot * (n_hot - 1) // 2 if not extra else 0)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    assert got == sorted(map(tuple, con.execute(MINHASH_LSH_SQL).fetchall()))
    for query, sql in [(minhash_signatures, MINHASH_SIG_SQL),
                       (simhash_fingerprints, SIMHASH_SQL)]:
        assert sorted(tuple(r) for r in query(spark, sf).collect()) == \
            sorted(map(tuple, con.execute(sql).fetchall())), query.__name__


def test_lsh_partner_counts_equal_candidate_pair_counts(spark):
    """Per-doc partner counts folded from a hand-built keyed table equal
    the counts derived from the distinct candidate pairs of its band
    rows, and its exact rows give each doc its normalized-dup group:
    docs 1 and 2 share two buckets; doc 2 also sits in a bucket of
    exactly MAX_BUCKET members (kept); doc 1 also sits in a bucket of
    MAX_BUCKET + 1 members (dropped) and in a singleton; doc 5000 is in
    no bucket. Exact groups hold 1, 2 and 3 docs."""
    from collections import Counter, defaultdict

    from unipdf_spark.operators.dedup import MAX_BUCKET
    from unipdf_spark.operators.extracted import KEYED_DDL, keyed_dedup

    full = [2] + list(range(100, 100 + MAX_BUCKET - 1))
    over = [1] + list(range(1000, 1000 + MAX_BUCKET))
    bands = ([(1, 0, 10), (2, 0, 10), (1, 1, 11), (2, 1, 11)]
             + [(d, 2, 12) for d in full]
             + [(d, 3, 13) for d in over]
             + [(1, 4, 14), (5000, 5, 15)])
    docs = sorted({d for d, _b, _h in bands})
    # exact groups: {5000} alone, {1, 2}, {100, 101, 102}; every other
    # doc alone under its own hash
    norm = {1: "p", 2: "p", 100: "t", 101: "t", 102: "t"}
    exact = [(d, None, None, norm.get(d, f"u{d}"), 3 * d) for d in docs]
    keyed = spark.createDataFrame(
        [(d, b, h, None, None) for d, b, h in bands] + exact, KEYED_DDL)

    got = {r["doc_id"]: tuple(r)[1:] for r in keyed_dedup(keyed).collect()}
    # reference: the distinct pairs of every bucket of 2..MAX_BUCKET docs
    buckets = defaultdict(list)
    for d, b, h in bands:
        buckets[b, h].append(d)
    pairs = {(x, y) for m in buckets.values() if 2 <= len(m) <= MAX_BUCKET
             for x in m for y in m if x < y}
    want = Counter(d for pair in pairs for d in pair)
    assert set(got) == set(docs)
    assert {d: g[3] for d, g in got.items()} == {d: want[d] for d in docs}
    # the pair's two shared buckets count once; the dropped bucket and
    # the singletons add nothing
    n = {d: g[3] for d, g in got.items()}
    assert n[1] == 1 and n[2] == MAX_BUCKET
    assert n[100] == MAX_BUCKET - 1
    assert n[1000] == n[5000] == 0
    # (canonical_doc_id, group_size, n_tokens) from the exact rows
    assert got[5000][:3] == (5000, 1, 15000)
    assert got[1][:3] == (1, 2, 3) and got[2][:3] == (1, 2, 6)
    assert [got[d][:2] for d in (100, 101, 102)] == [(100, 3)] * 3
    assert got[1000][:3] == (1000, 1, 3000)

def test_ann_lsh_recall_bounds(spark):
    from unipdf_spark.operators.similarity import ann_lsh_recall

    rows = ann_lsh_recall(spark, SF).collect()
    assert len(rows) == 8  # one row per query, even for empty buckets
    assert all(0.0 <= r["recall_at_k"] <= 1.0 for r in rows)


def test_ann_ivf_recall_floor(spark):
    from unipdf_spark.operators.similarity import ann_ivf_recall

    rows = ann_ivf_recall(spark, SF).collect()
    assert len(rows) == 8
    mean = sum(r["recall_at_k"] for r in rows) / len(rows)
    assert mean >= 0.3, mean  # random vectors, nprobe=4/16 clusters


def _nullspace_cloud(n, seed=7):
    """n vectors that all share the 12-bit primary LSH signature (their
    differences live in the nullspace of the first 12 hyperplanes) but have
    near-zero pairwise cosine — the adversarial hot-block shape: coarse
    blocking alone would put all n into ONE pandas group."""
    import numpy as np

    from unipdf_spark.operators.similarity import _W

    w = np.asarray(_W, dtype="float64")  # 28 x 64
    rng = np.random.default_rng(seed)
    v0 = np.linalg.pinv(w[:12]) @ np.ones(12)  # W[:12] @ v0 == 1 (margin)
    q, _ = np.linalg.qr(w[:12].T)  # orthonormal basis of the first-12 rowspace
    vecs = []
    for _ in range(n):
        u = rng.normal(size=64) * 50.0
        u -= q @ (q.T @ u)  # project out: W[:12] @ u == 0, sig12 unchanged
        vecs.append(v0 + u)
    return np.asarray(vecs)


def test_embedding_near_dup_hot_block_bounded(spark):
    """r2 VERDICT #1: >=10k vectors in ONE 12-bit block must (a) refine to
    finer blocks instead of forming one giant group, (b) complete with the
    chunked matmul, and (c) still report the planted duplicate pair."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from unipdf_spark.operators.similarity import (
        BLOCK_CAP, _embedding_blocked, _near_dup_blocked, _sig_range,
    )

    n = 10_000
    vecs = _nullspace_cloud(n)
    vecs[1] = vecs[0]  # planted exact duplicate (unsplittable by refinement)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n), "embedding": [list(map(float, v)) for v in vecs]}
        ),
        schema="vec_id long, embedding array<float>",
    ).repartition(8)

    sig = df.select(_sig_range(F.col("embedding"), 0, 12).alias("s0"))
    s0_counts = sig.groupBy("s0").count().collect()
    assert max(r["count"] for r in s0_counts) == n > BLOCK_CAP  # one hot block

    # the hot block refines to 20- or 28-bit blocks, each labelled with
    # its own size
    sizes = _embedding_blocked(df).groupBy("block", "n").count().collect()
    assert {r["block"][0] for r in sizes} & {"1", "2"}
    assert len({r["block"] for r in sizes}) == len(sizes)
    assert all(r["n"] == r["count"] for r in sizes)

    pairs = _near_dup_blocked(df).collect()
    assert (0, 1) in {(r["vec_a"], r["vec_b"]) for r in pairs}
    planted = [r for r in pairs if (r["vec_a"], r["vec_b"]) == (0, 1)]
    assert planted[0]["cosine"] == 1.0
    # the cloud itself is mutually dissimilar: no quadratic output blowup
    assert len(pairs) < 50


def test_embedding_near_dup_oracle_parity_with_planted_dups(spark, tmp_path):
    """Non-trivial oracle check (the sf tables have zero qualifying pairs):
    plant real near-dup pairs and compare Spark vs DuckDB row-for-row."""
    import duckdb
    import numpy as np
    import pandas as pd

    from unipdf_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    vecs = list(rng.normal(size=(300, 64)) * 3.0)
    vecs.append(vecs[10].copy())                 # exact dup -> ids (10, 300)
    vecs.append(vecs[20] + rng.normal(size=64) * 0.01)  # near dup (20, 301)
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [[float(np.float32(x)) for x in v] for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = sorted(
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in sim.embedding_near_dup_pairs(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(sim.NEAR_DUP_SQL).fetchall()))
    assert {(10, 300), (20, 301)} <= {(a, b) for a, b, _ in got}
    assert got == want


def test_simhash_hot_bucket_refinement_finds_planted_pair(spark):
    """r2 VERDICT #2: at bucket densities where EVERY 15-bit chunk bucket
    exceeds MAX_BUCKET (the >=2M-doc regime, simulated with synthetic
    fingerprints), the old code silently returned 0 pairs. The hierarchical
    refinement must still find a planted Hamming-2 pair, and a planted
    Hamming-3 pair whose only shared chunk is the hot one (a level-1
    pair), and the whole pair set must match the DuckDB oracle's."""
    import duckdb
    import pandas as pd

    from unipdf_spark.operators import dedup
    from unipdf_spark.operators.dedup import MAX_BUCKET, _simhash_pairs_from_fp

    rng_mult = 6364136223846793005
    n = 2000
    shared_low = 0x5A5A  # bits 0..14 identical -> chunk-0 bucket has n members
    fps = []
    for i in range(n):
        high = ((i * rng_mult + 1442695040888963407) % (1 << 45)) << 15
        fps.append((high | shared_low) & ((1 << 60) - 1))
    fps[1] = fps[0] ^ (1 << 20) ^ (1 << 40)  # planted Hamming-2 pair (0, 1)
    # planted Hamming-3 pair (2, 3): chunks 1..3 all differ, so only an
    # interleaved sub-chunk of the hot chunk-0 bucket can pair it
    fps[3] = fps[2] ^ (1 << 20) ^ (1 << 35) ^ (1 << 50)
    fps_pdf = pd.DataFrame({"doc_id": range(n), "simhash": fps})
    fp = spark.createDataFrame(
        fps_pdf, schema="doc_id long, simhash long",
    ).repartition(8)
    assert n > MAX_BUCKET
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in _simhash_pairs_from_fp(fp).collect()}
    assert pairs.get((0, 1)) == 2
    assert pairs.get((2, 3)) == 3
    assert all(h <= 3 for h in pairs.values())

    con = duckdb.connect()
    con.register("fps", fps_pdf)
    want = con.execute(dedup.SIMHASH_PAIRS_SQL.replace(
        dedup._SIMHASH_CTE, "fp AS (SELECT doc_id, simhash FROM fps)"
    )).fetchall()
    assert sorted(pairs.items()) == sorted(((a, b), h) for a, b, h in want)


def test_simhash_identical_swarm_reports_cluster_row(spark):
    """Level 2 (r3 VERDICT #1): a swarm of identical fingerprints larger
    than every cap must surface as ONE cluster row (simhash, size, 8-doc
    sample) — never as m(m-1)/2 Hamming-0 pairs (at 10M docs that is
    5×10¹³ output rows), and never silently vanish."""
    import pandas as pd

    from unipdf_spark.operators.dedup import (
        MAX_BUCKET, _simhash_pairs_from_fp, _simhash_swarms_from_fp)

    n = MAX_BUCKET + 36
    fp = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "simhash": [0x123456789ABCDE] * n}),
        schema="doc_id long, simhash long",
    )
    assert _simhash_pairs_from_fp(fp).count() == 0  # no pair expansion
    clusters = _simhash_swarms_from_fp(fp).collect()
    assert len(clusters) == 1
    assert clusters[0]["size"] == n
    assert list(clusters[0]["sample_doc_ids"]) == list(range(8))


def test_simhash_100k_swarm_bounded_output_and_planted_pair(spark):
    """The r3 'done' criterion: a 100k-identical-fingerprint swarm completes
    with O(1) output rows for the swarm while a planted Hamming-2 pair
    elsewhere in the corpus is still found."""
    import pandas as pd

    from unipdf_spark.operators.dedup import (
        _simhash_pairs_from_fp, _simhash_swarms_from_fp)

    n = 100_000
    swarm_fp = 0x0F0F0F0F0F0F0F & ((1 << 60) - 1)
    base = 0x2AAAAAAAAAAAAAA & ((1 << 60) - 1)
    fps = [swarm_fp] * n + [base, base ^ (1 << 7) ^ (1 << 44)]
    fp = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n + 2), "simhash": fps}),
        schema="doc_id long, simhash long",
    ).repartition(16).persist()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in _simhash_pairs_from_fp(fp).collect()}
    assert pairs.get((n, n + 1)) == 2  # planted pair found via level 0
    assert all(a >= n for a, _ in pairs)  # swarm produced no pairs
    clusters = _simhash_swarms_from_fp(fp).collect()
    assert len(clusters) == 1 and clusters[0]["size"] == n
    fp.unpersist()


def test_simhash_hot_corpus_oracle_parity(spark, tmp_path):
    """Spark vs DuckDB on a corpus dense enough to trigger refinement."""
    import duckdb

    from unipdf_spark.operators import dedup

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    a = "the quick brown fox jumps over the lazy dog again and again " * 8
    b = a.replace("dog", "cat", 1)  # known Hamming <= 3 pair
    texts = [boiler] * (dedup.MAX_BUCKET + 36) + [a, b]
    sf = _write_docs(spark, tmp_path, texts)
    got = sorted(
        tuple(r) for r in dedup.simhash_near_dup_pairs(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(dedup.SIMHASH_PAIRS_SQL).fetchall()))
    assert got == want
    n_hot = dedup.MAX_BUCKET + 36
    # the Hamming<=3 pair outside the swarm is found via level 0
    assert (n_hot, n_hot + 1) in {(x, y) for x, y, _ in got}
    # the identical-boilerplate swarm is cluster rows, not pairs (r3 #1)
    assert (0, 1, 0) not in got
    swarm = dedup.simhash_swarm_clusters(spark, sf).collect()
    assert len(swarm) == 1 and swarm[0]["size"] == n_hot
    assert list(swarm[0]["sample_doc_ids"]) == list(range(8))
    want_swarm = con.execute(dedup.SIMHASH_SWARMS_SQL).fetchall()
    assert [(r["simhash"], r["size"], list(r["sample_doc_ids"]))
            for r in swarm] == [(s, z, list(ids)) for s, z, ids in want_swarm]


def test_lsh_dropped_clusters_reports_capped_bucket(spark, tmp_path):
    """r2 VERDICT #3: the >MAX_BUCKET boilerplate cluster that
    minhash_lsh_pairs caps away must surface as a cluster row, with DuckDB
    parity on the same corpus."""
    import duckdb

    from unipdf_spark.operators import dedup

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    texts = [boiler] * (dedup.MAX_BUCKET + 36) + [a]
    sf = _write_docs(spark, tmp_path, texts)
    rows = dedup.lsh_dropped_clusters(spark, sf).collect()
    assert rows, "capped cluster must be reported, not silent"
    for r in rows:
        assert r["size"] == dedup.MAX_BUCKET + 36
        assert list(r["sample_doc_ids"]) == list(range(8))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(dedup.LSH_DROPPED_SQL).fetchall()))
    got = sorted(
        (r["band"], r["band_hash"], r["size"], list(r["sample_doc_ids"]))
        for r in rows
    )
    assert [(b, h, s, list(ids)) for b, h, s, ids in want] == got


def test_simhash_saturated_blocks_reports_and_matches_oracle(spark, tmp_path):
    """A swarm of identical docs saturates every chunk bucket AND every
    level-1 sub-bucket — the companion query must report those blocks (not
    stay silent), matching DuckDB row-for-row."""
    import duckdb

    from unipdf_spark.operators import dedup

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    texts = [boiler] * (dedup.MAX_BUCKET + 36) + ["something else entirely"]
    sf = _write_docs(spark, tmp_path, texts)
    rows = sorted(
        tuple(r) for r in dedup.simhash_saturated_blocks(spark, sf).collect()
    )
    assert rows, "saturated blocks must be reported"
    assert all(r[4] == dedup.MAX_BUCKET + 36 for r in rows)  # size col
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(dedup.SIMHASH_SATURATED_SQL).fetchall()))
    assert rows == want


def test_corpus_cleanup_drops_boilerplate_cluster(spark, tmp_path):
    """The cleanup composite must act on LSH-dense boilerplate (the clusters
    pairwise dedup caps away): one representative survives, the rest carry
    drop_boilerplate — matching DuckDB on the same corpus."""
    import duckdb

    from unipdf_spark.operators import dedup
    from unipdf_spark.operators.textops import CORPUS_CLEANUP_SQL, corpus_cleanup

    boiler = "one two three four five six seven eight nine ten " * 6
    texts = [boiler + f"tail{i}" for i in range(dedup.MAX_BUCKET + 36)]
    texts.append("a completely different normal document body here today")
    sf = _write_docs(spark, tmp_path, texts)
    rows = {r["doc_id"]: r for r in corpus_cleanup(spark, sf).collect()}
    n_hot = dedup.MAX_BUCKET + 36
    boiler_flags = [rows[i]["drop_boilerplate"] for i in range(n_hot)]
    assert sum(boiler_flags) >= n_hot - 8  # at most a few escape blocking
    assert not rows[n_hot]["drop_boilerplate"]  # the normal doc is kept
    assert rows[n_hot]["keep"]
    assert any(rows[i]["keep"] for i in range(n_hot))  # one representative
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(CORPUS_CLEANUP_SQL).fetchall()))
    got = sorted(
        (r["doc_id"], r["drop_duplicate"], r["drop_short"], r["drop_punct"],
         r["drop_boilerplate"], r["keep"])
        for r in rows.values()
    )
    assert got == want


def test_embedding_swarm_clusters_and_unified_companion(spark, tmp_path):
    """A sign-identical vector swarm past BLOCK_CAP must (a) vanish from
    embedding_near_dup_pairs (no m²/2 cosine-1.0 rows), (b) surface as one
    cluster row, and (c) appear in the unified near_dup_clusters companion
    together with the minhash/simhash families — all with DuckDB parity."""
    import duckdb
    import numpy as np
    import pandas as pd

    from unipdf_spark.operators import dedup
    from unipdf_spark.operators import similarity as sim

    rng = np.random.default_rng(5)
    n_swarm = sim.BLOCK_CAP + 20
    base = rng.normal(size=64) * 3.0
    vecs = [base.copy() for _ in range(n_swarm)]       # identical signs
    vecs += list(rng.normal(size=(40, 64)) * 3.0)      # background cloud
    vecs.append(vecs[n_swarm].copy())                  # planted pair outside
    pdf = pd.DataFrame({
        "vec_id": range(len(vecs)),
        "embedding": [[float(np.float32(x)) for x in v] for v in vecs],
        "label": [0] * len(vecs),
    })
    spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/embeddings.parquet")
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    texts = [boiler] * (dedup.MAX_BUCKET + 36) + ["something quite else"]
    _write_docs(spark, tmp_path, texts)
    sf = str(tmp_path)

    pairs = {(r["vec_a"], r["vec_b"])
             for r in sim.embedding_near_dup_pairs(spark, sf).collect()}
    assert (n_swarm, len(vecs) - 1) in pairs       # planted pair survives
    assert all(a >= n_swarm for a, _ in pairs)     # swarm emitted no pairs

    swarms = sim.embedding_swarm_clusters(spark, sf).collect()
    assert len(swarms) == 1 and swarms[0]["size"] == n_swarm
    assert list(swarms[0]["sample_vec_ids"]) == list(range(8))

    uni = sim.near_dup_clusters(spark, sf).collect()
    fams = {r["family"] for r in uni}
    assert fams == {"minhash_band", "simhash_swarm", "embedding_swarm"}
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet/*.parquet')")
    want = con.execute(sim.ORACLES["near_dup_clusters"]).fetchall()
    # order-insensitive (driver semantics): the Spark side no longer sorts
    got = sorted((r["family"], r["key"], r["size"], list(r["sample_ids"]))
                 for r in uni)
    assert got == sorted((f, k, s, list(ids)) for f, k, s, ids in want)
    # pairs oracle also agrees under the new swarm exclusion
    want_pairs = {(a, b) for a, b, _ in con.execute(
        sim.NEAR_DUP_SQL).fetchall()}
    assert pairs == want_pairs


def test_extracted_text_dedup_end_to_end(spark):
    """The integrated render→extract→reassemble→dedup path: every planted
    clone (doc_id % 7 == 0, re-rendered with a DIFFERENT paragraph layout)
    must land in its original's normalized-dedup group AND surface as a
    MinHash LSH candidate of it — computed entirely from text that made a
    full trip through the PDF engine."""
    import duckdb

    from unipdf_spark.operators import extracted

    out = extracted.extracted_text_dedup(spark, SF).collect()
    by_id = {r["doc_id"]: r for r in out}
    clones = [d for d in by_id if d >= extracted.CLONE_OFFSET]
    assert clones, "no planted clones at this sf"
    for cid in clones:
        orig = cid - extracted.CLONE_OFFSET
        assert by_id[cid]["canonical_doc_id"] == orig
        assert by_id[cid]["group_size"] >= 2
        assert by_id[orig]["group_size"] >= 2
        # identical content ⇒ identical signature ⇒ all 8 bands collide
        assert by_id[cid]["n_candidates"] >= 1
        assert by_id[orig]["n_candidates"] >= 1
    # full value parity vs DuckDB computing from the ORIGINAL text
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    oracle = con.execute(extracted.EXTRACTED_DEDUP_SQL).fetchall()
    spark_set = {(r["doc_id"], r["canonical_doc_id"], r["group_size"],
                  r["n_tokens"], r["n_candidates"]) for r in out}
    assert spark_set == {tuple(r) for r in oracle}


def test_extracted_text_dedup_oversized_doc_matches_oracle(spark,
                                                         oversized_sf):
    """The oversized-doc branch through the whole query: doc 14 and its
    planted clone are split into parts, extracted, reassembled and only
    then MinHashed; the output must equal the DuckDB oracle row for row."""
    import duckdb

    from unipdf_spark.operators import extracted

    got = sorted(tuple(r) for r in
                 extracted.extracted_text_dedup(spark, oversized_sf).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{oversized_sf}/documents.parquet/*.parquet')")
    want = sorted(con.execute(extracted.EXTRACTED_DEDUP_SQL).fetchall())
    assert got == want
    clone = {r[0]: r for r in got}[14 + extracted.CLONE_OFFSET]
    # (doc_id, canonical_doc_id, group_size, n_tokens, n_candidates)
    assert clone[1:3] == (14, 2) and clone[4] >= 1


def test_html_main_content_end_to_end(spark):
    """HTML leg of the main-content pipeline: boilerplate-laden wrap →
    DOM-heuristic strip must recover exactly the article text (oracle
    parity vs the original), and a NAIVE strip-all-tags extractor must
    FAIL on the same pages (the boilerplate is real, not decorative)."""
    import hashlib
    import re

    import duckdb

    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import main_content, text_blocks
    from unipdf_spark.operators.htmlops import (
        HTML_MAIN_SQL, html_main_content)

    out = {r["doc_id"]: r for r in html_main_content(spark, SF).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    oracle = con.execute(HTML_MAIN_SQL).fetchall()
    assert len(oracle) == len(out)
    for doc_id, main_hash, main_chars, n_tokens in oracle:
        r = out[doc_id]
        assert (r["main_hash"], r["main_chars"], r["n_tokens"]) == (
            main_hash, main_chars, n_tokens), doc_id

    # naive extractor control: dropping only script/style and stripping
    # tags keeps nav/sidebar/footer words — hash ≠ oracle
    row = con.execute(
        "SELECT doc_id, text FROM documents LIMIT 1").fetchone()
    html = make_html_doc(f"doc_{row[0]:08d}", row[1])
    naive = " ".join(t for t, _ld in text_blocks(html))
    naive = re.sub(r"\s+", " ", naive).strip()
    want = re.sub(r"\s+", " ", row[1]).strip()
    assert naive != want
    assert hashlib.md5(naive.encode()).hexdigest() != out[row[0]]["main_hash"]
    # and the real extractor matches on the same page
    got = re.sub(r"\s+", " ", main_content(html)).strip()
    assert got == want


def test_html_block_segmenter_features():
    """Unit: link density and block segmentation on a hand-built page."""
    from unipdf_spark.html_extract import main_content, text_blocks

    html = ("<html><head><title>T</title><script>x()</script></head><body>"
            "<nav><ul><li><a href='/'>home</a></li>"
            "<li><a href='/b'>blog</a></li></ul></nav>"
            "<p>this paragraph is long enough to be kept as body prose "
            "with a <a href='/x'>single</a> inline link inside it</p>"
            "<footer><a href='/t'>terms</a></footer></body></html>")
    blocks = dict((t, ld) for t, ld in text_blocks(html))
    assert "T" in blocks and "x()" not in " ".join(blocks)
    nav = [ld for t, ld in blocks.items() if t in ("home", "blog")]
    assert nav and all(ld == 1.0 for ld in nav)
    main = main_content(html)
    assert main.startswith("this paragraph") and "home" not in main
    assert "terms" not in main


def test_html_boiler_scope_survives_nested_same_name_tags():
    """r7 ADVICE (medium): a nested same-name element inside a class-
    hinted boiler container must not close the scope early — the inner
    </div> here previously popped the sidebar frame and leaked the promo
    paragraph into main content."""
    from unipdf_spark.html_extract import blocks_with_context, main_content

    promo = ("this is a long promotional paragraph of boilerplate text "
             "planted inside the sidebar after a nested plain div")
    body = ("the real article body is this long paragraph of honest "
            "prose that must be kept as extracted main content")
    html = (f"<html><body><div class='sidebar'><div>widget</div>"
            f"<p>{promo}</p></div><p>{body}</p></body></html>")
    ctx = {t: b for t, _ld, b in blocks_with_context(html)}
    assert ctx["widget"] is True
    assert ctx[promo] is True, "nested </div> closed the sidebar early"
    assert ctx[body] is False
    m = main_content(html)
    assert promo not in m and body in m
    # two levels deep + a sibling scope reopening afterwards
    html2 = (f"<body><nav><div><div><a href='/'>x</a></div></div></nav>"
             f"<p>{body}</p>"
             f"<div id='related-posts'><div><div>deep</div></div>"
             f"<p>{promo}</p></div></body>")
    ctx2 = {t: b for t, _ld, b in blocks_with_context(html2)}
    assert ctx2[body] is False and ctx2[promo] is True
    assert ctx2["deep"] is True


def test_html_near_gate_boundary_pairs():
    """r7 VERDICT #4: each classifier threshold is INDIVIDUALLY
    falsifiable by a planted near-gate probe —
    - an exactly-24-char unhinted chrome block with no content neighbor
      (leaks iff MIN_BLOCK_CHARS drifts ≤ 24);
    - an unhinted chrome block with link density just over 1/3 (leaks iff
      MAX_LINK_DENSITY drifts up);
    - an article paragraph isolated between hinted ads, kept by the
      length gate ALONE (drops iff the gate drifts past its length);
    - an article paragraph linked to just UNDER the density gate (drops
      iff the gate drifts down);
    - document-leading short dialogue (kept via backward smoothing — the
      r7 anchor-only-after-long fixture restriction is removed);
    - sidebar promo prose after a nested same-name <div> (leaks iff the
      boiler scope pops early)."""
    import random
    import re

    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import (MAX_LINK_DENSITY,
                                           MIN_BLOCK_CHARS,
                                           blocks_with_context,
                                           main_content)

    assert MIN_BLOCK_CHARS == 25 and abs(MAX_LINK_DENSITY - 1 / 3) < 0.01
    rng = random.Random(11)
    words = [rng.choice("alpha beta gamma delta epsilon zeta eta theta"
                        " iota kappa lambdaword mu".split())
             for _ in range(400)]
    seen = {"gate24": 0, "dense_above": 0, "iso": 0, "dense_below": 0,
            "lead_short": 0, "promo": 0}
    ws = re.compile(r"\s+")
    for i in range(40):
        did = f"doc_{i:08d}"
        text = " ".join(words[: 40 + i * 9])
        html = make_html_doc(did, text)
        main = ws.sub(" ", main_content(html)).strip()
        assert main == ws.sub(" ", text).strip(), did
        blocks = blocks_with_context(html)
        texts = [t for t, _ld, _b in blocks]
        # (a) the 24-char probe exists, is out of main, densities honest
        g24 = [k for k, t in enumerate(texts) if t == "Posted 12 May 2026 14:02"]
        if g24:
            seen["gate24"] += 1
            assert len(texts[g24[0]]) == MIN_BLOCK_CHARS - 1
            assert "Posted 12 May 2026 14:02" not in main
        # (b) a long unhinted block with density in (1/3, 0.42]
        for t, ld, inb in blocks:
            if not inb and len(t) >= MIN_BLOCK_CHARS \
                    and MAX_LINK_DENSITY < ld <= 0.42:
                seen["dense_above"] += 1
                assert t not in main
                break
        # (c) isolated near-gate paragraph: between two ad blocks in the
        # html, ≥25 chars, present in main
        m = re.search(r'<div class="ad">[^<]*</div>\n  <p>([^<]+)</p>\n'
                      r'  <div class="ad">', html)
        if m:
            iso = ws.sub(" ", m.group(1)).strip()
            assert len(iso) >= MIN_BLOCK_CHARS and len(iso) <= 40
            assert iso in main
            seen["iso"] += 1
        # (d) article paragraph just under the density gate
        for t, ld, inb in blocks:
            if not inb and 0.28 < ld <= 0.33 and t in main:
                seen["dense_below"] += 1
                break
        # (e) document-leading dialogue: first article <p> short
        first_p = re.search(r"<p>\n    (.*?)\n  </p>", html, re.S)
        if first_p:
            t0 = ws.sub(" ", re.sub(r"<[^>]+>", "", first_p.group(1))).strip()
            if len(t0) < MIN_BLOCK_CHARS and text.startswith(t0.split()[0]):
                if main.startswith(t0):
                    seen["lead_short"] += 1
        # (f) sidebar promo prose never leaks
        assert "Subscribe to our" not in main
        if "Subscribe to our" in html:
            seen["promo"] += 1
    assert seen["gate24"] == 40 and seen["promo"] == 40
    assert seen["dense_above"] == 40
    assert seen["iso"] >= 20 and seen["dense_below"] >= 5
    assert seen["lead_short"] >= 1, seen


def test_html_adversarial_fixture_defeats_bare_gate():
    """r6 VERDICT #2: the fixture no longer compensates for the
    classifier's thresholds. The wrapped page now plants (a) short
    dialogue paragraphs inside the article (below MIN_BLOCK_CHARS — only
    neighbor smoothing keeps them) and (b) long low-link boilerplate
    prose (cookie consent, about-the-author) that a bare length+density
    gate would keep. The full heuristic set must recover the article
    exactly; the bare gate must fail on pages exhibiting either class."""
    import re

    import duckdb

    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import (MAX_LINK_DENSITY,
                                           MIN_BLOCK_CHARS, main_content,
                                           text_blocks)

    ws = re.compile(r"\s+")
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet' LIMIT 120"
    ).fetchall()
    n_gate_fail = n_dialogue_pages = 0
    for did, text in rows:
        doc_id = f"doc_{did:08d}"
        html = make_html_doc(doc_id, text or "")
        want = ws.sub(" ", text or "").strip()
        if len(want) < MIN_BLOCK_CHARS:
            want = ""
        got = ws.sub(" ", main_content(html)).strip()
        assert got == want, doc_id
        # bare length+density gate (the r6 classifier)
        bare = ws.sub(" ", " ".join(
            t for t, ld in text_blocks(html)
            if len(t) >= MIN_BLOCK_CHARS and ld <= MAX_LINK_DENSITY
        )).strip()
        assert "cookies" in bare and "About the author:" in bare
        if bare != want:
            n_gate_fail += 1
        # count pages whose article actually planted a short paragraph
        # (<p> is used only for article paragraphs in every template)
        paras = [ws.sub(" ", re.sub(r"<[^>]+>", "", p)).strip()
                 for p in re.findall(r"<p>(.*?)</p>", html, re.S)]
        if any(len(p) < MIN_BLOCK_CHARS for p in paras):
            n_dialogue_pages += 1
    assert n_gate_fail == len(rows)  # cookie/author prose leaks every time
    assert n_dialogue_pages > 10  # the short-paragraph class is exercised


def test_html_class_hint_and_smoothing_units():
    """Units for the r7 heuristics: class-hint boilerplate context and
    bidirectional neighbor smoothing."""
    from unipdf_spark.html_extract import main_content

    long_a = "alpha " * 10 + "closes the first paragraph of prose here"
    long_b = "beta " * 10 + "closes the second paragraph of prose here"
    html = (
        "<body>"
        "<div class='cookie-consent'>We use cookies to improve your "
        "experience and to measure traffic across all our pages.</div>"
        f"<p>{long_a}</p>"
        "<p>No.</p>"
        f"<p>{long_b}</p>"
        "<p>Yes.</p>"
        "<div class='author-byline'>About the author: a correspondent "
        "writing about things since 2011.</div>"
        "</body>"
    )
    main = main_content(html)
    assert "cookies" not in main and "About the author" not in main
    assert "No." in main and "Yes." in main  # smoothing keeps dialogue
    # an isolated short block with no content neighbor stays dropped
    html2 = ("<body><nav><a href='/'>home</a></nav><p>hi</p>"
             "<footer>f</footer></body>")
    assert main_content(html2) == ""


def test_html_void_tags_never_open_boiler_scope():
    """r9 ADVICE (medium): void elements have no end tag, so a hinted
    <img class="ad-banner"> must not push a boiler frame that never pops
    (pre-fix: every block after it was flagged boilerplate and
    main_content returned ''), and a hint-less void tag inside an open
    scope must not bump the same-name nesting counter (its end never
    arrives to decrement it)."""
    import re

    from unipdf_spark.html_extract import main_content

    art = ("The article body follows the banner image and is long "
           "enough prose to pass the block length gate. ") * 2
    html = f'<body><img class="ad-banner"><p>{art}</p></body>'
    assert art.strip() in re.sub(r"\s+", " ", main_content(html))
    # a hinted void followed by hint-less voids: pre-fix the later <img>
    # tags incremented the stuck [img, 0] frame
    html3 = f'<body><img class="advert"><img><p>{art}</p><img></body>'
    assert art.strip() in re.sub(r"\s+", " ", main_content(html3))
    # hint-less void INSIDE a real open scope: the scope must still close
    # at its real end tag, keeping the promo in and the article out of it
    html2 = (
        '<body><div class="sidebar-promo"><img><p>subscribe now while '
        "the promotion lasts and save twenty percent today</p></div>"
        f"<p>{art}</p></body>"
    )
    m2 = re.sub(r"\s+", " ", main_content(html2))
    assert "subscribe" not in m2 and art.strip() in m2


def test_oversized_doc_split_roundtrip(spark):
    """Scale path for heavy-tailed corpora (r6 VERDICT #3): a text beyond
    PART_CHARS splits into bounded word-boundary parts that extract as
    independent tasks and reassemble to the identical token stream; small
    docs stay single-part on the shuffle-free path."""
    import re

    import duckdb
    import pandas as pd

    from unipdf_spark.operators.extracted import (
        PART_CHARS, reassemble_parts, render_extract_parts)

    base = duckdb.sql(
        f"SELECT text FROM '{SF}/documents.parquet' LIMIT 1").fetchone()[0]
    mega = (base + " ") * (3 * PART_CHARS // (len(base) + 1) + 1)
    named = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["doc_00000001", "doc_00000002"],
        "text": [base, mega],
    }))
    pe = render_extract_parts(named).persist()
    rows = pe.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and not by_doc[1][0]["multi"]
    assert len(by_doc[2]) >= 3 and all(r["multi"] for r in by_doc[2])
    # every part atom is bounded (the whole point)
    assert all(len(r["text"]) <= PART_CHARS + 50 for r in by_doc[2])
    assert all(r["error"] is None for r in rows)
    assert all(r["elapsed_ms"] >= 0 for r in rows)

    ws = re.compile(r"\s+")
    out = {r["doc_id"]: r["text"] for r in reassemble_parts(pe).collect()}
    pe.unpersist()
    assert out[1] == ws.sub(" ", base).strip()
    assert out[2] == ws.sub(" ", mega).strip()


def test_oversized_doc_atoms_spread_over_the_cores(spark):
    """The parts of oversized docs run in parallel: 4 docs of 4 parts
    each give 16 atoms, which must land in min(16, cores) distinct
    partitions. (AQE coalesces a range exchange of so few small rows
    into one partition, where all 16 atoms would run in one task.)"""
    import pandas as pd

    from unipdf_spark.operators.extracted import render_extract_parts

    # 10-char words, 20 to a 200-char part: 70 words make 4 parts
    text = " ".join(f"w{i:08d}" for i in range(70))
    named = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"doc_{i:08d}" for i in range(4)], "text": [text] * 4}))
    atoms = [r for r in render_extract_parts(named, part_chars=200).collect()
             if r["multi"]]
    assert len(atoms) == 16 and all(r["error"] is None for r in atoms)
    cores = spark.sparkContext.defaultParallelism
    assert len({r["partition_id"] for r in atoms}) == min(16, cores)


def test_lsh_armor_stats_engagement(spark, tmp_path):
    """r10 VERDICT #4: skew-armor engagement must be visible as a metric.
    A planted 100x-duplicate corpus sets dropped_buckets/dropped_doc_slots
    nonzero; a swarm-free corpus reports exact zeros."""
    from unipdf_spark.operators import dedup
    from unipdf_spark.operators.dedup import band_table, lsh_armor_stats, \
        minhash_signatures_pandas

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 6
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    n_hot = 100
    sf = _write_docs(spark, tmp_path, [boiler] * n_hot + [a])
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bt = band_table(minhash_signatures_pandas(docs))
    armor = lsh_armor_stats(bt)
    # every band's boilerplate bucket holds all 100 clones > MAX_BUCKET
    assert armor["dropped_buckets"] == dedup.N_HASHES // dedup.BAND_SIZE
    assert armor["dropped_doc_slots"] == \
        n_hot * (dedup.N_HASHES // dedup.BAND_SIZE)

    clean = _write_docs(
        spark, tmp_path / "clean",
        [f"unique words {i} {i*7} {i*13} content block {i}" for i in range(12)])
    docs2 = spark.read.parquet(f"{clean}/documents.parquet")
    armor2 = lsh_armor_stats(band_table(minhash_signatures_pandas(docs2)))
    assert armor2 == {"dropped_buckets": 0, "dropped_doc_slots": 0}
