"""Similarity search over the `embeddings` table (array<float> vectors).

* brute-force cosine top-k — the correctness baseline, expressed with
  JVM-side `aggregate`/`zip_with` (no Python in the loop); the small query
  set is broadcast so the candidate side never shuffles;
* LSH-bucketed variant (random-hyperplane signs via deterministic per-dim
  hash weights) — the scale path: at 10^9 vectors only same-bucket
  candidates are scored;
* embedding near-duplicate pairs (cosine ≥ τ within hierarchical
  sign-LSH blocks).

Cosine is computed in double with identical element order on both engines so
ROUND(·, 6) hashes identically against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..pipeline import prepare_worker
from ..schema import read_sf
from . import phash

TOP_K = 5
N_QUERIES = 8
DIM = 64
N_BITS = 12
# near-dup blocking refines 12 → 20 → 28 bits (only for oversized blocks)
REFINE_BITS = 28
BLOCK_CAP = 64

# deterministic hyperplane weights, identical Python-float literals inlined
# into both engines' plans (multiples of 0.002 — exactly representable)
_W = [
    [phash.hyperplane_weight(b * DIM + d) for d in range(DIM)]
    for b in range(REFINE_BITS)
]


def _w28_arrays():
    import numpy as np

    return (np.asarray(_W, dtype="float64").T,          # 64×28 for m @ W.T
            (1 << np.arange(REFINE_BITS)).astype("int64"))


_W28_T, _W28_POW = _w28_arrays()


def _dot_lits(emb_col: Column, lits: list[float]) -> Column:
    """dot(emb, literal vector) as a left fold — element order d = 0..63
    matches DuckDB's LIST_DOT_PRODUCT exactly (proven-portable shape)."""
    return F.aggregate(
        F.zip_with(
            emb_col,
            F.array(*[F.lit(x) for x in lits]),
            lambda x, wv: x.cast("double") * wv,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sig_range(emb_col: Column, lo: int, hi: int) -> Column:
    """Random-hyperplane sign bits [lo, hi) packed into an int (Spark side):
    one :func:`_dot_lits` fold per bit against that bit's 64-literal weight
    array. (A single-pass wide accumulator was tried and is SLOWER here:
    dynamic element_at into a big literal array per element×bit dominates;
    per-bit folds keep each weight array a constant local.)"""
    bits = [F.when(_dot_lits(emb_col, _W[b]) > 0, F.lit(1 << (b - lo)))
            .otherwise(F.lit(0)) for b in range(lo, hi)]
    return sum(bits[1:], bits[0])


def _lsh_sig(emb_col: Column) -> Column:
    """12-bit signature used by the ANN bucketing path."""
    return _sig_range(emb_col, 0, N_BITS)


def _sig_range_sql(emb_expr: str, lo: int, hi: int) -> str:
    """The identical bit-range signature in DuckDB SQL."""
    terms = []
    for b in range(lo, hi):
        ws = ", ".join(repr(x) for x in _W[b])
        terms.append(
            f"(CASE WHEN LIST_DOT_PRODUCT({emb_expr}, [{ws}]) > 0 "
            f"THEN {1 << (b - lo)} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _lsh_sig_sql(emb_expr: str) -> str:
    return _sig_range_sql(emb_expr, 0, N_BITS)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phash.spread(read_sf(spark, sf_dir, "embeddings"), spark)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a fixed query set (vec_id < N_QUERIES) against
    the rest. Queries are broadcast — one scan of the candidate side, no
    shuffle until the tiny per-query top-k aggregation."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
           WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings
      WHERE vec_id >= {N_QUERIES}),
scored AS (
    SELECT query_id, cand_id,
           ROUND(LIST_DOT_PRODUCT(LIST_TRANSFORM(q_emb, x -> x::DOUBLE),
                                  LIST_TRANSFORM(c_emb, x -> x::DOUBLE)) /
                 (SQRT(LIST_DOT_PRODUCT(LIST_TRANSFORM(q_emb, x -> x::DOUBLE),
                                        LIST_TRANSFORM(q_emb, x -> x::DOUBLE))) *
                  SQRT(LIST_DOT_PRODUCT(LIST_TRANSFORM(c_emb, x -> x::DOUBLE),
                                        LIST_TRANSFORM(c_emb, x -> x::DOUBLE)))), 6) AS cosine
    FROM q CROSS JOIN c
)
SELECT query_id, cand_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): 12-bit portable random-hyperplane
    signature; query/candidate pairs are scored only within matching buckets.
    Recall <1 by construction (see ann_lsh_recall). The signature arithmetic
    is engine-portable → fully oracle-checked."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    sig = e.select("vec_id", "embedding", _lsh_sig(F.col("embedding")).alias("sig"))
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sig").alias("q_sig"),
    )
    c = sig.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("sig").alias("c_sig"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_sig") == F.col("c_sig"))
        .select(
            "query_id",
            "cand_id",
            F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
s AS (SELECT vec_id, emb, {_lsh_sig_sql('emb')} AS sig FROM e),
q AS (SELECT vec_id AS query_id, emb AS q_emb, sig FROM s
      WHERE vec_id < {N_QUERIES}),
c AS (SELECT vec_id AS cand_id, emb AS c_emb, sig FROM s
      WHERE vec_id >= {N_QUERIES}),
scored AS (
    SELECT query_id, cand_id,
           ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                 (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                  SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 6) AS cosine
    FROM q JOIN c USING (sig)
)
SELECT query_id, cand_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _recall(spark: SparkSession, sf_dir: str, topk) -> DataFrame:
    """recall@k per query of a scale path's ``topk(spark, sf_dir)`` vs the
    exact bruteforce baseline — quantifies what bucketing gives up
    (VERDICT: a scale path without a recall number is unquantified)."""
    bf = ann_bruteforce_topk(spark, sf_dir).select("query_id", "cand_id")
    hits = (
        topk(spark, sf_dir)
        .select("query_id", "cand_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        bf.join(hits, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.lit(TOP_K), 4
            ).alias("recall_at_k")
        )
        .orderBy("query_id")
    )


def _recall_sql(topk_sql: str) -> str:
    return f"""
SELECT b.query_id,
       ROUND(SUM(CASE WHEN l.cand_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / {TOP_K}, 4) AS recall_at_k
FROM ({ANN_SQL}) b
LEFT JOIN ({topk_sql}) l
  ON b.query_id = l.query_id AND b.cand_id = l.cand_id
GROUP BY b.query_id
ORDER BY b.query_id
"""


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the LSH scale path (:func:`_recall`)."""
    return _recall(spark, sf_dir, ann_lsh_topk)


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF scale path (:func:`_recall`) — fully
    oracle-checked now that the codebook is literal."""
    return _recall(spark, sf_dir, ann_ivf_topk)


# IVF codebook: deterministic literal centroids (r2 VERDICT #10 — replaces
# the driver-side k-means fit so assignment/probing are SQL-expressible and
# the recall floor stays test-asserted). Same device as the hyperplane
# weights: fixed pseudo-random literals inlined into BOTH engines' plans.
K_IVF = 16
NPROBE = 4
_CENT = [
    [phash.hyperplane_weight(100_000 + c * DIM + d) for d in range(DIM)]
    for c in range(K_IVF)
]
_CENT_NORM2 = [sum(x * x for x in row) for row in _CENT]


def _ivf_scores(emb_col: Column) -> Column:
    """Array of K_IVF cluster scores, argmin-equivalent to squared L2
    distance: |e-c|² = |e|² - 2e·c + |c|², and |e|² is row-constant, so
    score_c = |c|² - 2·(e·c) ranks clusters identically."""
    return F.array(*[
        F.lit(_CENT_NORM2[c]) - F.lit(2.0) * _dot_lits(emb_col, _CENT[c])
        for c in range(K_IVF)
    ])


def _ivf_scores_sql(emb_expr: str) -> str:
    terms = []
    for c in range(K_IVF):
        ws = ", ".join(repr(x) for x in _CENT[c])
        terms.append(
            f"({_CENT_NORM2[c]!r} - 2.0 * LIST_DOT_PRODUCT({emb_expr}, [{ws}]))"
        )
    return "[" + ", ".join(terms) + "]"


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (scale path #2): every vector is assigned to its nearest
    codebook centroid; queries probe only the NPROBE nearest clusters, so
    the scored candidate set is ~NPROBE/K_IVF of the corpus.

    Scale shape: candidate assignment is argmin over a 16-score array —
    pure map-side JVM expressions, NO shuffle for the 10⁹-row side (the
    earlier window-rank formulation would have shuffled n×16 rows); only
    the 8-row query side pays a (trivial) window for its probe list."""
    from pyspark.sql.window import Window

    e = _emb(spark, sf_dir)
    s = e.select("vec_id", "embedding", _ivf_scores(F.col("embedding")).alias("scores"))
    c = s.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        (F.array_position(F.col("scores"), F.array_min("scores")) - 1)
        .cast("int").alias("cluster"),
    )
    qp = s.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.posexplode("scores").alias("cluster", "score"),
    )
    wq = Window.partitionBy("query_id").orderBy("score", "cluster")
    q = (
        qp.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= NPROBE)
        .select("query_id", "q_emb", "cluster")
    )
    scored = (
        F.broadcast(q)
        .join(c, "cluster")
        .select(
            "query_id", "cand_id",
            F.round(_cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS emb
           FROM embeddings),
s AS (SELECT vec_id, emb, {_ivf_scores_sql('emb')} AS scores FROM e),
c AS (SELECT vec_id AS cand_id, emb AS c_emb,
             (LIST_POSITION(scores, LIST_MIN(scores)) - 1)::INT AS cluster
      FROM s WHERE vec_id >= {N_QUERIES}),
qp AS (SELECT vec_id AS query_id, emb AS q_emb, (g.i - 1)::INT AS cluster,
              scores[g.i] AS score
       FROM s, RANGE(1, {K_IVF + 1}) g(i) WHERE vec_id < {N_QUERIES}),
q AS (SELECT query_id, q_emb, cluster FROM (
          SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY score, cluster) AS rn FROM qp)
      WHERE rn <= {NPROBE}),
scored AS (
    SELECT query_id, cand_id,
           ROUND(LIST_DOT_PRODUCT(q_emb, c_emb) /
                 (SQRT(LIST_DOT_PRODUCT(q_emb, q_emb)) *
                  SQRT(LIST_DOT_PRODUCT(c_emb, c_emb))), 6) AS cosine
    FROM q JOIN c USING (cluster)
)
SELECT query_id, cand_id, cosine, rank
FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""

def _embedding_blocked(e: DataFrame) -> DataFrame:
    """Hierarchical sign-LSH blocking over a (vec_id, embedding) frame as
    ONE window chain, the oracle's ``k``: (vec_id, embedding, s0, s1, s2,
    block, n), where ``n`` is the block's size. A 28-bit block with
    ``n > BLOCK_CAP`` is a level-3 sign-identical swarm (unsplittable by
    refinement)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sig28(emb):
        import numpy as np
        import pandas as pd

        prepare_worker()
        m = np.stack(emb.to_numpy()).astype("float64")
        bits = (m @ _W28_T) > 0.0  # n×28 sign matrix, one vectorized matmul
        return pd.Series((bits @ _W28_POW).astype("int64"))

    # All 28 signature bits in ONE Arrow-batched numpy matmul — the
    # per-bit Catalyst HOF folds are interpreted and cost ~5s at bench
    # scale; numpy computes the same dot products in microseconds. Sign
    # agreement with the oracle's LIST_DOT_PRODUCT holds except for dots
    # within ~1e-15 of zero (pairwise vs sequential summation).
    sigs = e.select(
        "vec_id", "embedding", sig28(F.col("embedding")).alias("sig")
    ).selectExpr(
        "vec_id", "embedding", "sig % 4096 AS s0",
        "shiftright(sig, 12) % 256 AS s1", "shiftright(sig, 20) % 256 AS s2")
    # Block sizes at 12, 20 and 28 bits are window counts, which all sit on
    # ONE hash exchange on s0 (each finer key contains s0), so the sig28
    # pass runs once and no count is joined back. The rows themselves,
    # embeddings included, go through that exchange: a hot s0 block meets
    # in one window task's spillable buffer, as in dedup.bucket_window.
    # Level 3 (n > BLOCK_CAP) marks sign-identical swarms that even 28
    # hyperplanes cannot split AND that exceed the cap: those are excluded
    # from pair generation (an m-identical-vector swarm would emit
    # m(m−1)/2 cosine-1.0 rows) and reported as cluster rows by
    # embedding_swarm_clusters instead (r3 VERDICT #9).
    s0, s1, s2 = (f"CAST({c} AS STRING)" for c in ("s0", "s1", "s2"))
    return sigs.selectExpr(
        "*", "count(1) OVER (PARTITION BY s0) AS c12",
        "count(1) OVER (PARTITION BY s0, s1) AS c20",
        "count(1) OVER (PARTITION BY s0, s1, s2) AS c28",
    ).selectExpr(
        "vec_id", "embedding", "s0", "s1", "s2",
        f"CASE WHEN c12 <= {BLOCK_CAP} THEN concat_ws(':', '0', {s0}) "
        f"WHEN c20 <= {BLOCK_CAP} THEN concat_ws(':', '1', {s0}, {s1}) "
        f"ELSE concat_ws(':', '2', {s0}, {s1}, {s2}) END AS block",
        f"CASE WHEN c12 <= {BLOCK_CAP} THEN c12 "
        f"WHEN c20 <= {BLOCK_CAP} THEN c20 ELSE c28 END AS n")


def _embedding_swarms_from(e: DataFrame) -> DataFrame:
    """Cluster rows for level-3 sign-identical swarms: (sig, size,
    sample_vec_ids) — the lsh_dropped_clusters representation, O(#swarms)
    output instead of O(m²/2) cosine-1.0 pairs. A level-3 block is a
    whole 28-bit block, so its size is the block's ``n``."""
    from .dedup import bounded_min_sample

    members = _embedding_blocked(e).filter(f"n > {BLOCK_CAP}").selectExpr(
        "vec_id", "s0 + shiftleft(s1, 12) + shiftleft(s2, 20) AS sig",
        "n AS size")
    return (
        bounded_min_sample(members, ["sig", "size"], col="vec_id")
        .selectExpr("sig", "size", "sample_doc_ids AS sample_vec_ids")
    )


def embedding_swarm_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps companion to embedding_near_dup_pairs: every sign-
    identical swarm larger than BLOCK_CAP as one cluster row."""
    return _embedding_swarms_from(_emb(spark, sf_dir))


def _near_dup_blocked(e: DataFrame) -> DataFrame:
    """Core of embedding_near_dup_pairs over a (vec_id, embedding) frame —
    split out so the hot-block skew test can feed a synthetic corpus.
    Level-3 swarm blocks are excluded from pair generation (see
    _embedding_blocked / embedding_swarm_clusters)."""
    # Singleton blocks can't pair — drop them BEFORE the pandas stage so the
    # per-group Arrow overhead is paid only for blocks that can produce
    # output (most of a healthy corpus is singletons); level-3 blocks are
    # the ones larger than BLOCK_CAP.
    blocked = _embedding_blocked(e).filter(
        f"n BETWEEN 2 AND {BLOCK_CAP}"
    ).select("vec_id", "embedding", "block")

    def find_pairs(pdf):
        import numpy as np
        import pandas as pd

        prepare_worker()
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.sqrt((m * m).sum(axis=1))
        # Row-chunked matmul: the sims slab is capped at ~8M doubles (64 MB)
        # regardless of block size, so a 28-bit-dense cluster (identical
        # vectors agree on EVERY hyperplane — unsplittable by construction)
        # still runs in bounded task memory instead of allocating n×n.
        chunk = max(1, (1 << 23) // n)
        outs_a, outs_b, outs_c = [], [], []
        for i0 in range(0, n, chunk):
            i1 = min(i0 + chunk, n)
            sims = (m[i0:i1] @ m.T) / np.outer(norms[i0:i1], norms)
            rows, cols = np.nonzero(
                (np.round(sims, 6) >= 0.95)
                & (np.arange(n)[None, :] > np.arange(i0, i1)[:, None])
            )
            outs_a.append(ids[rows + i0])
            outs_b.append(ids[cols])
            outs_c.append(np.round(sims[rows, cols], 6))
        a = np.concatenate(outs_a)
        b = np.concatenate(outs_b)
        return pd.DataFrame(
            {
                "vec_a": np.minimum(a, b),
                "vec_b": np.maximum(a, b),
                "cosine": np.concatenate(outs_c),
            }
        )

    # One Arrow-batched numpy matmul per block — ~64× fewer flops through
    # the interpreter than per-pair higher-order-function dots. No orderBy
    # on the pair output: a global sort adds a range-partition SAMPLING
    # pass that recomputes the whole pair stage twice per run; the
    # correctness compare is order-insensitive.
    return blocked.groupBy("block").applyInPandas(
        find_pairs, "vec_a long, vec_b long, cosine double")


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs: LSH-signature-blocked (near-identical
    vectors share all hyperplane signs), cosine ≥ 0.95 within a block.

    Scale shape (r2 VERDICT #1 fix): blocks start at 12 signature bits and
    REFINE to 20 then 28 bits ONLY when the coarser block exceeds BLOCK_CAP
    rows — block count adapts to corpus size instead of being pinned at
    4,096, and the per-block cosine matmul is row-chunked so task memory is
    O(block × chunk), not O(block²). Sign-identical swarms larger than
    BLOCK_CAP can't be split by more hyperplanes; they are cluster rows
    of near_dup_clusters, never pairs. The refinement rule is three
    window counts, the DuckDB oracle's own blocking."""
    return _near_dup_blocked(_emb(spark, sf_dir))


NEAR_DUP_SQL = f"""
WITH d0 AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS emb
            FROM embeddings),
d AS (SELECT vec_id, emb,
             {_sig_range_sql('emb', 0, 12)} AS s0,
             {_sig_range_sql('emb', 12, 20)} AS s1,
             {_sig_range_sql('emb', 20, 28)} AS s2
      FROM d0),
k AS (SELECT *, COUNT(*) OVER (PARTITION BY s0) AS c12,
               COUNT(*) OVER (PARTITION BY s0, s1) AS c20,
               COUNT(*) OVER (PARTITION BY s0, s1, s2) AS c28
      FROM d),
b AS (SELECT vec_id, emb,
        CASE WHEN c12 <= {BLOCK_CAP} THEN '0:' || s0::VARCHAR
             WHEN c20 <= {BLOCK_CAP}
                  THEN '1:' || s0::VARCHAR || ':' || s1::VARCHAR
             ELSE '2:' || s0::VARCHAR || ':' || s1::VARCHAR || ':'
                  || s2::VARCHAR END AS block
      FROM k
      -- level-3 sign-identical swarms are cluster rows, never pairs
      WHERE NOT (c12 > {BLOCK_CAP} AND c20 > {BLOCK_CAP}
                 AND c28 > {BLOCK_CAP})),
p AS (
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
           ROUND(LIST_DOT_PRODUCT(a.emb, c.emb) /
                 (SQRT(LIST_DOT_PRODUCT(a.emb, a.emb)) *
                  SQRT(LIST_DOT_PRODUCT(c.emb, c.emb))), 6) AS cosine
    FROM b a JOIN b c ON a.block = c.block AND a.vec_id < c.vec_id
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= 0.95
ORDER BY vec_a, vec_b
"""

# shared blocking CTE prefix for the swarm companion
_EMBED_SWARM_CORE = f"""
d0 AS (SELECT vec_id, LIST_TRANSFORM(embedding, x -> x::DOUBLE) AS emb
       FROM embeddings),
d AS (SELECT vec_id, emb,
             {{s0}} AS s0,
             {{s1}} AS s1,
             {{s2}} AS s2
      FROM d0),
k AS (SELECT *, COUNT(*) OVER (PARTITION BY s0) AS c12,
               COUNT(*) OVER (PARTITION BY s0, s1) AS c20,
               COUNT(*) OVER (PARTITION BY s0, s1, s2) AS c28
      FROM d),
eswarm AS (SELECT vec_id, s0 + s1 * 4096 + s2 * 1048576 AS sig
           FROM k WHERE c12 > {BLOCK_CAP} AND c20 > {BLOCK_CAP}
                    AND c28 > {BLOCK_CAP}),
esized AS (SELECT sig, COUNT(*) AS size FROM eswarm GROUP BY sig),
eranked AS (
    SELECT s.sig, z.size, s.vec_id,
           ROW_NUMBER() OVER (PARTITION BY s.sig ORDER BY s.vec_id) AS rn
    FROM eswarm s JOIN esized z USING (sig)
)"""


def _embed_swarm_cte() -> str:
    return _EMBED_SWARM_CORE.format(
        s0=_sig_range_sql("emb", 0, 12),
        s1=_sig_range_sql("emb", 12, 20),
        s2=_sig_range_sql("emb", 20, 28),
    )


EMBED_SWARMS_SQL = f"""
WITH {_embed_swarm_cte()}
SELECT sig, size, LIST(vec_id ORDER BY vec_id) AS sample_vec_ids
FROM eranked WHERE rn <= 8
GROUP BY sig, size
ORDER BY sig
"""


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE unified no-silent-caps companion (r3 VERDICT #9): every cluster
    the three near-dup pair queries cap away, in one row set —
    (family, key, size, sample_ids):

    * minhash_band — LSH band buckets > MAX_BUCKET (minhash_lsh_pairs);
    * simhash_swarm — identical-fingerprint level-2 swarms
      (simhash_near_dup_pairs);
    * embedding_swarm — sign-identical >cap vector swarms
      (embedding_near_dup_pairs).

    A cleanup pipeline acts on these rows directly (keep min id, drop the
    rest) instead of needing any quadratic pair expansion."""
    from . import dedup

    mh = dedup.lsh_dropped_clusters(spark, sf_dir).select(
        F.lit("minhash_band").alias("family"),
        F.concat_ws(":", F.col("band").cast("string"),
                    F.col("band_hash").cast("string")).alias("key"),
        F.col("size").cast("long").alias("size"),
        F.col("sample_doc_ids").alias("sample_ids"),
    )
    sh = dedup.simhash_swarm_clusters(spark, sf_dir).select(
        F.lit("simhash_swarm").alias("family"),
        F.col("simhash").cast("string").alias("key"),
        F.col("size").cast("long").alias("size"),
        F.col("sample_doc_ids").alias("sample_ids"),
    )
    em = embedding_swarm_clusters(spark, sf_dir).select(
        F.lit("embedding_swarm").alias("family"),
        F.col("sig").cast("string").alias("key"),
        F.col("size").cast("long").alias("size"),
        F.col("sample_vec_ids").alias("sample_ids"),
    )
    # no terminal orderBy: the global sort's range-partition sampling
    # would recompute ALL THREE family pipelines a second time; the
    # correctness compare is order-insensitive
    return mh.unionByName(sh).unionByName(em)


def _near_dup_clusters_sql() -> str:
    from . import dedup

    def strip_order(sql: str) -> str:
        i = sql.rstrip().rfind("ORDER BY")
        return sql.rstrip()[:i] if i > 0 else sql

    return f"""
SELECT 'minhash_band' AS family,
       band::VARCHAR || ':' || band_hash::VARCHAR AS key,
       size::BIGINT AS size, sample_doc_ids AS sample_ids
FROM ({strip_order(dedup.LSH_DROPPED_SQL)})
UNION ALL
SELECT 'simhash_swarm' AS family, simhash::VARCHAR AS key,
       size::BIGINT AS size, sample_doc_ids AS sample_ids
FROM ({strip_order(dedup.SIMHASH_SWARMS_SQL)})
UNION ALL
SELECT 'embedding_swarm' AS family, sig::VARCHAR AS key,
       size::BIGINT AS size, sample_vec_ids AS sample_ids
FROM ({strip_order(EMBED_SWARMS_SQL)})
ORDER BY family, key
"""


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via element-wise array aggregation (posexplode +
    groupBy) — the building block of IVF coarse quantization."""
    e = _emb(spark, sf_dir)
    x = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    return (
        x.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"))
        .filter(F.col("dim") < 8)  # first 8 dims keep result compact
        .orderBy("label", "dim")
    )


CENTROID_SQL = """
SELECT label, (i - 1)::INT AS dim,
       ROUND(AVG(embedding[i]::DOUBLE), 6) AS mean_val
FROM embeddings, RANGE(1, 9) t(i)
GROUP BY label, dim
ORDER BY label, dim
"""


QUERIES = {
    "ann_bruteforce_topk": ann_bruteforce_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_lsh_recall": ann_lsh_recall,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_recall": ann_ivf_recall,
    "embedding_near_dup_pairs": embedding_near_dup_pairs,
    "near_dup_clusters": near_dup_clusters,
    "label_centroids": label_centroids,
}

ORACLES = {
    "ann_bruteforce_topk": ANN_SQL,
    "ann_lsh_topk": ANN_LSH_SQL,
    "ann_lsh_recall": _recall_sql(ANN_LSH_SQL),
    "ann_ivf_topk": ANN_IVF_SQL,
    "ann_ivf_recall": _recall_sql(ANN_IVF_SQL),
    "embedding_near_dup_pairs": NEAR_DUP_SQL,
    "near_dup_clusters": _near_dup_clusters_sql(),
    "label_centroids": CENTROID_SQL,
}
