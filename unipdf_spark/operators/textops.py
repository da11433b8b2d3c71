"""Text-analysis operators over the `documents` table — the training-data
pipeline function family (token counting, quality scoring, language ID,
fingerprinting). JVM-side `pyspark.sql.functions` expressions: at 100 TB
these run inside whole-stage codegen directly over the parquet scan with
column pruning (only `doc_id`, `text` are read). The one Python pass is
:func:`corpus_cleanup`'s MinHash signatures, for its boilerplate gate."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .dedup import (MAX_BUCKET, _BANDS_SQL, _SHINGLE_CTE, _SIG_COLS_SQL,
                    _docs, alnum_lower_sql, band_table, bucket_window,
                    minhash_signatures_pandas)

_PUNCT = r"[.,;:!?'\"()\-]"


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_actual"),
    )  # no sort: order-insensitive check; global sorts double the scan


TOKEN_COUNTS_SQL = """
SELECT doc_id,
       LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> ''))  AS n_tokens,
       LEN(LIST_DISTINCT(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                     x -> x <> '')))                    AS n_distinct_tokens,
       LENGTH(text)                                                     AS n_chars_actual
FROM documents
"""


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features: length, punctuation density, stopword
    ratio, mean token length — the usual pre-training corpus filters."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    n_tok = F.size(toks)
    stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "to", "in"))
    )
    n_punct = F.length("text") - F.length(F.regexp_replace("text", _PUNCT, ""))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 4).alias(
            "punct_ratio"
        ),
        F.round(stop / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(
            (F.length(F.regexp_replace("text", r"\s+", "")))
            / F.greatest(n_tok, F.lit(1)),
            4,
        ).alias("mean_token_len"),
    )  # no sort: order-insensitive check; global sorts double the scan


QUALITY_SQL = """
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'), x -> x <> ''))
           AS n_tokens,
       ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[.,;:!?''"()\\-]', '', 'g')))
             / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
       ROUND(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                             x -> x IN ('the','a','of','and','to','in')))
             / GREATEST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                                        x -> x <> '')), 1), 4) AS stopword_ratio,
       ROUND(LENGTH(REGEXP_REPLACE(text, '\\s+', '', 'g'))
             / GREATEST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                                        x -> x <> '')), 1), 4) AS mean_token_len
FROM documents
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-profile language ID (deterministic heuristic): counts
    of language-marker stopwords + non-ASCII density decide the label."""
    d = _docs(spark, sf_dir)
    lowered = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))

    def hits(word: str):
        return F.size(F.split(lowered, f" {word} ")) - 1

    non_ascii = F.length(F.regexp_replace("text", r"[\x20-\x7e]", ""))
    pred = (
        F.when(non_ascii > F.length("text") * 0.1, F.lit("zh"))
        .when((hits("le") + hits("la") + hits("et")) > hits("the"), F.lit("fr"))
        .when((hits("der") + hits("und") + hits("das")) > hits("the"), F.lit("de"))
        .when((hits("el") + hits("los") + hits("y")) > hits("the"), F.lit("es"))
        .otherwise(F.lit("en"))
    )
    return d.select(
        "doc_id",
        pred.alias("lang_pred"),
        hits("the").cast("int").alias("en_hits"),
        non_ascii.cast("int").alias("non_ascii_chars"),
    )  # no sort: order-insensitive check; global sorts double the scan


LANG_ID_SQL = """
WITH feat AS (
    SELECT doc_id, text,
           ' ' || LOWER(text) || ' ' AS padded,
           LENGTH(REGEXP_REPLACE(text, '[\\x20-\\x7e]', '', 'g')) AS non_ascii
    FROM documents
), hits AS (
    SELECT doc_id, text, non_ascii,
           LEN(STRING_SPLIT(padded, ' the ')) - 1 AS h_the,
           LEN(STRING_SPLIT(padded, ' le ')) - 1 + LEN(STRING_SPLIT(padded, ' la ')) - 1
             + LEN(STRING_SPLIT(padded, ' et ')) - 1 AS h_fr,
           LEN(STRING_SPLIT(padded, ' der ')) - 1 + LEN(STRING_SPLIT(padded, ' und ')) - 1
             + LEN(STRING_SPLIT(padded, ' das ')) - 1 AS h_de,
           LEN(STRING_SPLIT(padded, ' el ')) - 1 + LEN(STRING_SPLIT(padded, ' los ')) - 1
             + LEN(STRING_SPLIT(padded, ' y ')) - 1 AS h_es
    FROM feat
)
SELECT doc_id,
       CASE WHEN non_ascii > LENGTH(text) * 0.1 THEN 'zh'
            WHEN h_fr > h_the THEN 'fr'
            WHEN h_de > h_the THEN 'de'
            WHEN h_es > h_the THEN 'es'
            ELSE 'en' END    AS lang_pred,
       CAST(h_the AS INT)     AS en_hits,
       CAST(non_ascii AS INT) AS non_ascii_chars
FROM hits
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted distinct
    token set (key-collision / "fingerprint" dedup method)."""
    d = _docs(spark, sf_dir)
    norm = F.expr(alnum_lower_sql(" "))
    toks = F.filter(F.split(norm, r"\s+"), lambda x: x != "")
    fp = F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))
    return d.select("doc_id", fp.alias("fingerprint"))


FINGERPRINT_SQL = """
SELECT doc_id,
       MD5(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
           LIST_FILTER(STRING_SPLIT_REGEX(
               LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9 ]', ' ', 'g')), '\\s+'),
               x -> x <> ''))), ' ')) AS fingerprint
FROM documents
"""


def term_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term search with positions — the relational analog of the reference's
    ``Editor.Search`` (extractor/extractor.go:82): per-doc occurrence count
    and first-hit offset for a fixed term set."""
    d = _docs(spark, sf_dir)
    out = None
    for term in ("spark", "query", "stream"):
        hits = d.select(
            "doc_id",
            F.lit(term).alias("term"),
            (F.size(F.split(F.col("text"), term)) - 1).alias("n_hits"),
            F.instr(F.col("text"), term).alias("first_pos"),
        ).filter(F.col("n_hits") > 0)
        out = hits if out is None else out.unionByName(hits)
    return out


TERM_SEARCH_SQL = """
WITH terms(term) AS (VALUES ('spark'), ('query'), ('stream'))
SELECT doc_id, term,
       LEN(STRING_SPLIT(text, term)) - 1 AS n_hits,
       POSITION(term IN text)            AS first_pos
FROM documents CROSS JOIN terms
WHERE LEN(STRING_SPLIT(text, term)) - 1 > 0
"""


def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word bigrams — the n-gram frequency table every
    contamination/boilerplate analysis starts from. explode → groupBy →
    count is map-side partial-aggregated; the top-k is a tiny final sort."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0)))
    bigrams = F.filter(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, 2), " ")),
        lambda s: F.length(s) - F.length(F.replace(s, F.lit(" "), F.lit("")))
        == 1,  # drop the tail slice with a single word
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(50)
    )


TOP_BIGRAMS_SQL = r"""
WITH t AS (
    SELECT LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents
),
b AS (
    SELECT UNNEST(LIST_FILTER(
               LIST_TRANSFORM(RANGE(0, GREATEST(LEN(w) - 2, 0) + 1),
                              i -> ARRAY_TO_STRING(w[i+1 : i+2], ' ')),
               s -> LENGTH(s) - LENGTH(REPLACE(s, ' ', '')) = 1)) AS bigram
    FROM t
)
SELECT bigram, COUNT(*) AS n
FROM b
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 50
"""


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution in buckets of 50 — the length-filter design
    table (short-doc and boilerplate cutoffs) for a cleanup pipeline."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    return (
        d.select((F.floor(F.size(toks) / 50) * 50).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bucket_lo")
    )


LENGTH_HIST_SQL = r"""
SELECT CAST(FLOOR(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
                                  x -> x <> '')) / 50) * 50 AS BIGINT)
           AS bucket_lo,
       COUNT(*) AS n_docs
FROM documents
GROUP BY bucket_lo
ORDER BY bucket_lo
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution (how much of the corpus is
    exact-dup boilerplate) — two map-side-combinable aggregations."""
    d = _docs(spark, sf_dir)
    groups = (
        d.select(F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("group_size"))
    )
    return (
        groups.groupBy("group_size")
        .agg(F.count("*").alias("n_groups"))
        .orderBy("group_size")
    )


DEDUP_CLUSTERS_SQL = """
WITH g AS (SELECT MD5(text) AS h, COUNT(*) AS group_size
           FROM documents GROUP BY h)
SELECT group_size, COUNT(*) AS n_groups
FROM g GROUP BY group_size ORDER BY group_size
"""


def corpus_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length + duplicate-cluster histograms in ONE long-format frame
    (kind, bucket, n) — consolidation of the former length_histogram and
    dedup_cluster_sizes queries (r6: freed a 50-cap slot for the HTML
    main-content pipeline; both histograms unchanged, just stacked)."""
    lh = length_histogram(spark, sf_dir).select(
        F.lit("length").alias("kind"),
        F.col("bucket_lo").cast("long").alias("bucket"),
        F.col("n_docs").alias("n"),
    )
    dc = dedup_cluster_sizes(spark, sf_dir).select(
        F.lit("dup_cluster").alias("kind"),
        F.col("group_size").cast("long").alias("bucket"),
        F.col("n_groups").alias("n"),
    )
    return lh.unionByName(dc)


CORPUS_HISTOGRAMS_SQL = rf"""
SELECT 'length' AS kind, bucket_lo AS bucket, n_docs AS n
FROM ({LENGTH_HIST_SQL})
UNION ALL
SELECT 'dup_cluster' AS kind, CAST(group_size AS BIGINT) AS bucket,
       n_groups AS n
FROM ({DEDUP_CLUSTERS_SQL})
"""


def corpus_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composite cleanup: per doc, the keep/drop verdict a
    pre-training pipeline applies — exact-dup canonicalization + length gate
    + punctuation-density gate + LSH boilerplate gate, with per-gate reason
    flags so the drop decision is auditable. The canonical doc and the
    boilerplate keeper are :func:`dedup.bucket_window` minima, so the one
    Python pass (the MinHash signatures) runs once. Fully
    oracle-checked."""
    d = _docs(spark, sf_dir)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    n_tok = F.size(toks)
    n_punct = F.length("text") - F.length(F.regexp_replace("text", _PUNCT, ""))
    feats = d.select(
        "doc_id",
        F.md5("text").alias("text_hash"),
        n_tok.alias("n_tokens"),
        F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 4).alias(
            "punct_ratio"
        ),
    )
    # boilerplate gate: member of an LSH band bucket too dense for pairwise
    # dedup (> MAX_BUCKET — the clusters lsh_dropped_clusters reports); one
    # representative (the bucket's min doc_id) survives, the rest drop
    boiler_ids = (
        bucket_window(band_table(minhash_signatures_pandas(d)),
                      ["band", "band_hash"])
        .filter(f"n > {MAX_BUCKET} AND doc_id <> first")
        .select("doc_id")
        .distinct()
        .withColumn("in_boiler", F.lit(True))
    )
    j = (
        bucket_window(feats, ["text_hash"])
        .withColumnRenamed("first", "canonical_doc_id")
        .join(boiler_ids, "doc_id", "left")
    )
    is_dup = F.col("doc_id") != F.col("canonical_doc_id")
    too_short = F.col("n_tokens") < 5
    too_punct = F.col("punct_ratio") > 0.10
    is_boiler = F.coalesce(F.col("in_boiler"), F.lit(False))
    return j.select(
        "doc_id",
        is_dup.alias("drop_duplicate"),
        too_short.alias("drop_short"),
        too_punct.alias("drop_punct"),
        is_boiler.alias("drop_boilerplate"),
        (~(is_dup | too_short | too_punct | is_boiler)).alias("keep"),
    )


def _cleanup_sql() -> str:
    return r"""
WITH feats AS (
    SELECT doc_id,
           MD5(text) AS text_hash,
           LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                           x -> x <> '')) AS n_tokens,
           ROUND((LENGTH(text) -
                  LENGTH(REGEXP_REPLACE(text, '[.,;:!?''"()\-]', '', 'g')))
                 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio
    FROM documents
),
canon AS (
    SELECT text_hash, MIN(doc_id) AS canonical_doc_id
    FROM feats GROUP BY text_hash
),
""" + _SHINGLE_CTE.lstrip() + r""",
sig AS (
    SELECT doc_id,
           """ + _SIG_COLS_SQL + r"""
    FROM hs
),
bands AS (
    """ + _BANDS_SQL + r"""
),
hot AS (
    SELECT band, band_hash, MIN(doc_id) AS keeper FROM bands
    GROUP BY band, band_hash HAVING COUNT(*) > """ + str(MAX_BUCKET) + r"""
),
boiler AS (
    SELECT DISTINCT b.doc_id FROM bands b
    JOIN hot USING (band, band_hash)
    WHERE b.doc_id <> hot.keeper
)
SELECT f.doc_id,
       f.doc_id <> canonical_doc_id              AS drop_duplicate,
       n_tokens < 5                              AS drop_short,
       punct_ratio > 0.10                        AS drop_punct,
       (bl.doc_id IS NOT NULL)                   AS drop_boilerplate,
       NOT (f.doc_id <> canonical_doc_id OR n_tokens < 5
            OR punct_ratio > 0.10 OR bl.doc_id IS NOT NULL) AS keep
FROM feats f
JOIN canon USING (text_hash)
LEFT JOIN boiler bl ON bl.doc_id = f.doc_id
"""


CORPUS_CLEANUP_SQL = _cleanup_sql()


QUERIES = {
    "token_counts": token_counts,
    "quality_scores": quality_scores,
    "lang_id": lang_id,
    "doc_fingerprints": doc_fingerprints,
    "term_search": term_search,
    "top_bigrams": top_bigrams,
    "corpus_histograms": corpus_histograms,
    "corpus_cleanup": corpus_cleanup,
}

ORACLES = {
    "token_counts": TOKEN_COUNTS_SQL,
    "quality_scores": QUALITY_SQL,
    "lang_id": LANG_ID_SQL,
    "doc_fingerprints": FINGERPRINT_SQL,
    "term_search": TERM_SEARCH_SQL,
    "top_bigrams": TOP_BIGRAMS_SQL,
    "corpus_histograms": CORPUS_HISTOGRAMS_SQL,
    "corpus_cleanup": CORPUS_CLEANUP_SQL,
}
