"""End-to-end corpus pipeline: render → extract → reassemble → curate.

The extraction engine (reference: unipdf extractor/) and the LLM-data
curation stack meet here: the `documents` text is rendered into real PDFs
(distributed), the span-extraction engine pulls the text back out, and the
dedup family runs on the EXTRACTED text. Because span extraction is exact
(north rule), the reassembled word sequence equals the original text's —
so DuckDB can compute the oracle directly from ``documents.text`` while
Spark computes it from text that made a full trip through the PDF engine.
Any engine regression (lost span, wrong order, mangled glyph) breaks the
value hash: this is the integrated-path correctness gate, not a rows-only
check.

Planted duplicates: every ``doc_id % 7 == 0`` document is cloned under
``doc_id + CLONE_OFFSET``. The clone renders with a DIFFERENT paragraph
chunking (the render plan is seeded per doc_id), so the pair is a true
re-formatted duplicate — same content, different layout — exactly what
normalized dedup and MinHash LSH exist to catch.

Scale shape (100 TB): each doc is rendered, extracted, reassembled and
MinHashed in ONE map-only Python pass (no payload shuffle); only
oversized docs take the split → extract → reassemble detour. The
resulting (doc_id, text, h0..h31) frame is persisted once and feeds both
the dedup-hash and the LSH band paths; banding reuses the count-gated
bounded-bucket pattern from :mod:`dedup` (no self-join, no mega-bucket
task).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import doc_worker, map_docs
from . import phash
from .dedup import (
    MAX_BUCKET,
    SIG_NAMES,
    _SHINGLE_CTE,
    _SIG_COLS_SQL,
    _SIG_FIELDS,
    _BANDS_SQL,
    band_table,
    with_minhash,
)

CLONE_OFFSET = 1_000_000


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = phash.spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark
    ).select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(clones)


PART_CHARS = 65536  # oversized-doc task atom: ~0.6 s render+extract each
PARTS_DDL = "doc_id string, part_idx int, text string"
REX_DDL = ("doc_id bigint, part_idx int, text string, multi boolean, "
           "partition_id int, elapsed_ms double, error string")
_WS = re.compile(r"\s+")


def _rex_worker(doc_id, *row):
    """Fused render→extract→reassemble worker over one (doc_id, text)
    row, or one (doc_id, part_idx, text) part of an oversized doc
    (``multi``). Shared by the batch and streaming scale paths."""
    from ..fixtures.gen import make_text_doc
    from ..pdf.extract import extract_spans

    multi = len(row) == 2
    part, text = row if multi else (0, row[0])
    _golden, pdf = make_text_doc(doc_id, text or "")
    res = extract_spans(pdf)
    joined = " ".join(s["text"] for s in res.spans if s["kind"] == "text")
    return [(int(doc_id[4:]), int(part), _WS.sub(" ", joined).strip(),
             multi, res.error)]


SIG_DDL = "doc_id bigint, text string, " + _SIG_FIELDS


def _sig_worker(batches):
    """(doc_id, text) batches → SIG_DDL rows: the text plus its 32 MinHash
    values."""
    for b in batches:
        yield with_minhash(b)[["doc_id", "text", *SIG_NAMES]]


def _rex_sig_worker(batches):
    """Small docs in ONE Python pass: render → extract → MinHash."""
    yield from _sig_worker(doc_worker(_rex_worker, REX_DDL)(batches))


def render_extract_reassemble(named: DataFrame) -> DataFrame:
    """(doc_id 'doc_NNNNNNNN', text) → (doc_id bigint, text) where the
    output text made a full render→span-extraction→reassembly trip
    through the PDF engine, in ONE fused worker (:func:`_rex_worker`): as
    two chained MapInPandas nodes every rendered PDF (and its span
    structs) would cross Python→JVM→Python through Arrow once for nothing
    — the render here is only the synthetic source; a real corpus enters
    at the extraction stage, which stays the standalone
    pipeline.run_extraction. Map-only (no payload shuffle) and
    streaming-capable (mapInPandas binds to micro-batches unchanged — see
    the streaming integrated-path test)."""
    return map_docs(named, _rex_worker, REX_DDL).select("doc_id", "text")


def _make_splitter(part_chars: int):
    """Word-boundary splitter worker: (doc_id, text) → bounded parts."""

    def split_batches(doc_id, text):
        rows = []
        cur: list[str] = []
        n = 0
        for w in (text or "").split():
            if n + len(w) + 1 > part_chars and cur:
                rows.append((doc_id, len(rows), " ".join(cur)))
                cur, n = [], 0
            cur.append(w)
            n += len(w) + 1
        rows.append((doc_id, len(rows), " ".join(cur)))
        return rows

    return split_batches


def _by_size(named: DataFrame, part_chars: int
             ) -> tuple[DataFrame, DataFrame]:
    """(small, big) (doc_id, text) frames: texts up to ``part_chars`` and
    the oversized rest."""
    d = named.select("doc_id", "text")
    n = F.length(F.coalesce("text", F.lit("")))
    return d.filter(n <= part_chars), d.filter(n > part_chars)


def _big_parts_ext(big: DataFrame, part_chars: int) -> DataFrame:
    """Oversized docs → word-boundary parts, each rendered and extracted
    as its own atom (REX_DDL rows, ``multi`` true)."""
    # range- (not hash-) partitioned: the part count is small, and hash
    # buckets birthday-collide (2-3 atoms in one task defeats the split);
    # ranges give ~one atom per partition
    parts = map_docs(big, _make_splitter(part_chars), PARTS_DDL
                     ).repartitionByRange(F.col("doc_id"), F.col("part_idx"))
    return map_docs(parts, _rex_worker, REX_DDL)


def _join_parts(multi: DataFrame) -> DataFrame:
    """Multi-part rows → (doc_id, text): part_idx-ordered space join, the
    token stream identical to the unsplit text."""
    return multi.groupBy("doc_id").agg(F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("part_idx", "text"))),
            lambda s: s["text"],
        ), " ").alias("text"))


def render_extract_parts(named: DataFrame, part_chars: int = PART_CHARS
                         ) -> DataFrame:
    """Scale path for heavy-tailed corpora: texts longer than
    ``part_chars`` are split at word boundaries into bounded parts that
    render+extract as INDEPENDENT tasks, so one 1 MB document can no
    longer hold a partition hostage (the 48k skew drill bounds doc-count
    skew; this bounds the per-DOC atom — a planted mega-doc costs ~15 s
    as one task but ~0.6 s × N fully parallel parts). Small docs (the
    overwhelming majority) stay on the map-only path with NO shuffle;
    only the oversized slice pays a parts shuffle.

    Returns one row per part: (doc_id bigint, part_idx int, text,
    multi boolean, partition_id int, elapsed_ms double, error string) —
    the lineage columns feed per-partition straggler metrics (north-rule
    per-partition lineage, same convention as pipeline.run_extraction)."""
    small, big = _by_size(named, part_chars)
    return map_docs(small, _rex_worker, REX_DDL).unionByName(
        _big_parts_ext(big, part_chars))


def reassemble_parts(parts_ext: DataFrame) -> DataFrame:
    """Part rows → (doc_id bigint, text): single-part docs pass through
    shuffle-free; only the oversized slice aggregates. Reads ``parts_ext``
    twice — persist it first."""
    singles = parts_ext.filter(~F.col("multi")).select("doc_id", "text")
    return singles.unionByName(_join_parts(parts_ext.filter(F.col("multi"))))


def render_extract_reassemble_scalable(named: DataFrame,
                                       part_chars: int = PART_CHARS
                                       ) -> DataFrame:
    """Batch-mode render→extract→reassembly with the oversized-doc split,
    plus the 32 MinHash values: (doc_id, text, h0..h31). Same shape as
    the streaming twin (``streaming_render_extract_reassemble``): small
    docs take one Python pass (:func:`_rex_sig_worker`) with no shuffle;
    only oversized parts reach the reassembly aggregate, after which their
    signatures come from the same :func:`with_minhash`. Every doc is
    rendered and extracted exactly once per evaluation."""
    small, big = _by_size(named, part_chars)
    joined = _join_parts(_big_parts_ext(big, part_chars))
    return small.mapInPandas(_rex_sig_worker, SIG_DDL).unionByName(
        joined.mapInPandas(_sig_worker, SIG_DDL))


def extracted_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(+planted clones) → PDFs → span extraction → reassembled
    text → normalized dedup groups + MinHash LSH candidate-partner counts,
    all computed on the extracted text. Output per doc: (doc_id,
    canonical_doc_id, group_size, n_tokens, n_candidates)."""
    corpus = _corpus(spark, sf_dir)
    named = corpus.select(
        F.concat(F.lit("doc_"),
                 F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        "text",
    )
    # ONE cached frame feeds both the dedup-hash and the band branches
    extracted = render_extract_reassemble_scalable(named).persist()

    # normalized dedup ON EXTRACTED TEXT (same normalization as
    # dedup_normalized: lowercase, strip punctuation, collapse whitespace)
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.regexp_replace("text", r"[^A-Za-z0-9\s]", " ")),
            r"\s+", " ",
        )
    )
    # token stats on the extracted text: the count must equal DuckDB's
    # over the ORIGINAL text — an extra per-doc integrity column beyond
    # the dedup hash. The reassembled text is single-space collapsed with
    # no edge spaces, so size(split(' ')) IS the token count — no
    # interpreted filter() HOF (Catalyst HOF lambdas never codegen; the
    # first form of this column cost +2 s on the sf0.1 suite)
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.size(F.split("text", " ", -1))).cast("long")
    h = extracted.select(
        "doc_id", F.md5(norm).alias("norm_hash"),
        n_tokens.alias("n_tokens"),
    )
    groups = h.groupBy("norm_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    dd = h.join(groups, "norm_hash").select(
        "doc_id", "canonical_doc_id", "group_size", "n_tokens")

    # MinHash LSH candidate partners ON EXTRACTED TEXT: count-gated
    # buckets (skew armor, same [2, MAX_BUCKET] gate as minhash_lsh_pairs)
    # → bounded member collect → distinct pairs → per-doc partner count.
    bt = band_table(extracted)
    ok = (
        bt.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= MAX_BUCKET))
        .select("band", "band_hash")
    )
    cand = (
        bt.join(ok, ["band", "band_hash"], "left_semi")
        .groupBy("band", "band_hash")
        .agg(F.collect_list("doc_id").alias("members"))
        .select(F.explode("members").alias("doc_a"), "members")
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
    partners = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return dd.join(partners, "doc_id", "left").select(
        "doc_id", "canonical_doc_id", "group_size", "n_tokens",
        F.coalesce("n_candidates", F.lit(0)).cast("long")
        .alias("n_candidates"),
    )


# Oracle: identical math straight from documents.text (no PDF trip).
# The shared shingle/signature/band fragments are written over a
# `documents` source; retarget them at the planted-clone corpus CTE.
_CORPUS_CTE = f"""corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {CLONE_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id % 7 = 0
)"""

EXTRACTED_DEDUP_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE.replace("FROM documents", "FROM corpus")},
sig AS (
    SELECT doc_id,
           {_SIG_COLS_SQL}
    FROM hs
),
bands AS (
    {_BANDS_SQL}
),
ok AS (
    SELECT band, band_hash FROM bands
    GROUP BY band, band_hash
    HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN ok USING (band, band_hash)
    JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
),
partners AS (
    SELECT doc_id, COUNT(*) AS n_candidates FROM (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL
        SELECT doc_b AS doc_id FROM cand
    ) GROUP BY doc_id
),
h AS (
    SELECT doc_id,
           MD5(TRIM(REGEXP_REPLACE(
               LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', ' ', 'g')),
               '\\s+', ' ', 'g'))) AS norm_hash,
           CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM corpus
),
g AS (SELECT norm_hash, MIN(doc_id) AS canonical_doc_id,
             COUNT(*) AS group_size
      FROM h GROUP BY norm_hash)
SELECT h.doc_id, g.canonical_doc_id, g.group_size, h.n_tokens,
       CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates
FROM h JOIN g USING (norm_hash)
LEFT JOIN partners p ON p.doc_id = h.doc_id
"""

QUERIES = {"extracted_text_dedup": extracted_text_dedup}
ORACLES = {"extracted_text_dedup": EXTRACTED_DEDUP_SQL}
