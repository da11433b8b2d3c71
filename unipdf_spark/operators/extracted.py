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

Scale shape (100 TB): the corpus is scanned once per size branch, and the
clones are planted by exploding those same rows. Each small doc is
rendered, extracted, reassembled and MinHashed in ONE map-only Python
pass; the only exchange before it is :func:`phash.spread`'s, which is a
no-op once the input has as many partitions as cores. Only oversized docs
take the split → round-robin exchange → extract → reassemble detour, their
parts dealt over the cores. Nothing is persisted and nothing is joined:
one generator turns each extracted doc into its 8 LSH band rows and one
exact row keyed by :data:`dedup.NORM_HASH_SQL`, and those rows take ONE
hash exchange on the key (:func:`keyed_dedup`), the bucket shape of every
LSH query (:func:`dedup.bucket_window`). All rows of a bucket or exact
group, however many, meet in one window task and its spillable buffer, as
in :func:`dedup.dedup_normalized`. A boilerplate bucket of millions of
docs is counted and dropped there. No collected list holds more than
MAX_BUCKET ids: only buckets that pass the 2..MAX_BUCKET count gate
collect their members, and each doc folds at most 8 such lists plus itself
in the one doc_id exchange. There is no self-join and no pair explode.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import map_docs
from ..schema import read_sf
from . import phash
from .dedup import (
    MAX_BUCKET,
    NORM_HASH_SQL,
    _SHINGLE_CTE,
    _SIG_COLS_SQL,
    _SIG_FIELDS,
    _BANDS_SQL,
    band_structs,
    bucket_window,
    minhash,
)

CLONE_OFFSET = 1_000_000


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus the planted clones, from ONE scan: every
    ``doc_id % 7 == 0`` row is exploded into itself and its clone."""
    return read_sf(spark, sf_dir, "documents").selectExpr(
        f"explode(if(doc_id % 7 = 0, array(doc_id, doc_id + {CLONE_OFFSET}),"
        " array(doc_id))) AS doc_id", "text")


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


def _sig_worker(doc_id, text):
    """(doc_id, text) → one SIG_DDL row: the text plus its 32 MinHash
    values."""
    return [(doc_id, text, *minhash(text))]


def _rex_sig_worker(doc_id, text):
    """Small docs in ONE Python pass: render → extract → MinHash."""
    return [sig for doc, _part, txt, *_ in _rex_worker(doc_id, text)
            for sig in _sig_worker(doc, txt)]


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
    n = "length(coalesce(text, ''))"
    return d.filter(f"{n} <= {part_chars}"), d.filter(f"{n} > {part_chars}")


def _spread_by_size(named: DataFrame, part_chars: int
                    ) -> tuple[DataFrame, DataFrame]:
    """Batch :func:`_by_size`: the small-doc branch is spread over the
    cores (:func:`phash.spread`) for its Python pass; the oversized branch
    goes straight from the scan to the splitter, whose round-robin
    exchange deals its parts over the cores."""
    small, big = _by_size(named, part_chars)
    return phash.spread(small, named.sparkSession), big


def _big_parts_ext(big: DataFrame, part_chars: int) -> DataFrame:
    """Oversized docs → word-boundary parts, each rendered and extracted
    as its own atom (REX_DDL rows, ``multi`` true)."""
    # dealt round-robin over the cores: hash buckets birthday-collide (2-3
    # atoms in one task defeats the split), and AQE coalesces a
    # repartitionByRange exchange of a few small rows into ONE partition;
    # a repartition to a fixed count is neither coalesced nor sampled
    parts = map_docs(big, _make_splitter(part_chars), PARTS_DDL).repartition(
        big.sparkSession.sparkContext.defaultParallelism)
    return map_docs(parts, _rex_worker, REX_DDL)


def _join_parts(multi: DataFrame) -> DataFrame:
    """Multi-part rows → (doc_id, text): part_idx-ordered space join, the
    token stream identical to the unsplit text."""
    return multi.groupBy("doc_id").agg(F.expr(
        "array_join(transform(array_sort(collect_list(struct(part_idx, "
        "text))), s -> s.text), ' ') AS text"))


def render_extract_parts(named: DataFrame, part_chars: int = PART_CHARS
                         ) -> DataFrame:
    """Scale path for heavy-tailed corpora: texts longer than
    ``part_chars`` are split at word boundaries into bounded parts that
    render+extract as INDEPENDENT atoms, so one 1 MB document can no
    longer hold a partition hostage (the 48k skew drill bounds doc-count
    skew; this bounds the per-DOC atom — a planted mega-doc costs ~15 s
    as one task, but its N parts of ~0.4-0.6 s each on a 4-vCPU host are
    dealt round-robin over the cores and run ⌈N / cores⌉ deep). Small
    docs (the overwhelming majority) stay on the map-only path, with no
    shuffle beyond :func:`phash.spread`'s; only the oversized slice pays
    a parts shuffle.

    Returns one row per part: (doc_id bigint, part_idx int, text,
    multi boolean, partition_id int, elapsed_ms double, error string) —
    the lineage columns feed per-partition straggler metrics (north-rule
    per-partition lineage, same convention as pipeline.run_extraction)."""
    small, big = _spread_by_size(named, part_chars)
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
    signatures come from the same :func:`dedup.minhash`. Every doc is
    rendered and extracted exactly once per evaluation."""
    small, big = _spread_by_size(named, part_chars)
    joined = _join_parts(_big_parts_ext(big, part_chars))
    return map_docs(small, _rex_sig_worker, SIG_DDL).unionByName(
        map_docs(joined, _sig_worker, SIG_DDL))


# token stats on the extracted text: the count must equal DuckDB's over
# the ORIGINAL text — an extra per-doc integrity column beyond the dedup
# hash. The reassembled text is single-space collapsed with no edge
# spaces, so size(split(' ')) IS the token count — no interpreted
# filter() HOF (Catalyst HOF lambdas never codegen; the first form of
# this column cost +2 s on the sf0.1 suite)
_N_TOKENS_SQL = ("CAST(IF(length(text) = 0, 0, size(split(text, ' ', -1)))"
                 " AS BIGINT)")
# (doc_id, text, h0..h31) → every doc's keyed rows, from ONE generator:
# its dedup.N_BANDS (band, band_hash) LSH rows, then its exact row keyed
# by dedup.NORM_HASH_SQL and carrying its token count. Each row's key is
# (band, band_hash, norm_hash); the fields a row does not use are NULL.
KEYED_DDL = ("doc_id bigint, band int, band_hash bigint, norm_hash string, "
             "n_tokens bigint")
KEY = ["band", "band_hash", "norm_hash"]
_KEYED_EXPR = "inline(array({}))".format(", ".join(
    band_structs(", 'norm_hash', NULL, 'n_tokens', NULL")
    + ["named_struct('band', NULL, 'band_hash', NULL, "
       f"'norm_hash', {NORM_HASH_SQL}, 'n_tokens', {_N_TOKENS_SQL})"]))
_EXACT = "n_tokens IS NOT NULL"


def keyed_dedup(keyed: DataFrame) -> DataFrame:
    """KEYED_DDL rows → per doc (doc_id, canonical_doc_id, group_size,
    n_tokens, n_candidates), over ONE hash exchange on the key.

    :func:`dedup.bucket_window` on the key gives every row its key
    group's size and minimum doc_id: an exact row takes them as its doc's
    group_size and canonical_doc_id; a band row survives only in a bucket
    of 2..MAX_BUCKET docs, the count gate of
    :func:`dedup.minhash_lsh_pairs`. Surviving buckets collect their
    members in an aggregate that the window's partitioning already
    satisfies: no further exchange, at most MAX_BUCKET ids per list. An
    exact row is its own group (keyed by its doc_id) with itself as the
    only member. Exploding the members and folding them per doc (the one
    doc_id exchange) gives each doc its distinct bucket-mates plus itself,
    so ``n_candidates`` is that count minus one: the doc's number of
    distinct candidate partners in :func:`dedup.minhash_lsh_pairs`, 0 in
    no bucket. Written as SQL strings: each Column-API call is a py4j
    round trip while the query is built."""
    return (
        bucket_window(keyed, KEY)
        .filter(f"{_EXACT} OR n BETWEEN 2 AND {MAX_BUCKET}")
        .groupBy(*KEY, F.expr(f"if({_EXACT}, doc_id, NULL) AS own"))
        .agg(*(F.expr(a) for a in (
            "collect_list(doc_id) AS members",
            f"max(if({_EXACT}, first, NULL)) AS canonical_doc_id",
            f"max(if({_EXACT}, n, NULL)) AS group_size",
            "max(n_tokens) AS n_tokens")))
        .selectExpr("explode(members) AS doc_id", "members",
                    "canonical_doc_id", "group_size", "n_tokens")
        .groupBy("doc_id")
        .agg(*(F.expr(a) for a in (
            "max(canonical_doc_id) AS canonical_doc_id",
            "max(group_size) AS group_size",
            "max(n_tokens) AS n_tokens",
            "CAST(size(array_distinct(flatten(collect_list(members)))) - 1"
            " AS BIGINT) AS n_candidates")))
    )


def extracted_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(+planted clones) → PDFs → span extraction → reassembled
    text → normalized dedup groups + MinHash LSH candidate-partner counts,
    all computed on the extracted text. Output per doc: (doc_id,
    canonical_doc_id, group_size, n_tokens, n_candidates)."""
    named = _corpus(spark, sf_dir).selectExpr(
        "concat('doc_', lpad(CAST(doc_id AS STRING), 8, '0')) AS doc_id",
        "text")
    # no cache: the one extracted frame feeds one generator, whose rows
    # take one keyed exchange
    return keyed_dedup(render_extract_reassemble_scalable(named).selectExpr(
        "doc_id", _KEYED_EXPR))


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
