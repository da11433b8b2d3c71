"""Span schema + conventions shared by generator, engine, and pipeline.

This is the ONLY module the fixture generator and the extractor are allowed to
share (FIXTURES.md: "Generator and extractor share only the span schema").
Kept import-light: pyspark is imported lazily so the pure-Python PDF core can
use `media_ref_for` inside Arrow workers without driver-side baggage.

Schema (authoritative, BASELINE.json input_hint):
    docs(doc_id: string,
         spans: array<struct<kind:string, text:string, media_ref:string,
                             offset:int>>)

Conventions (documented contract, implemented independently on both sides):

* ``kind`` is ``'text'`` or ``'media'``.
* ``text`` is the UTF-8 text for text spans ('' for media). Line wraps inside
  a paragraph appear as ``'\\n'``; a dehyphenated wrap contributes nothing.
* ``media_ref`` is ``'img_' + sha256(raw_stream_bytes)[:16]`` where
  ``raw_stream_bytes`` are the *encoded* bytes of the image XObject stream as
  stored in the file; for inline images (BI..ID..EI) they are the inline data
  bytes between ID and EI. ('' for text spans.)
* ``offset`` is the cumulative length of all *prior text spans' text* in the
  document (media spans carry the running total at their position). Paragraph
  joiners are NOT counted.
* Span order is document (content-stream operator) order; for text that is the
  reading order produced by the layout clustering, which fixture layouts keep
  consistent with operator order.

Reference spans this mirrors: unipdf ``TextMark.Offset`` semantics
(extractor/extractor.go:120) and ``ImageMark`` (extractor/extractor.go:345).
"""

from __future__ import annotations

import hashlib

KIND_TEXT = "text"
KIND_MEDIA = "media"

SPANS_OUT_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>, "
    "n_chars int, n_misses int, partition_id int, elapsed_ms double, "
    "error string"
)

DOCS_PDF_DDL = "doc_id string, pdf_bytes binary, n_spans int, fixture_class string"

DOCS_DDL = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


# The sf tables the registered queries read (``<sf_dir>/<name>.parquet``),
# declared so that no read runs a schema-inference job; the types are the
# ones Spark infers from the files (tests/test_sf_schema.py checks them).
SF_DDL = {
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp_ntz",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    "region": "r_regionkey int, r_name string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
}


def read_sf(spark, sf_dir: str, name: str):
    """The sf table ``name`` under ``sf_dir``, read with its declared
    schema. User-supplied paths (the CLI, ``sources.readers``) infer."""
    return spark.read.schema(SF_DDL[name]).parquet(f"{sf_dir}/{name}.parquet")


def media_ref_for(raw_stream_bytes: bytes) -> str:
    """Deterministic media reference for an image payload (see module doc)."""
    return "img_" + hashlib.sha256(raw_stream_bytes).hexdigest()[:16]
