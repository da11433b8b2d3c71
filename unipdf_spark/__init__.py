"""unipdf_spark — a PySpark-native interleaved-document extraction engine.

A from-scratch reimplementation (NOT a port) of the extraction capabilities of
unidoc/unipdf (reference tree at /root/reference): PDF content-stream lexing,
text positioning (Tm/Td/TJ advance math), word/line/paragraph clustering, and
document-order media-span emission — hosted in Arrow-vectorized Spark stages.

Layout:
    pdf/        pure-Python PDF decode + extraction core (no Spark imports)
    fixtures/   deterministic golden-span doc generator + PDF renderer
    pipeline.py Spark pipeline: (doc_id, pdf_bytes) -> spans_out
    operators/  analytics/query operators (TPC-H-ish, dedup, ANN, text stats)
    sources/    table readers
    streaming/  structured-streaming operators
"""

__version__ = "0.1.0"
