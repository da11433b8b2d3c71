"""Streaming operators: windowed aggregation with watermark, stateful
sessionization (applyInPandasWithState), and streaming span extraction.

All operators take/return streaming DataFrames so sources and sinks stay the
caller's choice (file/kafka/rate in production; memory sink in tests).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline import map_docs, prepare_worker, run_extraction

SESSION_GAP_S = 1800


def streaming_hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h windowed counts per event_type with late-data watermark —
    the streaming analog of `events_hourly_rollup`."""
    # watermarks require TIMESTAMP (not NTZ, which parquet sources often carry)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
_STATE_SCHEMA = "start long, last long, n int, total double"


def _session_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based session assembly with timeout-driven emission (the streaming
    analog of the extractor's gap-based clustering, SURVEY §2.3)."""
    prepare_worker()
    (user_id,) = key
    if state.hasTimedOut:
        start, last, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "session_start": [pd.Timestamp(start, unit="s")],
                "session_end": [pd.Timestamp(last, unit="s")],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )
        return

    rows = pd.concat(list(pdfs)).sort_values("ts")
    ts = rows["ts"].astype("int64") // 10**9
    vals = rows["value"].fillna(0.0)
    out = []
    if state.exists:
        start, last, n, total = state.get
    else:
        start = last = int(ts.iloc[0])
        n = 0
        total = 0.0
    for t, v in zip(ts, vals):
        t = int(t)
        if t - last > SESSION_GAP_S:
            out.append((user_id, start, last, n, total))
            start, n, total = t, 0, 0.0
        last = max(last, t)
        n += 1
        total += float(v)
    state.update((start, last, n, total))
    state.setTimeoutDuration(SESSION_GAP_S * 1000)
    if out:
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": [pd.Timestamp(r[1], unit="s") for r in out],
                "session_end": [pd.Timestamp(r[2], unit="s") for r in out],
                "n_events": [r[3] for r in out],
                "total_value": [round(r[4], 2) for r in out],
            }
        )


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user session windows with a 30-min gap,
    emitted when the gap passes (processing-time timeout)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def streaming_extract(docs_pdf: DataFrame) -> DataFrame:
    """Streaming span extraction: the SAME Arrow-batched extraction stage
    (pipeline.run_extraction) bound to a streaming source — micro-batch
    continuous ingestion of documents (checkpointing comes from the sink's
    checkpointLocation)."""
    return run_extraction(docs_pdf)


DEDUP_OUT_SCHEMA = "text_hash string, doc_id string, is_new boolean"
_DEDUP_STATE_SCHEMA = "seen int"


def _dedup_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """First-seen-wins exact dedup across micro-batches: state per text hash
    remembers whether the hash was ever emitted; later arrivals are flagged
    duplicates. The state is one int per distinct hash — the streaming analog
    of dedup_exact's canonical pick."""
    prepare_worker()
    (text_hash,) = key
    seen = state.get[0] if state.exists else 0
    rows = []
    for pdf in pdfs:
        for doc_id in sorted(pdf["doc_id"]):
            rows.append((text_hash, doc_id, seen == 0))
            seen += 1
    state.update((seen,))
    yield pd.DataFrame(rows, columns=["text_hash", "doc_id", "is_new"])


def streaming_dedup_exact(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: documents keyed by md5(text); the first
    arrival of each hash is `is_new`, every later one is a duplicate —
    state survives across micro-batches (applyInPandasWithState)."""
    hashed = docs.select(F.md5("text").alias("text_hash"), "doc_id")
    return hashed.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


LSH_CAND_OUT = "band int, band_hash long, doc_a string, doc_b string"
_LSH_STATE_SCHEMA = "ids array<string>"


def _lsh_cand_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Cross-micro-batch LSH bucket state: remember up to MAX_BUCKET member
    doc_ids per (band, band_hash); each new arrival pairs against the stored
    members. The cap bounds state AND per-arrival output (skew armor — a
    boilerplate bucket emits ≤ MAX_BUCKET pairs per arrival, never n²),
    while arrivals beyond the cap still pair against the stored sample, so
    a hot cluster keeps reporting instead of going silent."""
    prepare_worker()
    from ..operators.dedup import MAX_BUCKET

    band, band_hash = key
    ids = list(state.get[0]) if state.exists else []
    rows = []
    for pdf in pdfs:
        for doc_id in sorted(pdf["doc_id"]):
            if doc_id in ids:
                continue
            for old in ids:
                a, b = sorted((old, doc_id))
                rows.append((band, band_hash, a, b))
            if len(ids) < MAX_BUCKET:
                ids.append(doc_id)
    state.update((ids,))
    yield pd.DataFrame(rows, columns=["band", "band_hash", "doc_a", "doc_b"])


def streaming_minhash_candidates(docs: DataFrame) -> DataFrame:
    """Streaming near-dup candidate detection: MinHash signatures + LSH
    banding (the SAME portable-hash values as the batch operator —
    operators/dedup.py minhash_signatures_pandas/band_table) with per-bucket
    state across micro-batches. Each incoming document is checked against
    the full history of its buckets without reprocessing the stream —
    the streaming analog of minhash_lsh_pairs' candidate stage. Verification
    (true Jaccard) stays a batch join over the candidate output."""
    from ..operators.dedup import minhash_signatures_pandas, band_table

    # map_docs is streaming-capable: the numpy signature path (bit-
    # identical to the column-expression form, see dedup.py) serves
    # micro-batches too — the interpreted-HOF fold was the per-batch cost
    bands = band_table(minhash_signatures_pandas(docs))
    return bands.groupBy("band", "band_hash").applyInPandasWithState(
        _lsh_cand_fn,
        outputStructType=LSH_CAND_OUT,
        stateStructType=_LSH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


REASSEMBLE_OUT_SCHEMA = "doc_id bigint, text string"
_REASSEMBLE_STATE_SCHEMA = "n int"


def _reassemble_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-doc part reassembly. All parts of a document are born inside
    its own micro-batch (the splitter derives them from one input row),
    so no state survives calls — the group step exists only because a
    plain groupBy aggregate is not available mid-stream."""
    prepare_worker()
    parts: list[tuple[int, str]] = []
    for pdf in pdfs:
        parts.extend(zip(pdf["part_idx"], pdf["text"]))
    parts.sort()
    yield pd.DataFrame(
        {"doc_id": [key[0]], "text": [" ".join(t for _, t in parts)]}
    )
    # bounded-state guarantee: nothing is ever stored
    if state.exists:
        state.remove()


def streaming_render_extract_reassemble(docs: DataFrame,
                                        part_chars: int | None = None
                                        ) -> DataFrame:
    """Streaming variant of the oversized-doc scale path (the batch side
    is operators.extracted.render_extract_reassemble_scalable): texts
    beyond PART_CHARS split into bounded word-boundary atoms that extract
    as independent tasks (hash-spread — range partitioning needs a
    sampling pass a stream cannot do), then reassemble per doc via a
    stateless applyInPandasWithState group step. Small docs take the
    map-only branch; a 1 MB document in a micro-batch no longer holds the
    trigger hostage on one core.

    The output cannot feed another ``applyInPandasWithState`` (such as
    :func:`streaming_minhash_candidates`) in the same streaming query:
    Spark rejects the query at ``start()`` with "Multiple
    applyInPandasWithStates are not supported". A stream that goes on to
    LSH state maps ``operators.extracted._rex_worker`` itself, without the
    oversized-doc split."""
    from ..operators.extracted import (PART_CHARS, PARTS_DDL, REX_DDL,
                                       _by_size, _make_splitter,
                                       _rex_worker)

    pc = part_chars or PART_CHARS
    small, big = _by_size(docs, pc)
    parts = map_docs(big, _make_splitter(pc), PARTS_DDL).repartition(
        F.col("doc_id"), F.col("part_idx"))
    ext_small = map_docs(small, _rex_worker, REX_DDL).select("doc_id", "text")
    ext_big = (
        map_docs(parts, _rex_worker, REX_DDL)
        .groupBy("doc_id")
        .applyInPandasWithState(
            _reassemble_fn,
            outputStructType=REASSEMBLE_OUT_SCHEMA,
            stateStructType=_REASSEMBLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return ext_small.unionByName(ext_big)
