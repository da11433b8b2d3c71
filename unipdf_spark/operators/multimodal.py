"""Multimodal column operators: image/audio/video as opaque `binary` columns
with typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, mapInPandas
signatures, partitioning) AND the pixel decode are real for the codec
families the engine implements (CCITT fax, JBIG2, baseline JPEG —
internal/ccittfax + internal/jbig2 + Go image/jpeg parity):
`extract_features` computes 64-dim block-mean vectors + 64-bit dHashes
from actual decoded bitmaps, so `media_feature_dedup` finds
visually-identical images across DIFFERENT encodings. Codecs outside the
engine's set (e.g. JPX) land in decode_ok=false rows; a deployment adds
Pillow/torchaudio inside the same UDFs. `resize_thumbnails` remains a
plumbing stub (byte-fold, documented)."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ..pipeline import gen_docs_pdf, map_docs
from .dedup import bucket_window

MEDIA_SCHEMA = (
    "media_ref string, doc_id string, kind string, payload binary, "
    "width int, height int, n_bytes int, codec string, ccitt_k int, "
    "blackis1 boolean"
)

FEATURE_SCHEMA = (
    "media_ref string, doc_id string, feature array<float>, "
    "feat_dim int, dhash long, decode_ok boolean"
)

THUMB_SCHEMA = (
    "media_ref string, thumb binary, thumb_w int, thumb_h int"
)

def media_table_from_fixtures(spark, n_docs: int = 60, mix="default") -> DataFrame:
    """Build a media table (one row per media span payload) from the fixture
    corpus — exercises the binary-column path end to end."""
    docs = gen_docs_pdf(spark, n_docs, mix=mix, partitions=4)

    def emit_media(doc_id, pdf):
        from ..pdf.cos import PdfDocument, Stream

        try:
            doc = PdfDocument(bytes(pdf))
        except Exception:
            return []
        rows = []
        for num in sorted(doc.xref):
            try:
                obj = doc.get_object(num)
            except Exception:
                continue
            if not isinstance(obj, Stream):
                continue
            d = obj.dict
            if d.get("Subtype") != "Image":
                continue
            ref = "img_" + hashlib.sha256(obj.raw).hexdigest()[:16]
            w = int(doc.resolve(d.get("Width")) or 0)
            h = int(doc.resolve(d.get("Height")) or 0)
            filt = doc.resolve(d.get("Filter"))
            codec = str(filt if not isinstance(filt, list)
                        else (filt[0] if filt else ""))
            parms = doc.resolve(d.get("DecodeParms")) or {}
            if not isinstance(parms, dict):
                parms = {}
            k = int(doc.resolve(parms.get("K", 0)) or 0)
            b1 = bool(doc.resolve(parms.get("BlackIs1", False)))
            rows.append((ref, doc_id, "image", obj.raw, w, h, len(obj.raw),
                         codec, k, b1))
        return rows

    return map_docs(docs.select("doc_id", "pdf_bytes"), emit_media,
                    MEDIA_SCHEMA)


def _decode_pixels(payload: bytes, width: int, height: int, codec: str,
                   ccitt_k: int, blackis1: bool):
    """REAL pixel decode via the engine's own codecs → float H×W array.
    Bilevel codecs (CCITT fax, JBIG2) produce an INK map (1.0 = black) so
    the same page bitmap yields identical pixels regardless of encoding;
    DCTDecode produces normalized grayscale. Unknown codecs raise — the
    caller's per-row error path records decode_ok=false."""
    import numpy as np

    if codec == "JBIG2Decode":
        from ..pdf.jbig2 import decode_jbig2_packed

        bits, bw, bh = decode_jbig2_packed(payload, width, height)
        stride = (bw + 7) // 8
        arr = np.unpackbits(
            np.frombuffer(bytes(bits), dtype=np.uint8)
        ).reshape(-1, stride * 8)[:bh, :bw]
        return arr.astype(np.float64)  # JBIG2: 1 = black, always
    if codec == "CCITTFaxDecode":
        from ..pdf.ccitt import decode_ccitt

        packed = decode_ccitt(
            payload,
            {"K": ccitt_k, "Columns": width, "BlackIs1": blackis1},
        )
        stride = (width + 7) // 8
        arr = np.unpackbits(
            np.frombuffer(bytes(packed), dtype=np.uint8)
        ).reshape(-1, stride * 8)[:, :width]
        # PDF CCITT default: 0 = black; /BlackIs1 inverts
        return arr.astype(np.float64) if blackis1 else 1.0 - arr
    if codec == "DCTDecode":
        from ..pdf.jpeg import decode_baseline_gray, stream_precision

        img = decode_baseline_gray(payload)
        # Full scale from the STREAM precision, not the numpy dtype: a
        # uint16 plane may be 12-bit extended DCT (4095) or lossless at
        # any precision 9–16 (511…65535); dividing by a hardcoded 4095
        # would push e.g. 16-bit images to ~16.0 instead of [0, 1].
        full = float((1 << stream_precision(payload)) - 1)
        return np.asarray(img, dtype=np.float64) / full
    raise NotImplementedError(f"no decoder for codec {codec!r}")


def _grid_means(arr, gh: int, gw: int):
    """Block-mean downsample of an H×W array to gh×gw (arbitrary sizes:
    block boundaries are the integer lattice i·H//gh)."""
    import numpy as np

    h, w = arr.shape
    ys = [(i * h) // gh for i in range(gh + 1)]
    xs = [(j * w) // gw for j in range(gw + 1)]
    out = np.empty((gh, gw), dtype=np.float64)
    for i in range(gh):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(gw):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = arr[y0:y1, x0:x1].mean()
    return out


def _image_features(payload: bytes, width: int, height: int, codec: str,
                    ccitt_k: int, blackis1: bool):
    """(feature, dhash): feature = mean-centred 8×8 block means of the
    decoded image (64 floats — identical bitmaps give identical vectors,
    so fax and JBIG2 encodings of the same page collide exactly); dhash =
    64-bit difference hash (adjacent-column comparisons of a 9×8 grid)."""
    if not payload:
        raise NotImplementedError("empty payload")
    arr = _decode_pixels(payload, width, height, codec, ccitt_k, blackis1)
    if arr.size == 0:
        raise NotImplementedError("empty image")
    g8 = _grid_means(arr, 8, 8)
    feat = (g8 - g8.mean()).ravel()
    g98 = _grid_means(arr, 8, 9)
    bits = (g98[:, 1:] > g98[:, :-1]).ravel()
    dhash = 0
    for bit in bits:
        dhash = (dhash << 1) | int(bit)
    if dhash >= 1 << 63:  # store as signed int64
        dhash -= 1 << 64
    return [float(x) for x in feat], dhash


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL feature extraction over binary media payloads:
    per-image 64-dim centred block-mean vector + 64-bit dHash from actual
    pixel decode (engine codecs: CCITT fax, JBIG2, baseline JPEG).
    Codecs without a decoder and per-row failures land in
    `decode_ok=false` rows, never fail the task (relaxed philosophy,
    SURVEY §3.1)."""

    def feature_row(ref, did, payload, w, h, codec, k, b1):
        try:
            f, dh = _image_features(bytes(payload or b""), int(w), int(h),
                                    str(codec), int(k), bool(b1))
            return [(ref, did, f, len(f), dh, True)]
        except Exception:
            return [(ref, did, [], 0, 0, False)]

    return map_docs(
        media.select("media_ref", "doc_id", "payload", "width", "height",
                     "codec", "ccitt_k", "blackis1"),
        feature_row, FEATURE_SCHEMA)


def resize_thumbnails(media: DataFrame, max_side: int = 4) -> DataFrame:
    """Thumbnail 'resize' plumbing: batch shape + output schema are real;
    the pixel work is a deterministic byte-fold stub."""

    def thumb_row(ref, payload, w, h):
        p = bytes(payload or b"")
        tw = min(int(w) or max_side, max_side)
        th_ = min(int(h) or max_side, max_side)
        n = max(1, tw * th_ * 3)
        folded = bytes(
            sum(p[i::n]) % 256 if p else 0 for i in range(min(n, len(p) or 1))
        )
        return [(ref, folded, tw, th_)]

    return map_docs(media.select("media_ref", "payload", "width", "height"),
                    thumb_row, THUMB_SCHEMA)


MEDIA_BLOCK_CAP = 64


def media_feature_dedup(media: DataFrame) -> DataFrame:
    """Near-dup media via REAL-feature cosine within blocks (centred
    block-mean vectors from actual pixel decode — fax and JBIG2 encodings
    of the same page bitmap produce identical features and pair at
    dot = |f|²; `dhash_match` additionally reports 64-bit dHash equality).

    Blocking key = (feat_dim, 8-bit feature-sign LSH); blocks larger than
    MEDIA_BLOCK_CAP refine to a 16-bit sign signature (same hierarchical
    device as embedding_near_dup_pairs — a degenerate all-identical-
    feature corpus can't force an n² pair task). Each block collects its
    members once and pairs them within the block: no self-join, so the
    render → media → feature Python pipeline runs once.
    """
    feats = extract_features(media).filter(F.col("decode_ok"))

    def sign_bits(n: int):
        return F.concat_ws(
            "",
            *[
                (F.element_at(F.col("feature"), i + 1) > 0)
                .cast("int").cast("string")
                for i in range(n)
            ],
        )

    feats = feats.withColumn(
        "b8", F.concat_ws(":", F.col("feat_dim").cast("string"), sign_bits(8))
    ).withColumn("b16", sign_bits(16))
    blocks = bucket_window(feats, ["b8"]).withColumn(
        "block",
        F.when(F.col("n") <= MEDIA_BLOCK_CAP, F.col("b8"))
        .otherwise(F.concat_ws(":", F.col("b8"), F.col("b16"))),
    ).groupBy("block").agg(
        F.collect_list(F.struct("media_ref", "feature", "dhash"))
        .alias("members"))
    dot = F.aggregate(
        F.zip_with(
            F.col("a.feature"), F.col("b.feature"),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        blocks.select(F.explode("members").alias("a"), "members")
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.media_ref") < F.col("b.media_ref"))
        .select(
            F.col("a.media_ref").alias("ref_a"),
            F.col("b.media_ref").alias("ref_b"),
            F.round(dot, 6).alias("dot"),
            (F.col("a.dhash") == F.col("b.dhash")).alias("dhash_match"),
        )
    )


BILEVEL_SCHEMA = (
    "media_ref string, doc_id string, width int, height int, "
    "ink_ratio double, decode_ok boolean"
)


def bilevel_features(media: DataFrame) -> DataFrame:
    """REAL pixel decode for bilevel (CCITT fax + JBIG2 generic-region)
    media — the scanned-document leg of the multimodal path (reference
    internal/ccittfax + internal/jbig2). Computes the ink ratio (fraction of
    black pixels) per image via the engine's decoders inside an
    Arrow-batched mapInPandas; other codecs keep the stub path
    (extract_features)."""

    def ink_row(ref, doc_id, payload, w, h, k, b1, codec):
        from ..pdf.ccitt import decode_ccitt
        from ..pdf.jbig2 import decode_jbig2_packed

        try:
            if codec == "JBIG2Decode":
                # JBIG2 convention: 1 = black, always
                bits, bw, bh = decode_jbig2_packed(
                    bytes(payload), int(w), int(h))
                black_is_one, width = True, bw
            else:
                black_is_one = bool(b1)
                width = int(w)
                bits = decode_ccitt(
                    bytes(payload),
                    {"K": int(k), "Columns": width,
                     "BlackIs1": black_is_one},
                )
            stride = (width + 7) // 8
            n_black = total = 0
            for r in range(len(bits) // stride):
                for x in range(width):
                    bit = (bits[r * stride + (x >> 3)] >> (7 - (x & 7))) & 1
                    # PDF CCITT default: 0 = black; /BlackIs1 (and
                    # JBIG2 foreground) invert
                    n_black += bit if black_is_one else (1 - bit)
                    total += 1
            return [(ref, doc_id, int(w), int(h),
                     round(n_black / max(total, 1), 6), True)]
        except Exception:  # noqa: BLE001 — per-row error path
            return [(ref, doc_id, int(w), int(h), 0.0, False)]

    return map_docs(
        media.filter(F.col("codec").isin("CCITTFaxDecode", "JBIG2Decode"))
        .select("media_ref", "doc_id", "payload", "width", "height",
                "ccitt_k", "blackis1", "codec"),
        ink_row, BILEVEL_SCHEMA)


GRAY_SCHEMA = (
    "media_ref string, doc_id string, width int, height int, "
    "mean_gray double, std_gray double, decode_ok boolean"
)


def grayscale_features(media: DataFrame) -> DataFrame:
    """REAL pixel decode for baseline-JPEG (DCTDecode) media — grayscale
    statistics per image via the engine's T.81 decoder (pdf/jpeg.py) inside
    an Arrow-batched mapInPandas. Non-baseline/color streams land in
    decode_ok=false rows (relaxed philosophy)."""

    def gray_row(ref, doc_id, payload, w, h):
        import numpy as np

        from ..pdf.jpeg import decode_baseline_gray

        try:
            img = decode_baseline_gray(bytes(payload))
            return [(ref, doc_id, int(w), int(h),
                     round(float(np.mean(img)), 4),
                     round(float(np.std(img)), 4), True)]
        except Exception:  # noqa: BLE001 — per-row error path
            return [(ref, doc_id, int(w), int(h), 0.0, 0.0, False)]

    return map_docs(
        media.filter(F.col("codec") == "DCTDecode")
        .select("media_ref", "doc_id", "payload", "width", "height"),
        gray_row, GRAY_SCHEMA)
