"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata.

The decode path is REAL for every library-free format (pure-numpy
BMP / PPM / WAV parsers, a stdlib-zlib PNG decoder, and a baseline
JPEG decoder — Huffman + batched-IDCT, all in ``operators/codecs.py``):
payloads are sniffed by magic bytes, rasters/PCM are decoded and
featurized with numpy only. Formats that genuinely need a codec
library (MP4/compressed audio — none ships in this container) still
route to a clearly-marked ``NotImplementedError`` stub, or to a
deterministic fake when ``use_stub=True`` so the Arrow plumbing stays
testable end-to-end.
Everything Spark-side is real either way: schemas, ``mapInPandas``
batch shape, partition sizing, and the metadata contract.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomalydetector_spark.operators import codecs

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes long, feature array<float>"

_FEATURE_DIM = 8


def _image_features(raster: np.ndarray) -> np.ndarray:
    """8-dim deterministic image descriptor from a decoded HxWx3 uint8
    raster: shape, global mean/std, per-channel means, horizontal
    gradient energy — all /255 except the dims."""
    h, w = raster.shape[:2]
    x = raster.astype(np.float64)
    grad = (
        np.abs(np.diff(x.mean(axis=2), axis=1)).mean() if w > 1 else 0.0
    )
    return np.array(
        [
            h,
            w,
            x.mean() / 255.0,
            x.std() / 255.0,
            x[:, :, 0].mean() / 255.0,
            x[:, :, 1].mean() / 255.0,
            x[:, :, 2].mean() / 255.0,
            grad / 255.0,
        ],
        dtype=np.float32,
    )


def _audio_features(samples: np.ndarray, sample_rate: int) -> np.ndarray:
    """8-dim deterministic audio descriptor from decoded int16 PCM:
    length, rate, mean/rms/min/max (in full-scale units), zero-crossing
    rate, mean absolute first difference."""
    x = samples.astype(np.float64)
    n = len(x)
    if n == 0:
        x = np.zeros(1)
        n = 0
    zcr = float((np.signbit(x[1:]) != np.signbit(x[:-1])).mean()) if len(x) > 1 else 0.0
    return np.array(
        [
            n,
            sample_rate,
            x.mean() / 32768.0,
            np.sqrt((x**2).mean()) / 32768.0,
            x.min() / 32768.0,
            x.max() / 32768.0,
            zcr,
            (np.abs(np.diff(x)).mean() if len(x) > 1 else 0.0) / 32768.0,
        ],
        dtype=np.float32,
    )


def _decode_image(payload: bytes) -> np.ndarray:
    """Decode a library-free image payload (BMP, PPM, 8-bit RGB/RGBA
    PNG, baseline-sequential JPEG, or GIF first-frame) to HxWx3 uint8
    — PNG alpha is dropped and JPEG grayscale is channel-replicated
    (features describe the color raster). Only genuinely codec-bound
    formats (video) remain the marked stub."""
    kind = codecs.sniff(payload)
    if kind == "bmp":
        return codecs.decode_bmp(payload)
    if kind == "ppm":
        return codecs.decode_ppm(payload)
    if kind == "png":
        raster = codecs.decode_png(payload)
        return raster[:, :, :3]
    if kind == "jpeg":
        return codecs.decode_jpeg(payload)
    if kind == "gif":
        return codecs.decode_gif(payload)
    raise NotImplementedError(
        "image decode for this format requires a codec library"
    )


def _decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a codec-free audio payload (PCM-16 WAV) to (samples, rate).
    Compressed audio (MP3/AAC/...) needs a codec library — marked stub."""
    if codecs.sniff(payload) == "wav":
        samples, rate, _channels = codecs.decode_wav(payload)
        return samples, rate
    raise NotImplementedError(
        "audio decode for this format requires a codec library"
    )


def _fake_decode(payload: bytes, dim: int = _FEATURE_DIM) -> np.ndarray:
    """Deterministic fake decoder for formats without a library-free
    parser: stable pseudo-features from payload bytes — keeps the Arrow
    plumbing and batch shapes real in tests."""
    if payload is None or len(payload) == 0:
        return np.zeros(dim, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(arr.astype(np.float64), dim)
    return np.array(
        [c.mean() if len(c) else 0.0 for c in chunks], dtype=np.float32
    ) / 255.0


def _featurize(payload: bytes, use_stub: bool) -> np.ndarray:
    """``use_stub=True`` is the graceful corpus mode: payloads whose
    MAGIC matches a real decoder but whose body the decoder rejects
    (progressive JPEG, palette PNG, truncated anything) fall back to
    the deterministic fake instead of killing the task — a web corpus
    always contains such payloads. ``use_stub=False`` is strict: the
    decoder's ValueError (naming the unsupported mode) propagates."""
    fmt = codecs.sniff(payload)
    try:
        if fmt in ("bmp", "ppm", "png", "jpeg", "gif"):
            return _image_features(_decode_image(payload))
        if fmt == "wav":
            return _audio_features(*_decode_audio(payload))
    except ValueError:
        if use_stub:
            return _fake_decode(payload)
        raise
    if use_stub:
        return _fake_decode(payload)
    # route through the format-appropriate stub so the error names the gap
    raise NotImplementedError(
        "decode for this format requires a codec library"
    )


def extract_features(
    media: DataFrame, use_stub: bool = True, batch_hint: int = 256
) -> DataFrame:
    """Decode + featurize media payloads via ``mapInPandas``.

    Arrow streams binary columns in bounded batches (cap
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of
    images fits executor memory); payloads are dispatched by magic
    bytes: BMP/PPM/PNG/JPEG/GIF → real raster decode + image descriptor,
    WAV → real PCM decode + audio descriptor, anything else →
    deterministic fake (``use_stub=True``) or ``NotImplementedError``
    marking where a codec library goes.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_featurize(p, use_stub) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "feature": [f.tolist() for f in feats],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


VIDEO_META_SCHEMA = (
    "media_id long, duration_ms long, width int, height int, "
    "codec string, n_tracks int"
)


def extract_video_metadata(media: DataFrame) -> DataFrame:
    """REAL video-container metadata via ``mapInPandas``: MP4/ISO-BMFF
    payloads are box-walked (``codecs.parse_mp4_metadata`` — duration,
    track dimensions, sample-entry fourcc, track count) with no sample
    decode; non-MP4 or malformed payloads yield NULL metadata rows so
    the downstream resolution/length/codec filters can quarantine them.
    This is the pipeline's pre-decode gate: clip-length caps, codec
    allowlists, and resolution floors all run on this frame before any
    (codec-library) frame decode is paid for."""

    fields = ("duration_ms", "width", "height", "codec", "n_tracks")

    def meta(p) -> tuple:
        try:
            m = codecs.parse_mp4_metadata(bytes(p) if p is not None else None)
        except ValueError:
            return (None,) * len(fields)
        return tuple(m[f] for f in fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL media_id arrives as NaN: it yields a NULL-id,
            # NULL-metadata row (int(NaN) would raise and kill the task)
            ids = [None if pd.isna(mid) else int(mid) for mid in pdf["media_id"]]
            rows = [
                meta(p) if mid is not None else (None,) * len(fields)
                for mid, p in zip(ids, pdf["payload"])
            ]
            out = pd.DataFrame(rows, columns=list(fields))
            out.insert(0, "media_id", pd.array(ids, dtype="Int64"))
            yield out

    return media.select("media_id", "payload").mapInPandas(
        run, schema=VIDEO_META_SCHEMA
    )


def synth_media(spark, n: int = 100) -> DataFrame:
    """Deterministic media table for tests: image rows carry REAL BMP
    payloads (8x6 raster filled with ``media_id % 251``), audio rows
    REAL PCM-16 WAV payloads (64 samples of constant ``media_id %
    1000``), video rows a REAL minimal MP4 header (ftyp + moov box
    tree with duration ``(media_id % 5)*1000 + 1000`` ms at 64x48 —
    container metadata parses; frame decode stays the marked stub).
    Payload bytes are built in one Arrow batch via mapInPandas;
    metadata is consistent with kind."""
    from pyspark.sql.types import (
        BinaryType, StructField, StructType
    )

    base = spark.range(n).select(
        F.col("id").alias("media_id"),
        (
            F.when(F.pmod("id", F.lit(3)) == 0, "image")
            .when(F.pmod("id", F.lit(3)) == 1, "audio")
            .otherwise("video")
        ).alias("kind"),
    )

    schema = StructType(
        [
            base.schema["media_id"],
            base.schema["kind"],
            StructField("payload", BinaryType()),
        ]
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid, kind in zip(pdf["media_id"], pdf["kind"]):
                if kind == "image":
                    raster = np.full((6, 8, 3), int(mid) % 251, dtype=np.uint8)
                    payloads.append(codecs.encode_bmp(raster))
                elif kind == "audio":
                    pcm = np.full(64, int(mid) % 1000, dtype=np.int16)
                    payloads.append(codecs.encode_wav(pcm, sample_rate=16000))
                else:
                    payloads.append(
                        codecs.build_mp4_header(
                            (int(mid) % 5) * 1000 + 1000, 64, 48
                        )
                    )
            out = pdf.copy()
            out["payload"] = payloads
            yield out

    with_payload = base.mapInPandas(build, schema=schema)
    return with_payload.select(
        "media_id",
        "kind",
        "payload",
        F.when(F.col("kind") == "image", "image/bmp")
        .when(F.col("kind") == "audio", "audio/wav")
        .otherwise("video/mp4")
        .alias("mime"),
        F.when(F.col("kind") == "image", 8).otherwise(64).cast("int").alias("width"),
        F.when(F.col("kind") == "image", 6).otherwise(48).cast("int").alias("height"),
        (F.pmod("media_id", F.lit(5)) * 1000 + 1000).cast("int").alias("duration_ms"),
    )


def sniff_expr(payload) -> "F.Column":
    """``codecs.sniff`` as a pure Catalyst expression over a binary
    column: magic-byte container triage ('bmp' | 'ppm' | 'wav' | 'png'
    | 'jpeg' | 'gif' | 'mp4' | 'unknown') with ZERO Python — on a
    payload table already in parquet this is a codegen projection, so
    the corpus-level "what formats do we hold and how much of each"
    question costs one scan at any scale, and format-targeted decode
    jobs can filter BEFORE any Arrow batch is paid for. Branch order
    matches ``codecs.sniff`` exactly (tested); NULL/short payloads →
    'unknown'."""
    p = payload if not isinstance(payload, str) else F.col(payload)

    def pre(n):
        return F.substring(p, 1, n)

    return (
        F.when(p.isNull() | (F.length(p) < 8), F.lit("unknown"))
        .when(pre(2) == F.lit(b"BM"), F.lit("bmp"))
        .when(pre(2) == F.lit(b"P6"), F.lit("ppm"))
        .when(
            (pre(4) == F.lit(b"RIFF"))
            & (F.substring(p, 9, 4) == F.lit(b"WAVE")),
            F.lit("wav"),
        )
        .when(pre(8) == F.lit(b"\x89PNG\r\n\x1a\n"), F.lit("png"))
        .when(pre(3) == F.lit(b"\xff\xd8\xff"), F.lit("jpeg"))
        .when(
            (pre(6) == F.lit(b"GIF87a")) | (pre(6) == F.lit(b"GIF89a")),
            F.lit("gif"),
        )
        .when(
            (F.length(p) >= 12)
            & (F.substring(p, 5, 4) == F.lit(b"ftyp")),
            F.lit("mp4"),
        )
        .otherwise(F.lit("unknown"))
    )


def media_triage(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Corpus-level container census: one codegen projection + one
    map-side-combined aggregation — ``(container, n_payloads,
    total_bytes)`` per sniffed format. The pre-decode planning query
    of a multimodal pipeline (how many decode tasks of which kind, how
    much I/O each) at zero Python cost."""
    return (
        media.select(
            sniff_expr(payload_col).alias("container"),
            F.coalesce(
                F.length(F.col(payload_col)).cast("long"), F.lit(0)
            ).alias("_bytes"),
        )
        .groupBy("container")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum("_bytes").alias("total_bytes"),
        )
    )
