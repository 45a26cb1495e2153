"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery is REAL and tested: schema, partition-friendly
batch iteration (mapInPandas), Arrow batch shapes, deterministic feature
extraction plumbing. The codec is ONE deterministic fake: a pure-numpy
"decoder" that derives a fixed-length feature vector from the payload
bytes (splitmix64-seeded), and a resize that reads the payload as a
grayscale grid. Both are pure functions of the bytes, so every downstream
stage (resize → embed → dedup-by-feature) runs and is tested end-to-end
with real Spark plumbing. A real codec replaces the per-batch function
body; the Spark shape does not change.

At 100 TB the pattern matters more than the codec: payloads stay in
``binary`` columns (never strings — no re-encoding), batches flow through
``mapInPandas`` (one Arrow roundtrip per ~10k rows), feature vectors are
fixed-width ``array<float>`` ready for operators/similarity.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA_DDL = (
    "media_id long, kind string, payload binary, "
    "meta map<string,string>"
)
FEATURE_DIM = 32
FEATURES_SCHEMA_DDL = (
    "media_id long, kind string, n_bytes long, feature array<float>"
)


def _fake_decode_features(payloads: pd.Series) -> np.ndarray:
    """Deterministic stand-in decoder: bytes → FEATURE_DIM float32 vector.

    Chunks the payload into FEATURE_DIM buckets and mixes each with
    splitmix64 → uniform [0,1). Pure function of the bytes.
    """
    out = np.zeros((len(payloads), FEATURE_DIM), dtype=np.float32)
    for i, b in enumerate(payloads):
        if b is None or len(b) == 0:
            continue
        a = np.frombuffer(bytes(b), dtype=np.uint8).astype(np.uint64)
        idx = np.arange(len(a), dtype=np.uint64) % FEATURE_DIM
        acc = np.zeros(FEATURE_DIM, dtype=np.uint64)
        np.add.at(acc, idx.astype(np.int64), a * np.uint64(0x9E3779B97F4A7C15))
        x = acc ^ (acc >> np.uint64(30))
        x = (x * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        x ^= x >> np.uint64(27)
        out[i] = (x % np.uint64(1 << 24)).astype(np.float32) / float(1 << 24)
    return out


def decode_features(media: DataFrame) -> DataFrame:
    """media(media_id, kind, payload, meta) → per-item feature vectors.

    mapInPandas: per-partition Arrow batch iteration, no driver involvement,
    embarrassingly parallel — the decode stage's scale shape whatever the
    codec.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _fake_decode_features(pdf["payload"])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(b) if b is not None else 0 for b in pdf["payload"]],
                    "feature": list(feats),
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA_DDL)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling PLUMBING: explode per-item frame indices from
    metadata (``meta['n_frames']``) — the real codec would read those frames;
    the plan shape (explode → per-frame rows → decode batch) is what scales.
    """
    n_frames = F.coalesce(
        F.element_at(F.col("meta"), "n_frames").cast("int"), F.lit(0)
    )
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(idx))
        .select("media_id", "frame_idx", "payload", "meta")
    )


def synth_media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: document text bytes as fake payloads
    (kind round-robins image/audio/video) — drives the plumbing tests."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.map_from_arrays(
            F.array(F.lit("n_frames"), F.lit("source")),
            F.array((F.col("doc_id") % 50 + 1).cast("string"), F.col("source")),
        ).alias("meta"),
    )


RESIZE_SCHEMA_DDL = (
    "media_id long, kind string, out_w int, out_h int, payload_resized binary"
)


def media_resize(
    media: DataFrame, out_w: int = 8, out_h: int = 8
) -> DataFrame:
    """Image resize plumbing: payload → fixed (out_h × out_w) thumbnail.

    The fake codec REALLY resizes — it interprets the payload as a
    grayscale grid (dims from ``meta['width']/['height']``, else a square
    inferred from the byte count; padded with zeros), then block-area
    averages down to (out_h, out_w) uint8 — a pure, deterministic function
    of the bytes, so goldens can pin it. A real decoder slots in where
    noted; the Spark shape is identical either way: mapInPandas over Arrow
    batches, output stays a ``binary`` column (never a string — no
    re-encoding), embarrassingly parallel, no driver involvement.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for b, meta in zip(pdf["payload"], pdf["meta"]):
                raw = np.frombuffer(bytes(b or b""), dtype=np.uint8)
                meta = meta or {}
                w = int(meta.get("width") or 0)
                h = int(meta.get("height") or 0)
                if w <= 0 or h <= 0:
                    side = max(1, int(np.ceil(np.sqrt(max(len(raw), 1)))))
                    w = h = side
                grid = np.zeros(h * w, dtype=np.float64)
                grid[: min(len(raw), h * w)] = raw[: h * w]
                grid = grid.reshape(h, w)
                # block-area average: split rows/cols into out_h/out_w
                # near-equal chunks (exact for divisible dims)
                r_edges = np.linspace(0, h, out_h + 1).astype(int)
                c_edges = np.linspace(0, w, out_w + 1).astype(int)
                thumb = np.zeros((out_h, out_w), dtype=np.uint8)
                for i in range(out_h):
                    r0, r1 = r_edges[i], max(r_edges[i + 1], r_edges[i] + 1)
                    for j in range(out_w):
                        c0, c1 = c_edges[j], max(c_edges[j + 1], c_edges[j] + 1)
                        thumb[i, j] = int(grid[r0:r1, c0:c1].mean())
                outs.append(thumb.tobytes())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "out_w": out_w,
                    "out_h": out_h,
                    "payload_resized": outs,
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, RESIZE_SCHEMA_DDL
    )

