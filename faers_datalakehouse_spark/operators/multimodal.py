"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (for 100 TB media corpora): media lives as an opaque ``binary``
column with a typed metadata struct alongside (modality, codec, dims,
duration). All Spark-side mechanics — schema, partitioning, Arrow batch
shape, UDF signatures — are real and tested; the codec work itself is
STUBBED because image/audio libraries are not in this container:

- ``decode_media``      — per-row decode via ``mapInPandas``. The default
  "codec" is a deterministic fake (parses our own 16-byte header), and any
  real codec raises ``NotImplementedError`` at the single clearly-marked
  point where PIL/ffmpeg would plug in.
- ``sample_frames``     — video-style frame sampling: one output row per
  sampled frame index (deterministic stride), again ``mapInPandas`` so each
  Arrow batch amortizes Python overhead.
- ``extract_features``  — fixed-width feature vector per payload
  (deterministic fake: byte histogram), the shape a real embedding model
  would produce.

Scale notes: ``mapInPandas`` keeps the operator embarrassingly parallel
(no shuffle), streams Arrow batches (bounded memory), and passes binary
columns zero-copy. Partition sizing comes from
``spark.sql.files.maxPartitionBytes`` on the scan side.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("modality", T.StringType(), True),
                    T.StructField("codec", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

MAGIC = b"FDLS"  # deterministic fake container: MAGIC + u16 w + u16 h + u32 frames


def make_fake_payload(width: int, height: int, n_frames: int, fill: int = 0) -> bytes:
    """Deterministic fake media blob (header + tiny body) for tests."""
    header = MAGIC + struct.pack(">HHI", width, height, n_frames)
    body = bytes([(fill + i) % 256 for i in range(32)])
    return header + body


def _decode_header(payload: bytes) -> tuple[int, int, int]:
    if payload is None or len(payload) < 12 or payload[:4] != MAGIC:
        raise ValueError("not a FDLS fake container")
    w, h, n = struct.unpack(">HHI", payload[4:12])
    return w, h, n


def decode_media(df: DataFrame, codec: str = "fake") -> DataFrame:
    """Decode the payload header into typed columns (one row per media).

    ``codec="fake"`` parses the deterministic container; anything else is
    the single integration point for a real decoder.
    """
    # n_frames is LONG: the header stores an unsigned 32-bit count, and a
    # value over 2^31-1 must quarantine per-row, not abort the job at
    # Arrow int32 conversion
    out_schema = "media_id long, width int, height int, n_frames long, ok boolean"

    if codec != "fake":
        # fail at CALL time on the driver — inside the batch loop the
        # error only surfaced as remote task failures, and an empty
        # input silently "succeeded" with an unsupported codec
        raise NotImplementedError(
            f"codec {codec!r}: media libraries not available in this build"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h, n = _decode_header(payload)
                    rows.append((mid, w, h, n, True))
                except ValueError:
                    rows.append((mid, None, None, None, False))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "n_frames", "ok"]
            )

    return df.select("media_id", "payload").mapInPandas(batches, schema=out_schema)


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """One output row per sampled frame index (video frame-sampling
    shape). An undecodable payload emits ONE quarantine row
    (``ok=false``, null frame fields) — matching ``decode_media``'s
    contract, so corrupt media never silently vanishes from counts; a
    valid zero-frame video emits nothing (``ok`` distinguishes them)."""
    out_schema = (
        "media_id long, frame_index long, frame_key string, ok boolean"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    _, _, n = _decode_header(payload)
                except ValueError:
                    rows.append((mid, None, None, False))
                    continue
                for i in range(0, n, every_n):
                    rows.append((mid, i, f"{mid}:{i}", True))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_index", "frame_key", "ok"],
            )

    return df.select("media_id", "payload").mapInPandas(batches, schema=out_schema)


def extract_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Fixed-width feature vector per payload (byte-histogram fake).

    Stands in for an embedding model; output shape (``array<float>`` of
    fixed dim) matches what similarity.py consumes downstream.
    """
    out_schema = f"media_id long, features array<float>"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            mids, feats = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                buf = np.frombuffer(payload or b"", dtype=np.uint8)
                hist = np.zeros(dim, dtype=np.float32)
                if buf.size:
                    binned = np.bincount(buf % dim, minlength=dim).astype(np.float32)
                    hist = binned / buf.size
                mids.append(mid)
                feats.append(hist.tolist())
            yield pd.DataFrame({"media_id": mids, "features": feats})

    return df.select("media_id", "payload").mapInPandas(batches, schema=out_schema)
