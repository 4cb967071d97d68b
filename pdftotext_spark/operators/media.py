"""Audio/video columns: opaque ``binary`` payloads with typed
metadata, processed through Arrow-batched ``mapInPandas``.

Mirrors the image path (:mod:`pdftotext_spark.operators.multimodal`):
the Spark-side plumbing — schemas, per-batch iteration, sha-dedup
before decode, frame/window fan-out shapes — is real and tested; the
codec step is STUBBED behind deterministic fakes (the container ships
no ffmpeg/libsndfile) and raises ``NotImplementedError`` with
``strict=True``, documenting the production swap-in.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdftotext_spark.sources.shipping import ship_package, trim_import_caches

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # 'audio' | 'video'
        T.StructField("data", T.BinaryType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("start_ms", T.LongType()),
        T.StructField("rms", T.FloatType()),
    ]
)

FRAME_FEATURE_DIM = 8
_FAKE_FPS = 4  # deterministic fake: 4 "frames" per KiB of payload
_FAKE_WINDOW_MS = 1000


def decode_video_frames(
    data: bytes, every_n: int = 1, strict: bool = False
) -> list[tuple[int, int, list[float]]]:
    """STUB — production: ffmpeg/pyav keyframe sampling.

    The deterministic fake derives ``len(data)//1024 + 1`` frames,
    each with a sha256-seeded feature vector, so the fan-out shape
    (one input row → many frame rows) and downstream joins are fully
    exercisable and reproducible."""
    if strict:
        raise NotImplementedError(
            "video codecs not available in this container; install "
            "ffmpeg/pyav and replace decode_video_frames"
        )
    n_frames = len(data) // 1024 + 1
    out = []
    for i in range(0, n_frames, max(1, every_n)):
        h = hashlib.sha256(data + i.to_bytes(4, "big")).digest()
        feat = [round(b / 255.0, 6) for b in h[:FRAME_FEATURE_DIM]]
        out.append((i, i * 1000 // _FAKE_FPS, feat))
    return out


def decode_audio_windows(
    data: bytes, strict: bool = False
) -> list[tuple[int, int, float]]:
    """STUB — production: libsndfile/soundfile PCM decode + windowed
    RMS. Fake: one window per KiB with a byte-mean stand-in for RMS."""
    if strict:
        raise NotImplementedError(
            "audio codecs not available in this container; install "
            "soundfile and replace decode_audio_windows"
        )
    out = []
    for i in range(0, max(len(data), 1), 1024):
        chunk = data[i : i + 1024] or b"\x00"
        rms = round(sum(chunk) / len(chunk) / 255.0, 6)
        out.append((i // 1024, (i // 1024) * _FAKE_WINDOW_MS, rms))
    return out


def _frames_batches(every_n: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in FRAME_SCHEMA.fields}
            for media_id, data in zip(pdf["media_id"], pdf["data"]):
                for idx, ts_ms, feat in decode_video_frames(bytes(data), every_n):
                    rows["media_id"].append(int(media_id))
                    rows["frame_idx"].append(idx)
                    rows["ts_ms"].append(ts_ms)
                    rows["feature"].append(feat)
            yield pd.DataFrame(rows)

    return gen


def frame_sample(media: DataFrame, every_n: int = 1) -> DataFrame:
    """video rows (MEDIA_SCHEMA) → sampled frame features. sha-dedup
    first so each distinct payload decodes once (decode cost ∝
    distinct media, the 100 TB shape)."""
    ship_package(media.sparkSession)
    distinct = media.filter(media.kind == "video").dropDuplicates(["sha256"])
    return distinct.select("media_id", "data").mapInPandas(
        _frames_batches(every_n), FRAME_SCHEMA
    )


def _audio_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    trim_import_caches()
    for pdf in batches:
        rows: dict[str, list] = {k.name: [] for k in AUDIO_WINDOW_SCHEMA.fields}
        for media_id, data in zip(pdf["media_id"], pdf["data"]):
            for idx, start_ms, rms in decode_audio_windows(bytes(data)):
                rows["media_id"].append(int(media_id))
                rows["window_idx"].append(idx)
                rows["start_ms"].append(start_ms)
                rows["rms"].append(rms)
        yield pd.DataFrame(rows)


def audio_windows(media: DataFrame) -> DataFrame:
    """audio rows (MEDIA_SCHEMA) → per-window loudness features."""
    ship_package(media.sparkSession)
    distinct = media.filter(media.kind == "audio").dropDuplicates(["sha256"])
    return distinct.select("media_id", "data").mapInPandas(
        _audio_batches, AUDIO_WINDOW_SCHEMA
    )
