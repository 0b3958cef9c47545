"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as `binary` columns with a sniffed `media_type`;
decode / feature-extract / resize / frame-sample run as Arrow-batched
mapInPandas stages. All three fixture codecs are REAL and pure
stdlib/NumPy: PNG (effocr_spark.synth.imgcodec), baseline JPEG incl.
4:2:0 AND progressive SOF2 (effocr_spark.synth.jpegcodec), WAV/PCM16
(effocr_spark.synth.wavcodec), MP4/ISO-BMFF box metadata
(effocr_spark.synth.mp4box — dimensions/duration/tracks without any
codec, the fields a curation pipeline filters on). Image decode is
extract.decode_image, the one the OCR stage uses. Compressed audio and
video FRAME decode remain clearly-marked seams (`decode_image` /
`decode_wav` raise NotImplementedError) for real libraries to drop
into — the Spark-side plumbing (schemas, batching, quarantine
semantics, partitioning) is identical either way.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.crops import resize_nn
from ..synth.imgcodec import is_png
from ..synth.wavcodec import decode_wav, is_wav
from .extract import decode_image

MEDIA_FEATURE_SCHEMA = (
    "id long, media_type string, width int, height int, "
    "mean_luma double, ok boolean, error string"
)

AUDIO_FEATURE_SCHEMA = (
    "id long, media_type string, sample_rate int, n_channels int, "
    "duration_s double, rms double, peak int, "
    "frame_rms array<double>, ok boolean, error string"
)


def sniff_media_type(col):
    """JVM-side magic-byte sniff (no Python)."""
    head = F.substring(col, 1, 8)
    return (
        F.when(head == F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])),
               "image/png")
        .when(F.substring(col, 1, 3) == F.lit(b"\xff\xd8\xff"), "image/jpeg")
        .when(F.substring(col, 5, 4) == F.lit(b"jP  "), "image/jp2")
        .when(F.substring(col, 1, 2) == F.lit(b"\xff\x4f"), "image/jp2")
        .when(F.substring(col, 1, 4) == F.lit(b"RIFF"), "audio/wav")
        .when(F.substring(col, 5, 4) == F.lit(b"ftyp"), "video/mp4")
        .otherwise("application/octet-stream")
    )


def media_features(df: DataFrame, id_col: str = "id",
                   media_col: str = "media") -> DataFrame:
    """Decode + featurize media rows (quarantine failures, never crash)."""

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "media_type", "width", "height",
                                   "mean_luma", "ok", "error")}
            for i, b in zip(pdf[id_col], pdf[media_col]):
                data = bytes(b) if b is not None else b""
                if is_png(data):
                    mt = "image/png"
                elif data[:3] == b"\xff\xd8\xff":
                    mt = "image/jpeg"
                elif data[4:8] == b"jP  " or data[:2] == b"\xff\x4f":
                    mt = "image/jp2"
                else:
                    mt = "application/octet-stream"
                try:
                    img = decode_image(data)
                    out["width"].append(img.shape[1])
                    out["height"].append(img.shape[0])
                    out["mean_luma"].append(float(img.mean()))
                    out["ok"].append(True)
                    out["error"].append(None)
                except Exception as e:
                    out["width"].append(0)
                    out["height"].append(0)
                    out["mean_luma"].append(0.0)
                    out["ok"].append(False)
                    out["error"].append(repr(e)[:200])
                out["id"].append(int(i))
                out["media_type"].append(mt)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias("id"), F.col(media_col).alias("media")) \
             .mapInPandas(fe, MEDIA_FEATURE_SCHEMA)


def audio_features(df: DataFrame, id_col: str = "id",
                   media_col: str = "media",
                   frame_ms: int = 100) -> DataFrame:
    """Decode + featurize WAV audio rows: duration / RMS / peak plus
    per-frame RMS energies (the frame-sample plumbing — a windowed
    feature sequence, exactly the shape a real feature extractor like a
    mel filterbank emits). Compressed formats quarantine with the codec's
    NotImplementedError; never crashes the job."""

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "media_type", "sample_rate",
                                   "n_channels", "duration_s", "rms",
                                   "peak", "frame_rms", "ok", "error")}
            for i, b in zip(pdf[id_col], pdf[media_col]):
                data = bytes(b) if b is not None else b""
                mt = "audio/wav" if is_wav(data) else "application/octet-stream"
                try:
                    samples, rate = decode_wav(data)
                    mono = samples.astype(np.float64).mean(axis=1)
                    frame = max(int(rate * frame_ms / 1000), 1)
                    n_frames = len(mono) // frame
                    frames = mono[: n_frames * frame].reshape(n_frames, frame)
                    out["sample_rate"].append(int(rate))
                    out["n_channels"].append(int(samples.shape[1]))
                    out["duration_s"].append(len(mono) / rate)
                    out["rms"].append(float(np.sqrt((mono ** 2).mean()))
                                      if len(mono) else 0.0)
                    out["peak"].append(int(np.abs(samples).max())
                                       if samples.size else 0)
                    out["frame_rms"].append(
                        np.sqrt((frames ** 2).mean(axis=1)).tolist())
                    out["ok"].append(True)
                    out["error"].append(None)
                except Exception as e:
                    for k, v in (("sample_rate", 0), ("n_channels", 0),
                                 ("duration_s", 0.0), ("rms", 0.0),
                                 ("peak", 0), ("frame_rms", [])):
                        out[k].append(v)
                    out["ok"].append(False)
                    out["error"].append(repr(e)[:200])
                out["id"].append(int(i))
                out["media_type"].append(mt)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias("id"), F.col(media_col).alias("media")) \
             .mapInPandas(fe, AUDIO_FEATURE_SCHEMA)


def media_resize(df: DataFrame, size: int, id_col: str = "id",
                 media_col: str = "media") -> DataFrame:
    """Decode → deterministic nearest-neighbor resize → re-encode PNG."""
    from ..synth.imgcodec import encode_png

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs, oks = [], [], []
            for i, b in zip(pdf[id_col], pdf[media_col]):
                try:
                    img = decode_image(bytes(b))
                    blobs.append(encode_png(resize_nn(img, size)))
                    oks.append(True)
                except Exception:
                    blobs.append(None)
                    oks.append(False)
                ids.append(int(i))
            yield pd.DataFrame({"id": ids, "media": blobs, "ok": oks})

    return df.select(F.col(id_col).alias("id"), F.col(media_col).alias("media")) \
             .mapInPandas(rz, "id long, media binary, ok boolean")


VIDEO_META_SCHEMA = (
    "id long, media_type string, brand string, width int, height int, "
    "duration_s double, n_tracks int, handlers array<string>, "
    "ok boolean, error string"
)


def video_metadata(df: DataFrame, id_col: str = "id",
                   media_col: str = "media") -> DataFrame:
    """MP4/ISO-BMFF metadata extraction WITHOUT decoding any sample
    data (synth/mp4box.py box walker): dimensions, duration, track
    count, handler types, brand — the fields a 100 TB curation pipeline
    filters and buckets videos on before any expensive frame decode.
    Non-MP4 / corrupt rows quarantine as ok=False."""
    from ..synth.mp4box import is_mp4, parse_mp4_meta

    def fe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("id", "media_type", "brand", "width",
                                   "height", "duration_s", "n_tracks",
                                   "handlers", "ok", "error")}
            for i, b in zip(pdf[id_col], pdf[media_col]):
                data = bytes(b) if b is not None else b""
                mt = "video/mp4" if is_mp4(data) else "application/octet-stream"
                try:
                    m = parse_mp4_meta(data)
                    out["brand"].append(m["brand"])
                    out["width"].append(m["width"])
                    out["height"].append(m["height"])
                    out["duration_s"].append(m["duration_s"])
                    out["n_tracks"].append(m["n_tracks"])
                    out["handlers"].append(m["handlers"])
                    out["ok"].append(True)
                    out["error"].append(None)
                except Exception as e:
                    for k, v in (("brand", None), ("width", 0),
                                 ("height", 0), ("duration_s", 0.0),
                                 ("n_tracks", 0), ("handlers", [])):
                        out[k].append(v)
                    out["ok"].append(False)
                    out["error"].append(repr(e)[:200])
                out["id"].append(int(i))
                out["media_type"].append(mt)
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias("id"), F.col(media_col).alias("media")) \
             .mapInPandas(fe, VIDEO_META_SCHEMA)
