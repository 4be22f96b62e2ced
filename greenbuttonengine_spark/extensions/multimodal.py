"""Multimodal column support: image/audio/video as opaque binary columns
with typed metadata.

The container has no codec libraries (PIL/librosa/ffmpeg).  Decode is
REAL for PCM16 WAV (``encode_wav``/``decode_wav``, pure numpy); image
features substitute a deterministic fake when ``allow_fake=True`` and
raise NotImplementedError without a codec otherwise.  The Spark-side
plumbing is real and tested either way:

* schema: (id, media binary, media_meta struct<kind,width,height,n_bytes>)
* partition-aware batch processing via mapInPandas (Arrow binary
  batches — the shape a real decoder would consume)
* a pure-numpy feature extractor (byte histogram) standing in for an
  embedding model, vectorized per Arrow batch

At 100 TB: binary payloads dominate row size — keep them OUT of
shuffles (extract features first, then drop the blob), and size
``spark.sql.files.maxPartitionBytes`` so one task's batch of blobs
fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # the real decoder dependency is absent in this environment
    import PIL  # type: ignore  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

HIST_BINS = 16

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_histogram", T.ArrayType(T.DoubleType()), False),
    ]
)


def attach_fake_media(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media: unhex(md5(text) || md5(text||'#2')) — a
    stand-in binary payload with realistic plumbing (binary type + meta
    struct).  The second half salts with concat, NOT reverse(text):
    DuckDB reverses grapheme clusters while Spark reverses codepoints,
    so a reverse-based blob diverges cross-engine on combining marks
    (latent on the ASCII corpus, but the oracle must not depend on it)."""
    blob = F.unhex(
        F.concat(
            F.md5(F.col(text_col)),
            F.md5(F.concat(F.col(text_col), F.lit("#2"))),
        )
    )
    meta = F.struct(
        F.lit("image/fake").alias("kind"),
        F.lit(8).alias("width"),
        F.lit(4).alias("height"),
        F.length(blob).cast("long").alias("n_bytes"),
    )
    return docs.select(F.col(id_col), blob.alias("media"), meta.alias("media_meta"))


def extract_features(
    media: DataFrame, allow_fake: bool = True, id_col: str = "doc_id"
) -> DataFrame:
    """Per-blob feature extraction via mapInPandas (Arrow batches).

    The fake path computes a 16-bin byte histogram with vectorized
    numpy — the same batch shape (binary in, fixed-width array out)
    a real image/audio embedder would use."""
    if not allow_fake and not _HAS_PIL:
        raise NotImplementedError("No codec available and allow_fake=False")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats, sizes = [], []
            for blob in pdf["media"]:
                arr = np.frombuffer(blob, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=HIST_BINS).astype(np.float64)
                feats.append((hist / max(len(arr), 1)).tolist())
                sizes.append(len(arr))
            yield pd.DataFrame(
                {"doc_id": pdf[id_col], "n_bytes": sizes, "byte_histogram": feats}
            )

    return media.select(F.col(id_col), "media").mapInPandas(batches, schema=FEATURE_SCHEMA)


def attach_fake_video_meta(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fake VIDEO metadata: duration/fps derived from the
    text (stable across runs), the binary payload standing in for the
    container bytes.  Real ingestion would read these fields from the
    container header (ffprobe) at write time — the point is the column
    SHAPE: (media binary, media_meta struct with temporal fields)."""
    blob = F.unhex(F.concat(F.md5(F.col(text_col)), F.md5(F.reverse(F.col(text_col)))))
    dur = (F.length(F.col(text_col)) % 300 + 5).cast("double")  # 5..304 s
    fps = (F.length(F.col(text_col)) % 3 * 6 + 12).cast("double")  # 12/18/24
    meta = F.struct(
        F.lit("video/fake").alias("kind"),
        dur.alias("duration_s"),
        fps.alias("fps"),
        F.length(blob).cast("long").alias("n_bytes"),
    )
    return docs.select(F.col(id_col), blob.alias("media"), meta.alias("media_meta"))


def sample_frames(
    media: DataFrame,
    every_n_seconds: float = 10.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frame-sampling PLAN: one row per sampled frame with its
    timestamp and frame index, computed purely from the metadata struct
    (duration, fps) — no decode, pure Catalyst sequence/explode, so the
    blob never enters the explode (it is dropped first; at 100 TB the
    decoded-frame extraction joins back to the blob column by id inside
    the scan-stage mapInPandas decoder).

    Output: (doc_id, sample_idx, t_seconds, frame_idx) — frame_idx =
    floor(t * fps), the exact input a seek-based decoder consumes."""
    n_samples = F.floor(
        F.col("media_meta.duration_s") / F.lit(float(every_n_seconds))
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_samples))
    out = (
        media.select(F.col(id_col), "media_meta")
        .withColumn("sample_idx", idx)
        .withColumn(
            "t_seconds", F.col("sample_idx") * F.lit(float(every_n_seconds))
        )
        .withColumn(
            "frame_idx",
            F.floor(F.col("t_seconds") * F.col("media_meta.fps")).cast("long"),
        )
    )
    return out.select(
        F.col(id_col),
        F.col("sample_idx").cast("long").alias("sample_idx"),
        F.col("t_seconds"),
        "frame_idx",
    )


AUDIO_FRAME = 400  # samples per analysis frame (25 ms at 16 kHz)

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_s", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zero_cross_rate", T.DoubleType(), False),
        T.StructField("frame_rms", T.ArrayType(T.DoubleType()), False),
    ]
)


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Encode a 1-D int16 sample array as a canonical RIFF/WAVE PCM16
    mono file — pure numpy/struct, no codec library."""
    import struct

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE PCM16 mono/stereo blob to (samples float64
    in [-1, 1], sample_rate) — pure numpy chunk walking.  Stereo is
    downmixed by the exact integer mean; float/compressed WAV variants
    raise ValueError so callers fall back to a real codec library."""
    import struct

    if len(blob) < 44 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(blob):
        cid, size = struct.unpack_from("<4sI", blob, pos)
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16 or channels not in (1, 2):
        raise ValueError(
            f"unsupported WAV variant (format={audio_format}, bits={bits}, "
            f"channels={channels})"
        )
    pcm = np.frombuffer(data, dtype="<i2")
    if channels == 2:
        pcm = pcm.reshape(-1, 2).mean(axis=1, dtype=np.float64)
    return np.asarray(pcm, dtype=np.float64) / 32768.0, rate


def audio_features(
    media: DataFrame, id_col: str = "doc_id", frame: int = AUDIO_FRAME
) -> DataFrame:
    """Per-clip audio features via mapInPandas (Arrow batches): RMS
    energy, zero-crossing rate (the cheap voiced/noise discriminator),
    and the per-frame RMS envelope — the slice a speech-data pipeline
    filters on (silence trim, clipping detection, energy-based
    quality buckets) before any model runs.

    Scale shape: identical to :func:`extract_features` — blobs never
    leave the scan-side Python stage, output is O(frames) doubles per
    clip, and partitioning is whatever the upstream source chose (no
    shuffle).  WAV decodes natively; other containers raise inside
    the UDF and should be pre-filtered by media_meta.kind.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "duration_s": [], "rms": [], "zero_cross_rate": [],
                "frame_rms": [],
            }
            for doc_id, blob in zip(pdf[id_col], pdf["media"]):
                samples, rate = decode_wav(blob)
                n = len(samples)
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_s"].append(n / rate)
                out["rms"].append(float(np.sqrt(np.mean(samples**2))) if n else 0.0)
                out["zero_cross_rate"].append(
                    float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
                    if n > 1 else 0.0
                )
                nf = n // frame
                fr = (
                    np.sqrt((samples[: nf * frame].reshape(nf, frame) ** 2).mean(1))
                    if nf else np.zeros(0)
                )
                out["frame_rms"].append(fr.tolist())
            yield pd.DataFrame(out)

    return media.select(F.col(id_col), "media").mapInPandas(
        batches, schema=AUDIO_FEATURE_SCHEMA
    )
